#!/usr/bin/env python3
"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

builds the engine and the harness from source (sbt, offline), prepares the
inputs and their DuckDB answers once (reused until the code or SQL that makes
them changes), runs the workload in one JVM at local[nproc], checks every
output outside the engine, and prints one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Everything it generates goes under
.bench_build/perfbench/ at the root of the checkout.

    python3 perfbench/run.py --prepare --fresh

removes that directory, rebuilds, and remakes every input.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
INPUTS = os.path.join(BUILD, "inputs")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "sf0.01")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the Spark jars the engine's build.sbt compiles against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

WORKLOADS = ("flagship", "custom_export", "query_sweep")
# 100k images, 75 MB: a full flagship pass takes ~2 s at 4 cores, so a run
# holds several passes; writing it takes ~25 s once per checkout.
FIXTURE_IMAGES = 100000
FIXTURE_FILES = 16
# The engine code whose change alters the stored image table.
FIXTURE_CODE = [os.path.join(ENGINE_SRC, "graft", d) for d in ("sources", "functions", "geo")]

# Each run must end within 180 s; the first run in a checkout also builds.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read_text(path):
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return None


def write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


_child = None


def _stop(signum, _frame):
    """Stops the running child before exiting, so none outlives the run."""
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_logged(cmd, logfile, timeout, cwd=ROOT, env=None):
    """Runs cmd to completion (killed at the timeout), output to logfile."""
    global _child
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    with open(logfile, "w") as out:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
            fail(f"{cmd[0]} timed out after {timeout} s; see {logfile}")
        finally:
            _child = None


# ---- build ---------------------------------------------------------------------

def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {ENGINE_SRC}")
    key = tree_hash([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                     os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(BUILD, "build.stamp")
    if read_text(stamp) == key and os.path.isdir(CLASSES):
        return key
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    logfile = os.path.join(BUILD, "logs", "build.log")
    log("building engine and harness (sbt compile)")
    rc = run_logged([sbt, "--batch", "-Dsbt.log.noformat=true", "clean", "compile"], logfile,
                    BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if rc != 0:
        fail(f"build failed; see {logfile}")
    write_text(stamp, key)
    return key


def java_cmd():
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then moves with native memory
    # (metaspace, code cache, threads, off-heap buffers), not with GC sizing
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the engine's own run settings (build.sbt javaOptions)
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.icu.caseMappings.enabled=false",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main"]
    return cmd


# ---- inputs --------------------------------------------------------------------

def prepare(build_key):
    """Makes what is missing or stale: the oracle texts, the image fixture and
    each DuckDB answer. Stamps record what each was made from."""
    import duckdb
    stamps_path = os.path.join(INPUTS, "stamps.json")
    stamps = json.loads(read_text(stamps_path) or "{}")

    def save():
        write_text(stamps_path, json.dumps(stamps, indent=1, sort_keys=True))

    sql_path = os.path.join(INPUTS, "oracle_sql.json")
    if stamps.get("oracle_sql") != build_key or not os.path.exists(sql_path):
        rc = run_logged(java_cmd() + ["sql", "--out", sql_path],
                        os.path.join(BUILD, "logs", "sql.log"), RUN_TIMEOUT_S)
        if rc != 0:
            fail("writing the oracle texts failed")
        stamps["oracle_sql"] = build_key
        save()
    sqls = json.loads(read_text(sql_path))

    fixture = os.path.join(INPUTS, "fixture")
    fixture_key = tree_hash(FIXTURE_CODE, f"{FIXTURE_IMAGES}/{FIXTURE_FILES}")
    if stamps.get("fixture") != fixture_key or not os.path.exists(
            os.path.join(fixture, "data", "_SUCCESS")):
        log(f"writing the {FIXTURE_IMAGES}-image fixture")
        shutil.rmtree(fixture, ignore_errors=True)
        rc = run_logged(java_cmd() + ["fixture", "--dir", fixture,
                                      "--images", str(FIXTURE_IMAGES),
                                      "--files", str(FIXTURE_FILES),
                                      "--local-dir", os.path.join(BUILD, "tmp")],
                        os.path.join(BUILD, "logs", "fixture.log"), 900)
        if rc != 0:
            fail("writing the fixture failed")
        stamps["fixture"] = fixture_key
        save()

    data_key = tree_hash([DATA])
    con = None
    for name, sql in sorted(sqls.items()):
        src_key = fixture_key if name.startswith("fixture/") else data_key
        key = hashlib.sha256((src_key + sql).encode()).hexdigest()
        path = checks.oracle_path(INPUTS, name)
        if stamps.get("answer:" + name) == key and os.path.exists(path):
            continue
        if con is None:
            log("computing DuckDB answers")
            con = checks.connect(DATA, fixture)
        t0 = time.time()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        log(f"  {name}: {time.time() - t0:.1f} s")
        stamps["answer:" + name] = key
        save()
    return fixture


# ---- run -----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="build and prepare the inputs, run nothing")
    ap.add_argument("--fresh", action="store_true",
                    help="remove every build output and input first")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    if not a.prepare and not a.workload:
        ap.error("--workload is required")
    if a.fresh:
        shutil.rmtree(BUILD, ignore_errors=True)
        shutil.rmtree(os.path.join(HERE, "target"), ignore_errors=True)

    key = build()
    fixture = prepare(key)
    if a.prepare:
        return

    out = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = run_logged(java_cmd() + ["run", "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--out", out, "--fixture", fixture, "--data", DATA,
                                  "--local-dir", os.path.join(BUILD, "tmp")],
                    os.path.join(BUILD, "logs", f"{a.workload}.log"), RUN_TIMEOUT_S)
    if rc != 0:
        fail(f"the {a.workload} run failed; see {BUILD}/logs/{a.workload}.log")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    problems = checks.check(a.workload, out, res, INPUTS, DATA, fixture)
    for p in problems:
        log("CHECK FAILED: " + p)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = checks.metrics(a.workload, res, spec["per_layer" if a.trace else "end_to_end"],
                             a.trace)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"], "failed": 0,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
