"""Output checks that do not trust the engine, and the metric lines.

Results are compared with DuckDB answers as exact multisets (EXCEPT ALL in
both directions). Export files are read back with readers outside the
engine: sqlite3, json, csv, xml, DuckDB, and direct reads of the shapefile
.dbf, FlatGeobuf, PMTiles and MVT bytes.
"""
import csv
import glob
import gzip
import json
import os
import sqlite3
import statistics
import struct
import xml.etree.ElementTree as ET

import duckdb

SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
             "events", "documents", "embeddings")


def connect(data, fixture):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='3GB'")
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    con.execute(f"CREATE VIEW images AS SELECT * FROM '{fixture}/data/*.parquet'")
    return con


def oracle_path(inputs, name):
    return os.path.join(inputs, "oracle", name.replace("/", "_") + ".parquet")


def multiset_problems(con, label, engine, oracle):
    """engine and oracle are FROM-clause sources. Problems, or [] if equal."""
    ecols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {engine}").fetchall())
    ocols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {oracle}").fetchall())
    if ecols != ocols:
        return [f"{label}: columns {ecols} != oracle {ocols}"]
    cols = ", ".join(f'"{c}"' for c in ecols)
    a = f"SELECT {cols} FROM {engine}"
    b = f"SELECT {cols} FROM {oracle}"
    extra = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    if extra or missing:
        return [f"{label}: {extra} rows not in the DuckDB answer, {missing} answer rows missing"]
    return []


def parquet_src(d):
    return f"read_parquet('{d}/*.parquet')"


# ---- flagship ------------------------------------------------------------------

def check_flagship(con, out, inputs):
    res = parquet_src(f"{out}/check/flagship")
    p = multiset_problems(con, "flagship", res, f"'{oracle_path(inputs, 'fixture/flagship')}'")
    # decode-verify keeps every extracted image
    ext = parquet_src(f"{out}/check/flagship_extracted")
    dropped = con.execute(
        f"SELECT count(*) FROM (SELECT image_id FROM {ext} EXCEPT SELECT pid FROM {res})"
    ).fetchone()[0]
    if dropped:
        p.append(f"flagship: decode-verify dropped {dropped} extracted images")
    n = con.execute(f"SELECT count(*) FROM {res}").fetchone()[0]
    if n == 0:
        p.append("flagship: empty result")
    return p


# ---- custom_export -------------------------------------------------------------

def dbf_records(path):
    with open(path, "rb") as f:
        head = f.read(8)
    return struct.unpack("<I", head[4:8])[0]


def fgb_features(path):
    """features_count of the FlatGeobuf header (flatbuffer table field 8)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:3] != b"fgb":
        raise ValueError("bad FlatGeobuf magic")
    size = struct.unpack_from("<I", data, 8)[0]
    buf = data[12:12 + size]
    table = struct.unpack_from("<I", buf, 0)[0]
    vtable = table - struct.unpack_from("<i", buf, table)[0]
    vsize = struct.unpack_from("<H", buf, vtable)[0]
    slot = 4 + 2 * 8
    if slot >= vsize:
        return 0
    off = struct.unpack_from("<H", buf, vtable + slot)[0]
    return struct.unpack_from("<Q", buf, table + off)[0] if off else 0


def pmtiles_header(path):
    with open(path, "rb") as f:
        h = f.read(127)
    if h[:7] != b"PMTiles" or h[7] != 3:
        raise ValueError("bad PMTiles magic")
    return {"addressed_tiles": struct.unpack_from("<Q", h, 72)[0],
            "min_zoom": h[100], "max_zoom": h[101]}


def _varint(b, i):
    v = shift = 0
    while True:
        c = b[i]
        i += 1
        v |= (c & 0x7F) << shift
        shift += 7
        if c < 0x80:
            return v, i


def _fields(b):
    """(field number, wire type, value) of one protobuf message."""
    i = 0
    while i < len(b):
        key, i = _varint(b, i)
        fn, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(b, i)
        elif wt == 2:
            n, i = _varint(b, i)
            v, i = b[i:i + n], i + n
        elif wt == 1:
            v, i = b[i:i + 8], i + 8
        elif wt == 5:
            v, i = b[i:i + 4], i + 4
        else:
            raise ValueError(f"wire type {wt}")
        yield fn, wt, v


def mvt_features(tile):
    """Features over all layers of one (possibly gzipped) MVT tile."""
    if tile[:2] == b"\x1f\x8b":
        tile = gzip.decompress(tile)
    n = 0
    for fn, _, layer in _fields(tile):
        if fn == 3:
            n += sum(1 for f, _, _ in _fields(layer) if f == 2)
    return n


def category_oracle(cat):
    kinds = ", ".join(f"'{k}'" for k in cat["kinds"])
    values = ", ".join(f"'{v}'" for v in cat["values"])
    attrs = ", ".join(f"element_at(tags, '{a}')[1] AS \"{a}\"" for a in cat["select"])
    return (f"(SELECT image_id, kind AS osm_type, {attrs}, lon, lat FROM base "
            f"WHERE kind IN ({kinds}) AND element_at(tags, '{cat['key']}')[1] IN ({values}))")


def check_export(con, out, inputs, res):
    p = []
    con.execute(f"CREATE OR REPLACE VIEW base AS SELECT * FROM "
                f"'{oracle_path(inputs, 'fixture/export_base')}'")
    with open(f"{out}/check/categories.json") as f:
        cats = json.load(f)
    root = res["export_dir"]
    for cat in cats:
        name = cat["name"]
        d = f"{root}/{name}"
        oracle = category_oracle(cat)
        n = con.execute(f"SELECT count(*) FROM {oracle}").fetchone()[0]
        if n == 0:
            p.append(f"{name}: the DuckDB answer is empty")
        keep = ["image_id", "osm_type"] + cat["select"] + ["lon", "lat"]
        cols = ", ".join(f'"{c}"' for c in keep)
        p += multiset_problems(con, f"{name}/parquet",
                               f"(SELECT {cols} FROM {parquet_src(d + '/parquet')})", oracle)
        counts = {}
        try:
            with open(f"{d}/geojson/export.geojson") as f:
                counts["geojson"] = len(json.load(f)["features"])
            with open(f"{d}/csv/export.csv", newline="") as f:
                counts["csv"] = sum(1 for _ in csv.reader(f)) - 1
            counts["json"] = con.execute(
                f"SELECT count(*) FROM read_json_auto('{d}/json/*.json')").fetchone()[0]
            counts["parquet"] = con.execute(
                f"SELECT count(*) FROM {parquet_src(d + '/parquet')}").fetchone()[0]
            kml = ET.parse(glob.glob(f"{d}/kml/*.kml")[0]).getroot()
            counts["kml"] = sum(1 for e in kml.iter() if e.tag.endswith("Placemark"))
            counts["shp"] = sum(dbf_records(x) for x in glob.glob(f"{d}/shp/*.dbf"))
            counts["fgb"] = fgb_features(f"{d}/export.fgb")
            with open(f"{d}/export.sql") as f:
                copying, rows = False, 0
                for line in f:
                    if line.startswith("COPY "):
                        copying = True
                    elif line.startswith("\\."):
                        copying = False
                    elif copying:
                        rows += 1
                counts["sql"] = rows
            db = sqlite3.connect(f"{d}/export.gpkg")
            try:
                if db.execute("PRAGMA integrity_check").fetchone()[0] != "ok":
                    p.append(f"{name}/gpkg: integrity_check failed")
                tables = [r[0] for r in db.execute(
                    "SELECT table_name FROM gpkg_contents WHERE data_type = 'features'")]
                counts["gpkg"] = sum(db.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
                                     for t in tables)
            finally:
                db.close()
            db = sqlite3.connect(f"{d}/export.mbtiles")
            try:
                if db.execute("PRAGMA integrity_check").fetchone()[0] != "ok":
                    p.append(f"{name}/mbtiles: integrity_check failed")
                per_zoom = {}
                for z, tile in db.execute("SELECT zoom_level, tile_data FROM tiles"):
                    per_zoom[z] = per_zoom.get(z, 0) + mvt_features(tile)
                tiles = db.execute("SELECT count(*) FROM tiles").fetchone()[0]
            finally:
                db.close()
            if sorted(per_zoom) != [2, 3, 4, 5, 6]:
                p.append(f"{name}/mbtiles: zooms {sorted(per_zoom)} != 2..6")
            for z, k in sorted(per_zoom.items()):
                counts[f"mbtiles_z{z}"] = k
            pm = pmtiles_header(f"{d}/export.pmtiles")
            if pm["addressed_tiles"] != tiles or (pm["min_zoom"], pm["max_zoom"]) != (2, 6):
                p.append(f"{name}/pmtiles: header {pm} vs {tiles} MBTiles tiles")
        except Exception as e:  # a missing or unreadable file is a failed check
            p.append(f"{name}: reading the export failed: {e!r}")
        for fmt, k in sorted(counts.items()):
            if k != n:
                p.append(f"{name}/{fmt}: {k} features, DuckDB category count {n}")
    return p


# ---- query_sweep ---------------------------------------------------------------

def check_sweep(con, out, inputs, res):
    p = []
    for q in res["queries"]:
        p += multiset_problems(con, q, parquet_src(f"{out}/check/{q}"),
                               f"'{oracle_path(inputs, 'sf/' + q)}'")
    return p


def check(workload, out, res, inputs, data, fixture):
    con = connect(data, fixture)
    try:
        if workload == "flagship":
            return check_flagship(con, out, inputs)
        if workload == "custom_export":
            return check_export(con, out, inputs, res)
        return check_sweep(con, out, inputs, res)
    finally:
        con.close()


# ---- metrics -------------------------------------------------------------------

# per-layer metric families that only some workloads exercise; elsewhere 0
WORKLOAD_LAYERS = {"flagship.": "flagship", "export.": "custom_export",
                   "lineage.": "custom_export", "query.": "query_sweep",
                   "sweep.": "query_sweep"}


def metrics(workload, res, spec, trace):
    """The metric lines of `spec` (BENCHMARK.json's end_to_end or per_layer)."""
    if trace:
        values = dict(res["per_layer"])
        for m in spec:
            owner = next((w for pre, w in WORKLOAD_LAYERS.items()
                          if m["name"].startswith(pre)), workload)
            if owner != workload:
                values[m["name"]] = 0.0
            elif m["name"] not in values:
                raise SystemExit(f"perfbench: the traced run did not report {m['name']}")
    else:
        values = {"setup_s": res["setup_s"], "cold_s": res["cold_s"],
                  "pass_s": statistics.median(res["passes_s"]),
                  "peak_rss_mb": res["peak_rss_mb"]}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
