package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.SparkEntry
import graft.functions.DotProductExpr
import graft.geo.{Cell, Geo}
import graft.operators.{Dedup, Multimodal}
import graft.plan.CustomExport
import graft.sources.ImageFixture

/** The three workloads. Each sets up once (JVM and Spark boot, a
  * SparkContext and its input tables), runs one cold pass, then warm passes
  * until `--seconds` have gone by. The traced run adds the per-layer
  * figures. */
object Workloads {

  final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, fixture: String, data: String, localDir: String) {
    val tracer = new Tracer(trace)
  }

  def run(o: Map[String, String]): Unit = {
    val c = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("out"), o("fixture"), o("data"), o("local-dir"))
    Files.createDirectories(Paths.get(c.out))
    c.workload match {
      case "flagship" => flagship(c)
      case "custom_export" => customExport(c)
      case "query_sweep" => querySweep(c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  // ---- shared pieces -----------------------------------------------------------

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs the full plan and drops the rows: every column is computed. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A fresh SparkContext and the workload's inputs; the set-up time runs
    * from JVM start, so it includes JVM and Spark boot. */
  def setUp[T](c: Ctx)(inputs: SparkSession => T): (SparkSession, T, Double) = {
    val spark = Session.build(c.localDir)
    val in = inputs(spark)
    (spark, in, (System.currentTimeMillis() - Main.jvmStartMs) / 1e3)
  }

  /** Warm passes until the window closes, at least `minPasses`. */
  def window(c: Ctx, minPasses: Int = 1)(pass: Int => Double): Seq[Double] = {
    val end = System.nanoTime() + (c.seconds * 1e9).toLong
    val xs = ArrayBuffer.empty[Double]
    while (xs.size < minPasses || System.nanoTime() < end) xs += pass(xs.size + 1)
    xs.toSeq
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def writeResult(c: Ctx, spark: SparkSession, setup: Double, cold: Double,
      passes: Seq[Double], attempted: Long, rssMb: Double,
      perLayer: Seq[(String, Double)], info: Seq[(String, String)]): Unit = {
    if (c.trace) c.tracer.write(s"${c.out}/spans.jsonl")
    val spanSelf = if (!c.trace) Nil
      else Seq("span_self_s" -> Json.obj(c.tracer.names.map(n => n -> Json.num(c.tracer.selfSeconds(n)))))
    val json = Json.obj(Seq(
      "workload" -> Json.str(c.workload),
      "cores" -> Session.cores.toString,
      "setup_s" -> Json.num(setup),
      "cold_s" -> Json.num(cold),
      "passes_s" -> Json.arr(passes.map(Json.num)),
      "attempted" -> attempted.toString,
      "peak_rss_mb" -> Json.num(rssMb),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) })) ++
      spanSelf ++ info)
    Main.write(Paths.get(s"${c.out}/result.json"), json)
    spark.stop()
  }

  // ---- kernels (traced run) ----------------------------------------------------

  /** Median over rounds of the per-call time of `body(i)` for i in [0, calls). */
  private def perCallNs(calls: Int, rounds: Int = 7)(body: Int => Long): (Double, Long) = {
    var sink = 0L
    val xs = (0 until rounds + 2).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { sink ^= body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }.drop(2) // the first rounds run before the JIT has compiled the kernel
    (median(xs), sink)
  }

  /** Direct calls on seeded inputs: the pure kernels under the flagship's
    * extract, bucket and decode steps, the vector dot product, and the minhash
    * signature pass. */
  def kernels(c: Ctx, spark: SparkSession): Seq[(String, Double)] = c.tracer.span("kernels") {
    val rng = new scala.util.Random(c.seed)
    val n = 100000
    val lon = Array.fill(n)(rng.nextDouble() * 360 - 180)
    val lat = Array.fill(n)(rng.nextDouble() * 170 - 85)
    val poly = Main.flagshipPolygon
    val (pip, s1) = perCallNs(n)(i => if (Geo.pointInPolygon(lon(i), lat(i), poly)) 1L else 0L)
    val (cell, s2) = perCallNs(n)(i => Cell.cellAt(7, lon(i), lat(i)))
    val base = (c.seed.abs % 1000000L) * 1000L
    val pngs = (0L until 3000L).map(i => ImageFixture.row(base + i))
      .filter(_.fmt == "png").map(_.bytes).toArray
    val (png, s3) = perCallNs(pngs.length)(i => Multimodal.payloadInfo(pngs(i))._3)
    val dims = 64
    val vecs = Array.fill(512)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(dims)(rng.nextFloat() * 2 - 1)))
    val ref = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true)
    val dot = DotProductExpr(dims, ref, ref)
    val (dotNs, s4) = perCallNs(n)(i =>
      java.lang.Double.doubleToRawLongBits(
        dot.invoke(vecs(i & 511), vecs((i * 7 + 3) & 511)).asInstanceOf[Double]))
    val docs = spark.read.parquet(s"${c.data}/documents.parquet")
    val sig = (0 until 4).map(_ => seconds(materialize(Dedup.signatures(docs)))).drop(1)
    if ((s1 ^ s2 ^ s3 ^ s4) == 42L) println("") // keeps the kernel results live
    Seq("kernel.pip_ns" -> pip, "kernel.cell_ns" -> cell,
      "kernel.png_payload_us" -> png / 1e3, "kernel.dot_ns" -> dotNs,
      "dedup.signatures_s" -> median(sig))
  }

  // ---- flagship ----------------------------------------------------------------

  def flagship(c: Ctx): Unit = {
    val t = c.tracer
    val (spark, images, setup) = setUp(c) { s =>
      val df = ImageFixture.read(s, c.fixture)
      df.schema
      df
    }
    val probes = if (c.trace) Some(new Probes(spark)) else None
    def pass(): Double = t.span("flagship.pass") {
      val steps = Main.flagshipSteps(spark, images, t)
      probes.foreach(_.catalyst.add(steps.last._2.queryExecution))
      seconds(t.span("exec.noop") { materialize(steps.last._2) })
    }
    val cold = pass()
    val passes = window(c)(_ => pass())
    val rss = Main.peakRssMb()
    val layer = probes.map(_.metrics()).getOrElse(Nil) ++ (if (!c.trace) Nil else {
      // self time of each step: the difference between materialized prefixes
      val prefix = (0 until 3).map { _ =>
        Main.flagshipSteps(spark, images, new Tracer(false)).map { case (name, df) =>
          name -> t.span(s"flagship.prefix.$name") { seconds(materialize(df)) }
        }.toMap
      }
      val med = Seq("extract", "decode", "assign", "tile")
        .map(k => k -> median(prefix.map(_(k)))).toMap
      Seq("flagship.extract_s" -> med("extract"),
        "flagship.decode_s" -> (med("decode") - med("extract")),
        "flagship.assign_s" -> (med("assign") - med("decode")),
        "flagship.tile_s" -> (med("tile") - med("assign"))) ++ kernels(c, spark)
    })
    // outputs for the checks, written after the timed passes
    val steps = Main.flagshipSteps(spark, images, new Tracer(false))
    steps.last._2.write.parquet(s"${c.out}/check/flagship")
    steps.head._2.select(col("image_id")).write.parquet(s"${c.out}/check/flagship_extracted")
    writeResult(c, spark, setup, cold, passes, 1L + passes.size, rss, layer, Nil)
  }

  // ---- custom_export -----------------------------------------------------------

  def customExport(c: Ctx): Unit = {
    val t = c.tracer
    val specs = Main.categories(c.seed)
    val cats = specs.map(_.category)
    val (spark, images, setup) = setUp(c) { s =>
      val df = ImageFixture.read(s, c.fixture)
      df.schema
      df
    }
    val probes = if (c.trace) Some(new Probes(spark)) else None
    val root = s"${c.out}/export"
    var counts = Map.empty[String, Long]
    def pass(i: Int): Double = {
      val dt = t.span("export.request") {
        seconds {
          counts = t.span("plan.CustomExport.processCategories") {
            CustomExport.processCategories(spark, images, Some(Main.exportPolygon), cats,
              s"$root/staging$i", s"$root/out$i", formats = Main.Formats)
          }
        }
      }
      // the previous request's files are removed outside the timed call
      if (i > 0) { deleteTree(s"$root/out${i - 1}"); deleteTree(s"$root/staging${i - 1}") }
      dt
    }
    val cold = pass(0)
    val passes = window(c)(pass)
    val rss = Main.peakRssMb()
    val last = s"$root/out${passes.size}"
    val layer = probes.map(_.metrics()).getOrElse(Nil) ++ (if (!c.trace) Nil else {
      val stage = (0 until 3).map { k =>
        val dir = s"$root/trace_stage$k"
        deleteTree(dir)
        t.span("plan.CustomExport.stage") {
          seconds(CustomExport.stage(spark, images, Some(Main.exportPolygon), dir))
        }
      }
      val staged = spark.read.parquet(s"$root/trace_stage2")
      val perFormat = Main.Formats.flatMap { f =>
        val dir = s"$root/trace_fmt/$f"
        val s = t.span(s"sinks.$f") {
          cats.map { cat =>
            seconds(CustomExport.writeFormat(CustomExport.extractCategory(staged, cat),
              f, s"$dir/${cat.name}", cat.name))
          }.sum
        }
        Seq(s"export.${f}_s" -> s, s"export.${f}_mb" -> dirBytes(dir) / 1e6)
      }
      val lineageDirs = {
        val w = Files.walk(Paths.get(last))
        try w.iterator().asScala.filter(p => Files.isDirectory(p) &&
          p.getFileName.toString == "lineage").map(_.toString).toSeq
        finally w.close()
      }
      val parts = lineageDirs.map(d =>
        spark.read.parquet(d).filter(col("status") === "committed").count()).sum
      Seq("export.stage_s" -> median(stage),
        "export.stage_mb" -> dirBytes(s"$root/trace_stage2") / 1e6,
        "export.out_mb" -> dirBytes(last) / 1e6,
        "lineage.parts_committed" -> parts.toDouble) ++ perFormat ++ kernels(c, spark)
    })
    Main.write(Paths.get(s"${c.out}/check/categories.json"),
      Json.arr(specs.map(_.json)))
    val info = Seq(
      "export_dir" -> Json.str(last),
      "export_out_mb" -> Json.num(dirBytes(last) / 1e6),
      "category_counts" -> Json.obj(counts.toSeq.sorted.map { case (k, v) => k -> v.toString }))
    writeResult(c, spark, setup, cold, passes, 1L + passes.size, rss, layer, info)
  }

  // ---- query_sweep -------------------------------------------------------------

  /** The sweep's queries by family: 16 of the 49 SparkEntry.queries, every
    * operator and family represented. All 49, cold and warm, take ~70 s per
    * run on 4 cores, more than the whole benchmark's time allows. */
  val SweepFamilies: Seq[(String, Seq[String])] = Seq(
    "geo" -> Seq("flagship_entry", "geo_region_join", "geo_knn", "geo_pip",
      "polygon_stats", "f16_where_dsl"),
    "text" -> Seq("lang_id", "tag_or", "dedup_minhash_lsh", "dedup_simhash", "dedup_jaccard"),
    "vector" -> Seq("ann_cosine", "ann_ivf", "embed_neardup_lsh"),
    "relational" -> Seq("q3_join", "w1_window"))

  /** A warm sweep pass is a single sum per run; two of them halve its noise. */
  val SweepWarmPasses = 2

  val SweepQueries: Seq[String] = SweepFamilies.flatMap(_._2).sorted

  def querySweep(c: Ctx): Unit = {
    val t = c.tracer
    val (spark, _, setup) = setUp(c)(_ => ())
    val probes = if (c.trace) Some(new Probes(spark)) else None
    // each execution writes the result as parquet, the output the checks read
    def runQuery(q: String): Double = t.span(s"query.$q") {
      seconds {
        val df = SparkEntry.queries(q)(spark, c.data)
        probes.foreach(_.catalyst.add(df.queryExecution))
        t.span("exec.write") { df.write.mode("overwrite").parquet(s"${c.out}/check/$q") }
      }
    }
    // every pass runs all queries, in an order drawn from the seed
    def pass(i: Int): Map[String, Double] =
      new scala.util.Random(c.seed * 1000003L + i).shuffle(SweepQueries)
        .map(q => q -> runQuery(q)).toMap
    val cold = pass(0)
    val warm = ArrayBuffer.empty[Map[String, Double]]
    val passes = window(c, SweepWarmPasses) { i => val p = pass(i); warm += p; p.values.sum }
    val rss = Main.peakRssMb()
    val perQuery = SweepQueries.map(q => q -> median(warm.map(_(q)).toSeq)).toMap
    val layer = probes.map(_.metrics()).getOrElse(Nil) ++ (if (!c.trace) Nil else {
      SweepQueries.map(q => s"query.${q}_s" -> perQuery(q)) ++
        SweepFamilies.map { case (f, qs) => s"sweep.${f}_s" -> qs.map(perQuery).sum } ++
        kernels(c, spark)
    })
    writeResult(c, spark, setup, cold.values.sum, passes,
      SweepQueries.size.toLong * (1 + passes.size), rss, layer,
      Seq("queries" -> Json.arr(SweepQueries.map(Json.str))))
  }

  // ---- count() versus the full result -----------------------------------------

  /** Prints the optimized plan of the flagship frame under `count()` next to
    * the plan of the full result, and the median wall time of `count()`
    * against the noop sink for a few queries: Catalyst prunes from a count
    * every column the count does not need. */
  def countGap(o: Map[String, String]): Unit = {
    val spark = Session.build(o("local-dir"))
    val images = ImageFixture.read(spark, o("fixture"))
    val full = Main.flagshipSteps(spark, images, new Tracer(false)).last._2
    println("== flagship, full result ==")
    println(full.queryExecution.optimizedPlan.treeString)
    println("== flagship, count() ==")
    println(full.groupBy().count().queryExecution.optimizedPlan.treeString)
    def med(body: => Unit): Double = median((0 until 4).map(_ => seconds(body)).drop(1))
    for (q <- Seq("geo_region_join", "lang_id", "dedup_jaccard", "dedup_simhash")) {
      val df = () => SparkEntry.queries(q)(spark, o("data"))
      val c = med(df().count())
      val n = med(materialize(df()))
      println(f"$q%-16s count() $c%.2f s  noop $n%.2f s")
    }
    spark.stop()
  }
}
