package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.GeoCols
import graft.geo.{Fixtures, MultiPolygon, Polygon, Pt, Ring}
import graft.model.{Category, GeomType}
import graft.operators.{Multimodal, SpatialJoin}
import graft.plan.{CustomExport, PlanBuilder}
import graft.sources.ImageFixture

/** The benchmark's JVM side. `run.py` drives it:
  *
  *  - `sql --out F`: the DuckDB oracle texts (SparkEntry.oracleSql and the
  *    fixture queries below) as one JSON object;
  *  - `fixture --dir D --images N`: writes the image table with
  *    ImageFixture.write;
  *  - `run --workload W ...`: sets up, times the workload, writes the outputs
  *    the checks read and a `result.json` with the raw figures;
  *  - `count-gap --data D --fixture F`: the count() finding of the README.
  *
  * The engine is called only through its public functions; every timed
  * operation materializes all columns of its result (Spark's `noop` sink or
  * the export's own files), never `count()`.
  */
object Main {

  /** The bulk-export request polygon of the flagship job: a 24-vertex star
    * around (0, 0) covering about three quarters of the derived-location
    * mass (the same construction as graft.Bench.benchPolygon). */
  val flagshipPolygon: Polygon = {
    val rng = new Fixtures.Lcg(2024L)
    val pts = Array.tabulate(24) { i =>
      val ang = 2 * math.Pi * i / 24
      val r = 0.72 + 0.22 * rng.nextDouble()
      Pt(170.0 * r * math.cos(ang), 82.0 * r * math.sin(ang))
    }
    Polygon(Ring(pts))
  }

  val exportPolygon: MultiPolygon = MultiPolygon(Seq(Fixtures.requestPolygon))

  val Formats: Seq[String] = Seq("geojson", "parquet", "csv", "json", "shp", "kml",
    "fgb", "sql", "gpkg", "pmtiles", "mbtiles")

  def main(argv: Array[String]): Unit = {
    val opts = argv.drop(1).grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    argv.headOption match {
      case Some("sql") =>
        write(Paths.get(opts("out")), Json.obj(oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) }))
      case Some("fixture") =>
        val spark = Session.build(opts("local-dir"))
        try ImageFixture.write(spark, opts("images").toLong, opts("dir"),
          partitions = opts("files").toInt)
        finally spark.stop()
      case Some("run") => Workloads.run(opts)
      case Some("count-gap") => Workloads.countGap(opts)
      case _ =>
        System.err.println("usage: Main sql|fixture|run|count-gap --key value ...")
        sys.exit(2)
    }
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  // ---- oracle texts ------------------------------------------------------------

  /** The flagship job in DuckDB over the stored image table (view `images`):
    * the kind-aware intersect with the request polygon, the brute-force
    * union of per-region raycasts and the z 2–6 tile explode. No decode: the
    * fixture's payloads all verify, so decode-verify must drop nothing. */
  def flagshipSql: String = {
    val hit = GeoCols.featureIntersectsRingsSql(MultiPolygon(Seq(flagshipPolygon)),
      "kind", "lon", "lat", "rings")
    val branches = Fixtures.regions.map { r =>
      s"SELECT pid, ${r.cid} AS cid FROM fp WHERE ${GeoCols.pipSql(r.poly, "lon", "lat")}"
    }.mkString(" UNION ALL ")
    val tiles = (2 to 6).map { z =>
      s"SELECT pid, $z AS z, ${GeoCols.tileXSql(z, "lon")} AS tx, " +
        s"${GeoCols.tileYSql(z, "lat")} AS ty FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH fp AS (SELECT image_id AS pid, lon, lat FROM images WHERE $hit),
       |m AS ($branches),
       |agg AS (SELECT pid, array_to_string(list_sort(list_distinct(array_agg(cid))), ',') AS c
       |        FROM m GROUP BY pid),
       |a AS (SELECT fp.pid AS pid, COALESCE(agg.c, '0') AS cids
       |      FROM fp LEFT JOIN agg ON fp.pid = agg.pid),
       |t AS ($tiles)
       |SELECT t.pid AS pid, a.cids AS cids, t.z AS z, t.tx AS tx, t.ty AS ty
       |FROM t JOIN a ON t.pid = a.pid""".stripMargin
  }

  /** The export's staged extract in DuckDB: features of the image table
    * that intersect the request polygon. The per-category filters are
    * applied to this by the checker. */
  def exportBaseSql: String = {
    val hit = GeoCols.featureIntersectsRingsSql(exportPolygon, "kind", "lon", "lat", "rings")
    s"SELECT image_id, kind, lon, lat, tags FROM images WHERE $hit"
  }

  def oracleSql: Map[String, String] =
    Workloads.SweepQueries.map(q => s"sf/$q" -> SparkEntry.oracleSql(q)).toMap ++ Map(
      "fixture/flagship" -> flagshipSql,
      "fixture/export_base" -> exportBaseSql)

  // ---- workload plans ----------------------------------------------------------

  /** The flagship job: kind-aware polygon extract → PNG/JPEG decode with phash
    * verify → broadcast region assignment → tile explode for z 2–6. Returns
    * each step's frame, so the traced run can time the prefixes. */
  def flagshipSteps(spark: SparkSession, images: DataFrame, t: Tracer): Seq[(String, DataFrame)] = {
    val extracted = t.span("plan.PlanBuilder.geometryFilter") {
      images.filter(PlanBuilder.geometryFilter(MultiPolygon(Seq(flagshipPolygon)),
        col("kind"), col("lon"), col("lat"), col("cell"), col("rings")))
        .select(col("image_id"), col("lon"), col("lat"), col("cell"),
          col("bytes"), col("phash"))
    }
    val decoded = t.span("operators.Multimodal.verifyPayloadLite") {
      Multimodal.verifyPayloadLite(extracted)
        .filter(col("phash_hamming") <= 8)
        .select(col("image_id").as("pid"), col("lon"), col("lat"), col("cell"))
    }
    val assigned = t.span("operators.SpatialJoin.assignRegionsKeep") {
      SpatialJoin.assignRegionsKeep(spark, decoded, keep = Seq("lon", "lat"))
    }
    val tiled = t.span("operators.SpatialJoin.tileAssign") {
      SpatialJoin.tileAssign(assigned, 2, 6)
        .select(col("pid"), col("cids"), col("z"), col("tx"), col("ty"))
    }
    Seq("extract" -> extracted, "decode" -> decoded, "assign" -> assigned, "tile" -> tiled)
  }

  /** One export category: features of `kind` whose tag `key` takes one of
    * `values`, with `key` and `name` as attributes. */
  final case class CategorySpec(name: String, kind: GeomType, key: String, values: Seq[String]) {
    def category: Category = Category(name, Seq(kind), Seq(key, "name"),
      Some(s"tags['$key'] IN (${values.map(v => s"'$v'").mkString(", ")})"))

    def json: String = Json.obj(Seq(
      "name" -> Json.str(name),
      "kinds" -> Json.arr(Seq(Json.str(CustomExport.kindName(kind)))),
      "select" -> Json.arr(category.select.map(Json.str)),
      "key" -> Json.str(key),
      "values" -> Json.arr(values.map(Json.str))))
  }

  /** Three export categories. The seed picks which two of the four values of
    * each category's key the where-DSL keeps (the values are equally
    * frequent, so every seed exports about half of each kind). */
  def categories(seed: Long): Seq[CategorySpec] = {
    val rng = new scala.util.Random(seed)
    def pick(vs: String*): Seq[String] = rng.shuffle(vs).take(2).sorted
    Seq(
      CategorySpec("buildings", GeomType.Polygon, "building", pick("yes", "no", "school", "residential")),
      CategorySpec("roads", GeomType.Line, "highway", pick("residential", "primary", "footway", "tertiary")),
      CategorySpec("pois", GeomType.Point, "amenity", pick("shop", "toilet", "school", "cafe")))
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      // CustomExport.processCategories runs each category on its own FAIR pool
      .config("spark.scheduler.mode", "FAIR")
      // the input-split and AQE sizes of graft.Bench's session
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (8 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
