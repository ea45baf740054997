package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out when the run ends. Each span has a
  * name, a start, an end and the span that was open when it started. Spans
  * are recorded only on the harness thread, around calls into the engine's
  * layers. With tracing off `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  private def dur(s: Span): Long = s.end - s.start

  /** Self time summed over the spans of `name`: each span's duration minus
    * the part its children cover. */
  def selfSeconds(name: String): Double = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.name == name).map { s =>
      dur(s) - children.getOrElse(s.id, Nil).map(dur).sum
    }.sum / 1e9
  }

  def names: Seq[String] = spans.map(_.name).distinct.sorted.toSeq

  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}""")
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final class Span(val id: Int, val parent: Int, val name: String, val start: Long, var end: Long)
}

/** Execution totals from task-end events: the `exec.*` and `sources.*`
  * per-layer metrics. Events arrive on the listener-bus thread; read the
  * totals only after [[org.apache.spark.PerfbenchBus.drain]]. */
final class ExecStats extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var runMs, cpuNs, gcMs, shuffleWrite, spill, inputBytes, inputRows = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
    }
  }

  def metrics: Seq[(String, Double)] = Seq(
    "exec.jobs" -> jobs.toDouble,
    "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.task_run_s" -> runMs / 1e3,
    "exec.task_cpu_s" -> cpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "exec.shuffle_write_mb" -> shuffleWrite / 1e6,
    "exec.spill_mb" -> spill / 1e6,
    "sources.scan_mb" -> inputBytes / 1e6,
    "sources.rows_scanned" -> inputRows.toDouble)
}

/** Catalyst phase times of every query execution the session reports, plus
  * the eager analysis of the frames the harness builds (added by the caller
  * through [[add]]). */
final class CatalystStats extends QueryExecutionListener {
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      totals.merge(phase, s.durationMs.toDouble, (a: Double, b: Double) => a + b)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def metrics: Seq[(String, Double)] = Seq(
    "catalyst.analysis_ms" -> totals.getOrDefault("analysis", 0.0),
    "catalyst.optimization_ms" -> totals.getOrDefault("optimization", 0.0),
    "catalyst.planning_ms" -> totals.getOrDefault("planning", 0.0))
}

/** Spark's process-wide codegen histograms. Each keeps a reservoir of 1028
  * samples, so sums and counts over the reservoir are exact while a process
  * has compiled fewer classes and methods than that, and sampled beyond. */
final case class CodegenSnapshot(classes: Long, compileMs: Seq[Long],
    methodBytes: Seq[Long])

object CodegenSnapshot {
  def take(): CodegenSnapshot = CodegenSnapshot(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.toSeq,
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getValues.toSeq)

  /** HotSpot does not JIT-compile a method over 8000 bytecode bytes
    * (-XX:HugeMethodLimit); it stays in the interpreter. */
  val HugeMethodLimit = 8000L

  def metrics(before: CodegenSnapshot, after: CodegenSnapshot): Seq[(String, Double)] = Seq(
    "codegen.classes" -> (after.classes - before.classes).toDouble,
    "codegen.compile_ms" -> (after.compileMs.sum - before.compileMs.sum).toDouble,
    "codegen.max_method_bytes" -> (if (after.methodBytes.isEmpty) 0.0
      else after.methodBytes.max.toDouble),
    "codegen.methods_over_8k" ->
      (after.methodBytes.count(_ > HugeMethodLimit) -
        before.methodBytes.count(_ > HugeMethodLimit)).toDouble)
}

/** Everything the traced run collects besides the workload's own spans. */
final class Probes(spark: SparkSession) {
  val exec = new ExecStats
  val catalyst = new CatalystStats
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(catalyst)
  val codegenBefore: CodegenSnapshot = CodegenSnapshot.take()

  def metrics(): Seq[(String, Double)] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    catalyst.metrics ++ CodegenSnapshot.metrics(codegenBefore, CodegenSnapshot.take()) ++
      exec.metrics
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

}
