package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one run hands to the checker: operation counts, end-to-end and
  * per-layer metrics, the oracle SQL of the gates it ran and the spans
  * of its traced passes. Spans stay in memory until [[write]].
  */
final class Result {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val context = mutable.LinkedHashMap.empty[String, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  var oracle = Map.empty[String, String]
  private var setupMs = 0.0

  def fail(why: String): Unit = {
    System.err.println(s"[perfbench] failed: $why")
    failures += why
  }
  def metric(k: String, v: Double): Unit = metrics(k) = v
  def layer(k: String, v: Double): Unit = layers(k) = v

  /** Times `body` into `setup_s`. */
  def setup[T](body: => T): T = {
    val t0 = Span.nowMs
    try body finally setupMs += Span.nowMs - t0
  }

  def write(dir: String): Unit = {
    import Result.{num, str}
    metric("setup_s", setupMs / 1e3)
    // every per-layer metric is printed on every workload; a layer the
    // workload does not drive did no work in it
    if (layers.nonEmpty) Result.LayerNames.foreach(k => if (!layers.contains(k)) layer(k, 0.0))
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val json = Seq(
      s""""attempted":$attempted""",
      s""""failures":${failures.map(str).mkString("[", ",", "]")}""",
      s""""metrics":${obj(metrics)}""",
      s""""layers":${obj(layers)}""",
      s""""context":${context.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}""",
      s""""oracle":${oracle.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}"""
    ).mkString("{", ",", "}")
    Files.write(Paths.get(dir, "result.json"), json.getBytes(UTF_8))
    val lines = spans.map { s =>
      s"""{"id":${str(s.id)},"parent":${str(s.parent)},"trace":${str(s.trace)},""" +
        s""""layer":${str(s.layer)},"name":${str(s.name)},"start_ms":${num(s.startMs)},""" +
        s""""end_ms":${num(s.endMs)},"attrs":${obj(s.attrs)}}"""
    }
    Files.write(Paths.get(dir, "spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Result {
  /** Engine counters summed from the listener, reported per traced pass. */
  val EngineCounters: Seq[String] = Seq("jobs", "stages", "tasks", "sched_delay_s", "task_s",
    "task_cpu_s", "gc_s", "failed_tasks", "shuffle_read_mb", "shuffle_write_mb", "fetch_wait_s",
    "spill_mb", "ckpt_mb", "ckpt_blocks", "plan_ms", "actions")

  val StreamLayers: Seq[String] = Seq("triggers", "rows_per_trigger", "trigger_ms", "add_batch_ms",
    "query_planning_ms", "source_ms", "log_commit_ms", "state_rows", "state_mb",
    "state_commit_ms", "state_update_ms", "backlog_events", "gen_late_ms")

  val LayerNames: Seq[String] =
    Batch.AllGates.flatMap(g => Seq(s"gate_s.$g", s"jobs.$g", s"driver_gap_s.$g")) ++
      Seq("build_s", "action_s", "job_active_s", "driver_gap_s", "task_util") ++ EngineCounters ++
      StreamLayers ++ Seq("self_s.pass", "self_s.call", "self_s.job", "self_s.stage",
        "trace_overhead_frac")

  /** Full GC, then the heap still in use, in MB. */
  def fullGc(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val r = p / 100 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
