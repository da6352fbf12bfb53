package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `trace` is the id shared by a gate call
  * or a trigger and every job and stage it caused; `parent` is the id of
  * the enclosing span. Times are epoch milliseconds.
  */
final case class Span(id: String, parent: String, trace: String, layer: String,
    name: String, startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Length of the union of intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Monotonic clock mapped to epoch milliseconds, so spans timed in the
    * benchmark line up with the engine's event times.
    */
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The benchmark's engine listeners. Jobs carry the trace id of the call
  * that caused them through a local property (batch gates) or through the
  * micro-batch id Spark sets on streaming jobs. Events stay in memory;
  * [[collect]] drains the listener bus, detaches and turns them into
  * job and stage spans plus counters.
  */
final class EngineListener(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import EngineListener._

  private final class JobRec(val id: Int, val trace: String, val startMs: Double) {
    var endMs: Double = startMs
  }
  private final class StageRec(val id: Int, val attempt: Int, val job: Int, val trace: String,
      val startMs: Double, val endMs: Double, val tasks: Int, val m: Map[String, Double])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  private def traceOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty(CallKey)).orElse(
        Option(p.getProperty("streaming.sql.batchId")).map("trigger-" + _))
    }.getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, traceOf(e.properties), e.time.toDouble)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val job = stageJob.getOrElse(s.stageId, -1)
    val tm = s.taskMetrics
    val m = Map(
      "task_s" -> tm.executorRunTime / 1e3,
      "task_cpu_s" -> tm.executorCpuTime / 1e9,
      "gc_s" -> tm.jvmGCTime / 1e3,
      "shuffle_read_mb" -> tm.shuffleReadMetrics.totalBytesRead / Mb,
      "shuffle_write_mb" -> tm.shuffleWriteMetrics.bytesWritten / Mb,
      "fetch_wait_s" -> tm.shuffleReadMetrics.fetchWaitTime / 1e3,
      "spill_mb" -> tm.diskBytesSpilled / Mb)
    val start = s.submissionTime.getOrElse(0L).toDouble
    stages += new StageRec(s.stageId, s.attemptNumber(), job,
      jobs.get(job).map(_.trace).getOrElse(""), start,
      s.completionTime.map(_.toDouble).getOrElse(start), s.numTasks, m)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    val tm = e.taskMetrics
    if (tm != null) {
      // the scheduler-delay definition of Spark's own UI
      val delay = e.taskInfo.duration - tm.executorRunTime - tm.executorDeserializeTime -
        tm.resultSerializationTime -
        (if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)
      add("sched_delay_s", math.max(0L, delay) / 1e3)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      add("ckpt_blocks", 1)
      add("ckpt_mb", (b.memSize + b.diskSize) / Mb)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    add("actions", 1)
    add("plan_ms", qe.tracker.phases.collect {
      case (p, s) if PlanPhases(p) => s.durationMs.toDouble
    }.sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = synchronized {
    add("actions", 1)
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** Waits until every event posted so far reached the listener, detaches
    * it and returns job and stage spans plus the counters.
    */
  def collect(): EngineTrace = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      val jobSpans = jobs.values.toSeq.map { j =>
        Span(s"job-${j.id}", j.trace, j.trace, "job", s"job ${j.id}", j.startMs, j.endMs)
      }
      val stageSpans = stages.toSeq.map { s =>
        Span(s"stage-${s.id}.${s.attempt}", s"job-${s.job}", s.trace, "stage",
          s"stage ${s.id}", s.startMs, s.endMs, s.m + ("tasks" -> s.tasks.toDouble))
      }
      val totals = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      counts.foreach { case (k, v) => totals(k) += v }
      stages.foreach(_.m.foreach { case (k, v) => totals(k) += v })
      totals("jobs") = jobs.size.toDouble
      totals("stages") = stages.size.toDouble
      EngineTrace(jobSpans, stageSpans, totals.toMap)
    }
  }
}

object EngineListener {
  /** Local property that tags the jobs of one gate call with its trace id. */
  val CallKey = "perfbench.call"
  private val Mb = 1024.0 * 1024.0
  private val PlanPhases = Set("analysis", "optimization", "planning")

  def attach(spark: SparkSession): EngineListener = new EngineListener(spark).attach()

  /** Tags jobs started by `body` on this thread with `trace`. */
  def tagged[T](sc: SparkContext, trace: Option[String])(body: => T): T = {
    trace.foreach(sc.setLocalProperty(CallKey, _))
    try body finally if (trace.isDefined) sc.setLocalProperty(CallKey, null)
  }
}

final case class EngineTrace(jobs: Seq[Span], stages: Seq[Span], totals: Map[String, Double]) {
  /** Wall time of one call not covered by any of its jobs. */
  def gapMs(call: Span): Double =
    call.durMs - Span.unionLength(jobs.filter(_.trace == call.trace).map(j => (j.startMs, j.endMs)))

  def jobsOf(trace: String): Int = jobs.count(_.trace == trace)

  /** Self time per layer, summed over calls: a span's duration minus the
    * part of it that its children cover. Jobs are the children of calls,
    * stages of jobs; stages are leaves.
    */
  def selfSeconds(calls: Seq[Span]): Map[String, Double] = {
    val jobSelf = jobs.map { j =>
      j.durMs - Span.unionLength(stages.filter(_.parent == j.id).map(s => (s.startMs, s.endMs)))
    }.sum
    Map(
      "self_s.call" -> calls.map(gapMs).sum / 1e3,
      "self_s.job" -> jobSelf / 1e3,
      "self_s.stage" -> stages.map(_.durMs).sum / 1e3)
  }
}
