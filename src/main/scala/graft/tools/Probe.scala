package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Per-gate execution-shape probe for the optimization loop: runs named
  * gate queries through the noop sink in the house session and prints,
  * for each,
  *  - the Spark jobs/stages/tasks it launched and the summed task metrics
  *    (executor run time, GC, shuffle bytes read/written, spill) from a
  *    [[SparkListener]], then its 15 most expensive stages. Wall seconds
  *    tell you WHAT is slow; this tells you WHY — a 3 s query that
  *    launches 40 jobs is round-overhead-bound, one that shuffles 2 GB is
  *    exchange-bound, and the fix differs;
  *  - between `===== BEGIN/END <gate> =====` markers, the gate's
  *    formatted plan and the executed plan of every action it ran, in
  *    order, from a [[QueryExecutionListener]]. The eager round-lifecycle
  *    operators show only their final checkpoint scan in the gate plan;
  *    their per-round marks (`localCheckpoint`/`checkpoint`) and persists
  *    are the actions. The count or fold a mark runs over its checkpoint
  *    is one RDD job, not a SQL action: it shows in the job line, with
  *    no plan of its own.
  *
  * args: sfDir gate [gate...]; env SPARK_GRAFT_CPUS like Bench.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.Session.local(graft.Session.cpus(4))

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var runMs = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    @volatile var spillB = 0L
    @volatile var gcMs = 0L
    // stage id → (name, summed run ms, shuffle read, shuffle write), so a
    // query's task time maps back to operators
    val stageDetail = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stageDetail.putIfAbsent(s.stageInfo.stageId,
          (s.stageInfo.name.takeWhile(_ != '\n').take(90), 0L, 0L, 0L))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          runMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shufReadB += m.shuffleReadMetrics.totalBytesRead
          shufWriteB += m.shuffleWriteMetrics.bytesWritten
          spillB += m.diskBytesSpilled + m.memoryBytesSpilled
          stageDetail.computeIfPresent(t.stageId, (_, v) =>
            (v._1, v._2 + m.executorRunTime,
              v._3 + m.shuffleReadMetrics.totalBytesRead,
              v._4 + m.shuffleWriteMetrics.bytesWritten))
        }
      }
    })
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(s"--- action: $funcName (${durationNs / 1000000} ms)\n" +
          qe.executedPlan.toString.take(24000))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    // drain the async listener bus: poll until the counters are stable
    // across two consecutive reads (a fixed sleep undercounts when the
    // queue is backlogged after a large run), bounded at 5 s
    def drain(): Unit = {
      def snap = (jobs, stages, tasks, runMs, plans.size)
      var last = snap
      var stable = false
      var waited = 0
      while (!stable && waited < 5000) {
        Thread.sleep(200); waited += 200
        val now = snap
        stable = now == last
        last = now
      }
    }

    // warm-up, same as Bench; drained so the first gate counts only itself
    graft.SparkEntry.queries.get("q1_agg").foreach { q =>
      q(spark, dir).write.format("noop").mode("overwrite").save()
    }
    drain()

    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"runSec"}%7s ${"gcSec"}%6s ${"shRdMB"}%7s " +
      f"${"shWrMB"}%7s ${"spillMB"}%7s")
    for (name <- names) {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; shufReadB = 0
      shufWriteB = 0; spillB = 0; gcMs = 0
      stageDetail.clear(); plans.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      println(f"$name%-28s $dt%7.2f $jobs%5d $stages%6d $tasks%6d " +
        f"${runMs / 1e3}%7.1f ${gcMs / 1e3}%6.1f ${shufReadB / 1e6}%7.1f " +
        f"${shufWriteB / 1e6}%7.1f ${spillB / 1e6}%7.1f")
      stageDetail.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
        case (sid, (nm, rms, rd, wr)) =>
          println(f"    stage $sid%4d ${rms / 1e3}%8.1f s  " +
            f"rd ${rd / 1e6}%7.1f MB  wr ${wr / 1e6}%7.1f MB  $nm")
      }
      println(s"===== BEGIN $name =====")
      println("== gate-level formatted plan (the eager operators show " +
        "only their final checkpoint here; internal actions follow) ==")
      println(df.queryExecution.explainString(FormattedMode))
      plans.asScala.zipWithIndex.foreach { case (p, i) =>
        println(s"== internal action ${i + 1} ==")
        println(p)
      }
      println(s"===== END $name =====")
      graft.Session.release(spark)
    }
    spark.stop()
  }
}
