package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** The batch workload: a closed-loop caller runs the workload's gates
  * back to back through `SparkEntry.queries`, one pass after another.
  *
  * Set-up runs one untimed warm-up pass that writes every gate's result
  * for the oracle check. Measured passes force each result through the
  * noop sink. After each call, untimed, the SQL cache and persisted RDDs
  * are released and a full GC runs, so that broadcasts and shuffle state
  * of one call are reclaimed before the next (the discipline of
  * `graft.Bench`); the heap still live after that GC is read at the end
  * of each pass. A call that throws is counted as failed and leaves no
  * time.
  */
object Batch {
  val Gates: Map[String, Seq[String]] = Map(
    "graph_iterative" -> Seq("q_graph_sssp", "q_graph_betweenness", "q_graph_hits", "q_graph_cc"))

  val AllGates: Seq[String] = Gates.values.flatten.toSeq.sorted

  private final case class Call(gate: String, span: Span, buildS: Double, actionS: Double)

  def run(spark: SparkSession, args: Args, res: Result): Unit = {
    val gates = Gates(args.workload)
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val sc = spark.sparkContext

    var heap = 0.0
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def call(gate: String, trace: Option[String], sink: DataFrame => Unit): Option[Call] = try {
      EngineListener.tagged(sc, trace) {
        res.attempted += 1
        val t0 = Span.nowMs
        try {
          val df = fns(gate)(spark, args.data)
          val t1 = Span.nowMs
          sink(df)
          val t2 = Span.nowMs
          val id = trace.getOrElse(gate)
          Some(Call(gate, Span(id, "", id, "gate", gate, t0, t2), (t1 - t0) / 1e3, (t2 - t1) / 1e3))
        } catch {
          case NonFatal(e) =>
            res.fail(s"$gate: $e")
            None
        }
      }
    } finally {
      release()
      heap = Result.fullGc()
    }

    def warm(gate: String): Unit = {
      synchronized(res.attempted += 1)
      try fns(gate)(spark, args.data).write.mode("overwrite").parquet(s"${args.out}/gates/$gate")
      catch { case NonFatal(e) => synchronized(res.fail(s"$gate: $e")) }
    }

    // ---- set-up: warm-up pass, results kept for the oracle check ----
    res.setup {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(gates.size)
      try {
        gates.map { g =>
          pool.submit(new Runnable { def run(): Unit = warm(g) })
        }.foreach(_.get())
      } finally pool.shutdown()
      release()
      heap = Result.fullGc()
    }
    res.oracle = gates.flatMap(g => oracle.get(g).map(g -> _)).toMap

    // ---- measured passes. With tracing, calls alternate between traced and
    // untraced, and the next pass flips which gates are traced: over two
    // passes every gate is traced once and timed untraced once, and neither
    // kind always runs first.
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    gates.foreach { g => times(g) = mutable.ArrayBuffer.empty; tracedTimes(g) = mutable.ArrayBuffer.empty }
    val heaps = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Call, EngineTrace)]
    val passSelf = mutable.ArrayBuffer.empty[Double]
    val start = Span.nowMs
    var n = 0
    while (n < (if (args.trace) 2 else 1) || Span.nowMs - start < args.seconds * 1e3) {
      val p0 = Span.nowMs
      val pass = s"pass-$n"
      val calls = gates.zipWithIndex.flatMap { case (g, i) =>
        val tr = args.trace && (i + n) % 2 == 1
        val listener = if (tr) Some(EngineListener.attach(spark)) else None
        val c = call(g, if (tr) Some(s"p$n-$g") else None, _.write.format("noop").mode("overwrite").save())
        val eng = listener.map(_.collect())
        c.map(x => x.copy(span = x.span.copy(parent = pass))).foreach { x =>
          (if (tr) tracedTimes else times)(g) += x.span.durMs / 1e3
          eng.foreach(e => traced += ((x, e)))
        }
        c
      }
      val p1 = Span.nowMs
      heaps += heap
      passSelf += (p1 - p0 - calls.map(_.span.durMs).sum) / 1e3
      if (args.trace) res.spans += Span(pass, "", "", "pass", s"pass $n", p0, p1)
      n += 1
    }

    // ---- end-to-end: gate calls are this workload's operations ----
    val medians = times.map { case (g, ts) => g -> Result.median(ts.toSeq) }
    val callMs = times.values.flatten.map(_ * 1e3).toSeq
    if (medians.values.forall(!_.isNaN)) {
      res.metric("pass_s", medians.values.sum)
      res.metric("stream_events_per_s", callMs.size / (callMs.sum / 1e3))
      res.metric("stream_lat_p50_ms", Result.percentile(callMs, 50))
      res.metric("stream_lat_p99_ms", Result.percentile(callMs, 99))
    }
    res.metric("heap_live_mb", Result.median(heaps.toSeq))

    // ---- per layer, scaled to one pass of traced calls ----
    if (args.trace) {
      AllGates.foreach(g => res.layer(s"gate_s.$g", medians.getOrElse(g, 0.0)))
      val eng = EngineTrace(traced.flatMap(_._2.jobs).toSeq, traced.flatMap(_._2.stages).toSeq,
        traced.flatMap(_._2.totals).groupMapReduce(_._1)(_._2)(_ + _))
      val calls = traced.map { case (c, _) =>
        c.span.copy(attrs = Map("build_s" -> c.buildS, "action_s" -> c.actionS)) }.toSeq
      res.spans ++= calls ++ eng.jobs ++ eng.stages
      val scale = gates.size.toDouble / math.max(1, calls.size)
      passLayers(calls, eng, args.cores).foreach { case (k, v) =>
        res.layer(k, if (PerPass(k)) v * scale else v)
      }
      res.layer("self_s.pass", Result.median(passSelf.toSeq))
      val both = gates.filter(g => times(g).nonEmpty && tracedTimes(g).nonEmpty)
      def mean(ts: Iterable[Double]) = ts.sum / ts.size
      res.layer("trace_overhead_frac",
        both.map(g => mean(tracedTimes(g))).sum / both.map(g => mean(times(g))).sum - 1)
    }
  }

  /** Layer metrics that are sums over calls, as opposed to ratios. */
  private val PerPass: Set[String] =
    Set("build_s", "action_s", "job_active_s", "driver_gap_s", "self_s.call", "self_s.job",
      "self_s.stage") ++ Result.EngineCounters

  private def passLayers(calls: Seq[Span], eng: EngineTrace, cores: Int): Map[String, Double] = {
    val t = eng.totals.withDefaultValue(0.0)
    val perGate = AllGates.flatMap { g =>
      val c = calls.filter(_.name == g)
      def avg(f: Span => Double) = if (c.isEmpty) 0.0 else c.map(f).sum / c.size
      Seq(s"jobs.$g" -> avg(x => eng.jobsOf(x.trace).toDouble),
        s"driver_gap_s.$g" -> avg(eng.gapMs(_) / 1e3))
    }
    val wallS = calls.map(_.durMs).sum / 1e3
    Map(
      "build_s" -> calls.map(_.attrs("build_s")).sum,
      "action_s" -> calls.map(_.attrs("action_s")).sum,
      "job_active_s" -> Span.unionLength(eng.jobs.map(j => (j.startMs, j.endMs))) / 1e3,
      "driver_gap_s" -> calls.map(eng.gapMs).sum / 1e3,
      "task_util" -> t("task_s") / (wallS * cores)) ++
      Result.EngineCounters.map(k => k -> t(k)) ++ perGate ++ eng.selfSeconds(calls)
  }
}
