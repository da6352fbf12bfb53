package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.connectors.Testing
import graft.streaming.{Tracing, TransformWithStateOps}

/** Per-key running sum, emitted once per event as (seq, total). Events of
  * one key within a micro-batch are applied in sequence order, so every
  * output row is the sum of the key's values up to that event.
  */
object RunningSum
    extends TransformWithStateOps.GraftStatefulLogic[Long, (Long, Long, Long), Long, (Long, Long)] {
  def onBatch(key: Long, vs: Seq[(Long, Long, Long)], s: Option[Long]): (Option[Long], Seq[(Long, Long)]) = {
    var total = s.getOrElse(0L)
    val out = vs.sortBy(_._1).map { case (seq, v, _) => total += v; (seq, total) }
    (Some(total), out)
  }
}

/** The stream workload: `Testing.testingSource` → `statefulTws` running sum
  * → parquet file sink, one query over one fresh checkpoint directory.
  *
  * Events (seq, value, event time) come from the input file in sequence
  * order. A closed-loop warm-up (set-up) is followed by [[Segments]]
  * rounds, each of which runs a stretch of phase 2, an open loop that
  * offers a fixed rate, and then a stretch of phase 1, a closed-loop drain
  * of a fixed backlog in fixed chunks. Over the rounds phase 2 lasts
  * `seconds` and phase 1 drains the whole backlog. Interleaving them
  * spreads the samples of both phases over the run, so that a stall of
  * the host lasting a few seconds slows one round, not a whole phase.
  * Phase-2 latency runs from each event's scheduled send time to the
  * commit of the trigger that emitted it; both come from the generator's
  * schedule and the query's progress events.
  */
object Stream {

  private final case class Send(offset: Long, first: Int, n: Int, sentMs: Double)

  /** One open-loop stretch: its sends, when it ran, and, traced, what the
    * listeners saw of it.
    */
  private final case class Stretch(sends: Seq[Send], startMs: Double, endMs: Double,
      first: Int, trace: Option[(EngineTrace, Seq[Tracing.Span])]) {
    def due(i: Int, rate: Double): Double = startMs + (i - first) * 1000.0 / rate
  }

  private val Segments = 4

  def run(spark: SparkSession, args: Args, res: Result): Unit = {
    import spark.implicits._
    val cfg = args.stream
    val (keys, vals) = res.setup(load(args.events))
    res.attempted = keys.length
    val src = Testing.testingSource[(Long, (Long, Long, Long))](spark, Some(args.cores))
    val q = res.setup {
      TransformWithStateOps.statefulTws(src.toDS(), RunningSum)
        .toDF("key", "o").select(col("key"), col("o._1").as("seq"), col("o._2").as("total"))
        .writeStream.format("parquet")
        .option("path", s"${args.out}/stream_out")
        .option("checkpointLocation", s"${args.out}/stream_ckpt")
        .start()
    }

    var next = 0
    var offset = -1L
    val sends = mutable.ArrayBuffer.empty[Send]
    def send(n: Int, ts: Int => Long): Unit = {
      val first = next
      src.addBatch((first until first + n).map(i => (keys(i), (i.toLong, vals(i), ts(i)))): _*)
      offset += 1
      next += n
      sends += Send(offset, first, n, Span.nowMs)
    }
    def chunk(n: Int): Double = {
      val t0 = Span.nowMs
      val now = System.currentTimeMillis()
      send(n, _ => now)
      q.processAllAvailable()
      Span.nowMs - t0
    }

    // Phase 2 stretch: the generator never waits for the query; each tick
    // it sends every event whose scheduled time has passed.
    def openLoop(total: Int): Stretch = {
      val tr = if (args.trace) Some(tracers(spark)) else None
      val firstSend = sends.size
      val first = next
      val t0 = Span.nowMs
      while (next - first < total) {
        val n = math.min(total, ((Span.nowMs - t0) * cfg.rate / 1000.0).toInt + 1) - (next - first)
        if (n > 0) send(n, i => (t0 + (i - first) * 1000.0 / cfg.rate).toLong)
        Thread.sleep(cfg.tickMs)
      }
      q.processAllAvailable()
      val t1 = Span.nowMs
      val seen = tr.map { case (eng, coll, guard) =>
        val et = eng.collect()
        guard.close()
        (et, coll.spans)
      }
      Stretch(sends.drop(firstSend).toSeq, t0, t1, first, seen)
    }

    // Phase 1 chunks; with tracing they run untraced and traced in the
    // order U T T U U T ..., so neither kind always runs first.
    val drains = mutable.ArrayBuffer.empty[(Boolean, Double)]
    def drain(n: Int): Unit = (0 until n).foreach { _ =>
      val traced = args.trace && Set(1, 2)(drains.size % 4)
      val l = if (traced) Some(tracers(spark)) else None
      val ms = chunk(cfg.chunk)
      l.foreach { case (eng, _, guard) => eng.collect(); guard.close() }
      drains += ((traced, ms))
    }

    try {
      res.setup((0 until cfg.warmup / cfg.chunk).foreach(_ => chunk(cfg.chunk)))

      val chunks = cfg.backlog / cfg.chunk
      val events = (cfg.rate * args.seconds).toInt
      val stretches = (0 until Segments).map { k =>
        val s = openLoop(events * (k + 1) / Segments - events * k / Segments)
        drain(chunks * (k + 1) / Segments - chunks * k / Segments)
        s
      }
      // single reads differed by up to 15% between runs; the median of
      // three reads a few hundred ms apart does not
      res.metric("heap_live_mb", Result.median((1 to 3).map { _ =>
        Thread.sleep(200)
        Result.fullGc()
      }))

      // ---- phase 1: median chunk, so a short stall of the host does not
      // decide the run's figure ----
      val plain = drains.collect { case (false, ms) => ms }.toSeq
      val chunkS = Result.median(plain) / 1e3
      res.metric("pass_s", chunkS * chunks)
      res.metric("stream_events_per_s", cfg.chunk / chunkS)

      // ---- phase 2: latency percentiles per stretch, then their median
      // over the stretches ----
      val all = q.recentProgress.toSeq
      val commits = all.map(p => (endOffset(p), commitMs(p))).sortBy(_._1)
      val late = mutable.ArrayBuffer.empty[Double]
      val lat = stretches.map { st =>
        val ms = mutable.ArrayBuffer.empty[Double]
        st.sends.foreach { s =>
          val c = commits.find(_._1 >= s.offset).map(_._2).getOrElse(Double.NaN)
          (s.first until s.first + s.n).foreach { i =>
            val sched = st.due(i, cfg.rate)
            ms += c - sched
            late += s.sentMs - sched
          }
        }
        ms.toSeq
      }
      Seq(50, 99).foreach { p =>
        res.metric(s"stream_lat_p${p}_ms", Result.median(lat.map(Result.percentile(_, p))))
      }

      if (args.trace) {
        def inStretch(p: StreamingQueryProgress, st: Stretch) =
          endOffset(p) >= st.sends.head.offset && endOffset(p) <= st.sends.last.offset
        val progress = all.filter(p => stretches.exists(inStretch(p, _)))
        val byBatch = progress.map(p => p.batchId -> p).toMap
        val passes = stretches.zipWithIndex.map { case (st, k) =>
          Span(s"phase-2.$k", "", "", "pass", s"phase 2, stretch $k", st.startMs, st.endMs)
        }
        val triggers = stretches.zip(passes).flatMap { case (st, pass) =>
          st.trace.get._2.filter(s => s.kind == "microbatch" &&
              byBatch.get(s.batchId).exists(inStretch(_, st))).map { s =>
            val start = java.time.Instant.parse(byBatch(s.batchId).timestamp).toEpochMilli.toDouble
            val id = s"trigger-${s.batchId}"
            Span(id, pass.id, id, "trigger", s"batch ${s.batchId}", start, start + s.durationMs,
              Map("input_rows" -> s.inputRows.toDouble, "state_rows" -> s.stateRows.toDouble))
          }
        }
        val ets = stretches.flatMap(_.trace).map(_._1)
        val et = EngineTrace(ets.flatMap(_.jobs), ets.flatMap(_.stages),
          ets.flatMap(_.totals).groupMapReduce(_._1)(_._2)(_ + _))
        res.spans ++= passes ++ triggers ++ et.jobs ++ et.stages
        val t = et.totals.withDefaultValue(0.0)
        val wallS = passes.map(_.durMs).sum / 1e3
        Result.EngineCounters.foreach(k => res.layer(k, t(k)))
        res.layer("job_active_s", Span.unionLength(et.jobs.map(j => (j.startMs, j.endMs))) / 1e3)
        res.layer("driver_gap_s", triggers.map(et.gapMs).sum / 1e3)
        res.layer("task_util", t("task_s") / (wallS * args.cores))
        et.selfSeconds(triggers).foreach { case (k, v) => res.layer(k, v) }
        res.layer("self_s.pass",
          wallS - Span.unionLength(triggers.map(t => (t.startMs, t.endMs))) / 1e3)
        streamLayers(progress, stretches.flatMap(_.sends),
          progress.map(p => (endOffset(p), commitMs(p))).sortBy(_._1), late.toSeq)
          .foreach { case (k, v) => res.layer(k, v) }
        val tracedMs = drains.collect { case (true, ms) => ms }.toSeq
        res.layer("trace_overhead_frac", Result.median(tracedMs) / Result.median(plain) - 1)
      }
    } finally q.stop()
    q.exception.foreach(e => res.fail(s"stream query: $e"))
  }

  /** Engine listener plus graft's own micro-batch tracing. */
  private def tracers(spark: SparkSession) = {
    val coll = new Tracing.Collector
    (EngineListener.attach(spark), coll, Tracing.setup(spark)(coll.export))
  }

  private def streamLayers(progress: Seq[StreamingQueryProgress], sends: Seq[Send],
      commits: Seq[(Long, Double)], lateMs: Seq[Double]): Map[String, Double] = {
    def mean(f: StreamingQueryProgress => Double) = progress.map(f).sum / progress.size
    def d(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def st(p: StreamingQueryProgress) = p.stateOperators.headOption
    // events sent but not yet committed, at each commit
    val backlog = commits.map { case (off, at) =>
      sends.filter(_.sentMs <= at).map(_.n).sum - sends.filter(_.offset <= off).map(_.n).sum
    }
    Map(
      "triggers" -> progress.size.toDouble,
      "rows_per_trigger" -> mean(_.numInputRows.toDouble),
      "trigger_ms" -> mean(d(_, "triggerExecution")),
      "add_batch_ms" -> mean(d(_, "addBatch")),
      "query_planning_ms" -> mean(d(_, "queryPlanning")),
      "source_ms" -> mean(p => d(p, "getBatch") + d(p, "latestOffset")),
      "log_commit_ms" -> mean(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "state_rows" -> st(progress.last).map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_mb" -> st(progress.last).map(_.memoryUsedBytes / (1024.0 * 1024.0)).getOrElse(0.0),
      "state_commit_ms" -> mean(st(_).map(_.commitTimeMs.toDouble).getOrElse(0.0)),
      "state_update_ms" -> mean(st(_).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)),
      "backlog_events" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "gen_late_ms" -> Result.percentile(lateMs, 99))
  }

  private def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

  private def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)

  /** Input file: little-endian int64 pairs (key, value), one per event. */
  private def load(path: String): (Array[Long], Array[Long]) = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.remaining / 16
    val keys = new Array[Long](n)
    val vals = new Array[Long](n)
    (0 until n).foreach { i => keys(i) = buf.getLong(); vals(i) = buf.getLong() }
    (keys, vals)
  }
}
