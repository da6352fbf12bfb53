package graft.streaming

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.windowing.{Clock, EventClock, SystemClock, Windower, Windowing}

/** Streaming analogues of the stateful/windowed operator surface —
  * the `stateful_batch` core on unbounded data (reference:
  * src/operators.rs:441-1041). Mapping:
  *
  *  - per-key state + epoch-ordered application → `transformWithState`
  *    over `groupByKey` ([[TransformWithStateOps]]; hash exchange ⇔ the
  *    reference's routed exchange, src/operators.rs:572-594)
  *  - `notify_at`/`on_notify` timers (src/operators.rs:813-860) →
  *    processing-time timers (`registerTimer` / `handleExpiredTimer`)
  *  - `snapshot()` per epoch (src/recovery.rs) → state-store
  *    checkpointing (free; delete-on-restart semantics handled by
  *    `checkpointLocation`)
  *  - EOF (`on_eof`) → no true EOF on streams; run with
  *    `Trigger.AvailableNow` for bounded catch-up, matching the
  *    reference's "only works on finite streams" note for *_final ops.
  */
object StreamingOps {

  /** stateful_map on a stream: per-key running (S, V) → (S, W).
    * Emits one output per input row, in arrival order, as a timerless
    * [[TransformWithStateOps.GraftStatefulLogic]] on
    * [[TransformWithStateOps.statefulTws]] (pure data-driven state).
    */
  def statefulMapStream[K: Encoder, V, S: Encoder, W](
      ds: Dataset[(K, V)], init: K => S)(step: (S, V) => (S, W))(
      implicit outEnc: Encoder[(K, W)]): Dataset[(K, W)] = {
    val logic = new TransformWithStateOps.GraftStatefulLogic[K, V, S, W] {
      def onBatch(key: K, values: Seq[V], state: Option[S]): (Option[S], Seq[W]) = {
        var s = state.getOrElse(init(key))
        val out = values.iterator.map { v =>
          val (s2, w) = step(s, v)
          s = s2
          w
        }.toVector
        (Some(s), out)
      }
    }
    TransformWithStateOps.statefulTws(ds, logic)
  }

  /** Windowed aggregation on a stream: EventClock.waitFor becomes the
    * watermark delay (reference windowing.py:224-310 — minus the
    * idle-wall-clock advance, which Spark's data-driven watermark does
    * not do; documented divergence, SURVEY §4.3).
    */
  def windowStream(df: DataFrame, clock: Clock, w: Windower, keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val prepared = clock match {
      case EventClock(tsCol, waitFor) => df.withWatermark(tsCol, waitFor)
      case SystemClock                => df.withColumn("__proc_ts", current_timestamp())
    }
    val ts = clock match {
      case EventClock(c, _) => col(c)
      case SystemClock      => col("__proc_ts")
    }
    prepared.groupBy(w.expr(ts) +: keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** WindowOut.late approximation (reference windowing.py:1193-1222):
    * tee of rows older than `delay` behind the key's max event time so
    * far — per-key watermarks, matching the reference's per-key clock
    * (windowing.py:78-187) and keeping the window computation
    * partitioned by key (a global max would serialize on one task).
    * Spark's true watermark lives in StreamingQueryProgress; this
    * per-microbatch approximation marks rows the windowed agg will drop.
    */
  /** EventClock idle watermark advance (reference windowing.py:263-298,
    * `wait_for_system_duration`): the reference's clock keeps advancing
    * the watermark on SYSTEM time while the source is idle, so open
    * windows close without further data. Spark's watermark is
    * data-driven — an idle stream never closes its windows (the one
    * EventClock divergence OPERATORS.md carried since round 1).
    *
    * Rendering: union a rate-source heartbeat whose event time IS
    * processing time, watermarked with the same `delay`, marked with a
    * sentinel column and filtered back out immediately after the union.
    * Heartbeat rows never reach downstream state, but their scan-level
    * watermark does: under `spark.sql.streaming.multipleWatermarkPolicy
    * = max` the query's global watermark follows max(data, wall-clock)
    * — so idle periods advance it at wall speed, exactly the
    * reference's semantics, including the consequence that events
    * arriving after an idle advance are late/dropped just as they would
    * be under the reference's system-advanced watermark.
    *
    * Use INSTEAD of `withWatermark` (both branches are watermarked
    * here). The policy is session-wide and defaults to `min` (which
    * would pin the watermark to the stalled data stream and make the
    * heartbeat a no-op), so this fails fast if it isn't set.
    */
  def withIdleWatermark(df: DataFrame, tsCol: String, delay: String,
      heartbeatsPerSecond: Int = 4): DataFrame = {
    val spark = df.sparkSession
    require(spark.conf.getOption("spark.sql.streaming.multipleWatermarkPolicy")
        .contains("max"),
      "idle watermark advance needs spark.sql.streaming.multipleWatermarkPolicy=max " +
        "(default 'min' pins the global watermark to the idle data stream)")
    val tsType = df.schema(tsCol).dataType
    val hb = spark.readStream.format("rate")
      .option("rowsPerSecond", heartbeatsPerSecond.toLong).load()
      .select(df.schema.fields.map { f =>
        if (f.name == tsCol) col("timestamp").cast(tsType).as(tsCol)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq :+ lit(true).as("__hb"): _*)
      .withWatermark(tsCol, delay)
    // The always-false nondeterministic disjunct stops Catalyst pushing
    // the predicate through the union: pushed, it constant-folds to
    // `filter(false)` below the heartbeat branch's EventTimeWatermark
    // node, so heartbeat rows are dropped before the watermark collector
    // ever sees them (observed: watermark pinned at data-max − delay,
    // windows never closing). A nondeterministic predicate cannot be
    // pushed through a Union or below a watermark node.
    val never = udf(() => false).asNondeterministic()
    df.withColumn("__hb", lit(false))
      .withWatermark(tsCol, delay)
      .unionByName(hb)
      .filter(!col("__hb") || never())
      .drop("__hb")
  }

  def lateTee(df: DataFrame, tsCol: String, delay: String, keyCols: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)
    df.withColumn("__max_ts", max(col(tsCol)).over(w))
      .filter(col(tsCol) < col("__max_ts") - expr(s"INTERVAL $delay"))
      .drop("__max_ts")
  }

  /** Run a streaming Dataset to a named in-memory table and block until
    * all available input is processed (the `run_main` testing analogue,
    * reference testing.py:259+).
    */
  def runToMemory[T](ds: Dataset[T], name: String, outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val q = ds.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    ds.sparkSession.table(name)
  }

  /** Like [[runToMemory]] but safe for processing-time timer state ops:
    * those keep scheduling micro-batches, so `processAllAvailable` never
    * settles (Spark's documented behavior for timer-driven state). Polls
    * the sink until `expectedRows` appear or `timeoutMs` elapses, then
    * stops the query.
    */
  def runToMemoryUntil[T](ds: Dataset[T], name: String, expectedRows: Long,
      timeoutMs: Long, outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val spark = ds.sparkSession
    val q = ds.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        spark.table(name).count() < expectedRows) {
      Thread.sleep(200)
    }
    q.stop()
    spark.table(name)
  }
}
