package graft.windowing

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Generic per-(key, window) ordered logic — the port target for the
  * reference's arbitrary `WindowLogic` (reference
  * pysrc/bytewax/operators/windowing.py:958-1028: `on_value`/`on_merge`/
  * `on_close`) with `ordered=True` flush semantics (windowing.py:
  * 1095-1108: queued items are replayed into the logic in timestamp
  * order once on time). Covers bespoke in-window state machines that are
  * not expressible as an `Aggregator` fold — e.g. order-sensitive
  * digests, pattern matching over an event sequence.
  *
  * Two engines, one logic interface:
  *
  *  - **Batch** ([[windowLogicBatch]]): window assignment is relational
  *    (`window()` in a projection — Catalyst's TimeWindowing expands
  *    sliding windows; sessions are formed inline during the ordered
  *    pass), then the secondary-sort pattern: one hash exchange on
  *    (key, window), Tungsten in-partition sort by timestamp, and a
  *    single streaming fold — a key's window never has to fit in memory
  *    beyond the logic's own state.
  *  - **Streaming** ([[windowLogicStream]]): `transformWithState` keyed
  *    by (key, window); rows buffer in per-window `ListState` and an
  *    event-time timer at window end replays them in timestamp order
  *    through the logic when the watermark passes — the Spark-native
  *    rendering of the reference's `notify_at`/`on_notify` close path.
  *    By default all output of a window surfaces at window close;
  *    `eager = true` restores the reference's emission timing
  *    (windowing.py:1116-1151) for tumbling/sliding windows via
  *    [[EagerWindowLogicProcessor]] — `on_value` rows surface as the
  *    watermark passes each item. Emitted rows are identical either way.
  *
  * `on_merge` has no surface here: in both engines values reach the
  * logic in timestamp order per window, so session merges (which the
  * reference needs because items arrive out of order) cannot occur —
  * sessions are formed left-to-right from sorted data, matching Spark's
  * session_window boundary rule (touching windows merge).
  */
object WindowLogicOps {

  /** The reference's WindowLogic ABC in state-passing form. `init` is
    * the `builder(None)` fresh-window case; resume-from-snapshot is the
    * state store's job in streaming.
    */
  trait WindowLogic[V, W, S] extends Serializable {
    def init: S
    /** Called per value in timestamp order; may emit incrementally. */
    def onValue(state: S, value: V): (S, Seq[W])
    /** Called once when the window closes; emits final output. */
    def onClose(state: S): Seq[W]
  }

  /** Parse the interval strings used by [[SessionWindower]] ("2 hours",
    * "30 minutes", "10 seconds", "500 milliseconds", "1 day") to millis.
    */
  private[windowing] def intervalMillis(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length % 2 == 0, s"cannot parse interval '$s'")
    parts.grouped(2).map { case Array(n, unit) =>
      val v = n.toLong
      unit.stripSuffix("s") match {
        case "day"         => v * 86400000L
        case "hour"        => v * 3600000L
        case "minute"      => v * 60000L
        case "second"      => v * 1000L
        case "millisecond" => v
        case u             => throw new IllegalArgumentException(s"unit $u in '$s'")
      }
    }.sum
  }

  /** Bounded-data generic window op. Values are extracted per row with
    * `extract`, replayed into `logic` in (`tsCol`, `tiebreak`) order
    * within each (key, window), and the logic's output rows are emitted
    * as (key, win_start_ms, win_end_ms, value). One shuffle, one sort —
    * the same plan shape as StatefulOps.statefulBatch with the window
    * joined into the grouping key.
    */
  def windowLogicBatch[V, W, S](
      df: DataFrame, keyCol: String, clock: EventClock, windower: Windower,
      tiebreak: Seq[Column], extract: Row => V, logic: WindowLogic[V, W, S])(
      implicit outEnc: Encoder[(String, Long, Long, W)]): Dataset[(String, Long, Long, W)] =
    windower match {
      case SessionWindower(gap) =>
        sessionLogicBatch(df, keyCol, clock, intervalMillis(gap), tiebreak, extract, logic)
      case w =>
        val withWin = df.withColumn("__win", w.expr(col(clock.tsCol)))
        val sorted = withWin
          .repartition(col(keyCol), col("__win"))
          .sortWithinPartitions(
            col(keyCol) +: col("__win") +: col(clock.tsCol) +: tiebreak: _*)
        val keyIdx = sorted.schema.fieldIndex(keyCol)
        val winIdx = sorted.schema.fieldIndex("__win")

        sorted.mapPartitions { rows =>
          new Iterator[(String, Long, Long, W)] {
            private var curKey: String = null
            private var curStart: Long = -1L
            private var curEnd: Long = -1L
            private var state: S = _
            private var open = false
            private var pending: Iterator[(String, Long, Long, W)] = Iterator.empty

            private def emit(ws: Seq[W], k: String, s: Long, e: Long) =
              ws.iterator.map(w => (k, s, e, w))

            @annotation.tailrec
            private def advance(): Unit = {
              if (pending.hasNext) ()
              else if (rows.hasNext) {
                val r = rows.next()
                val k = r.getString(keyIdx)
                val win = r.getStruct(winIdx)
                val ws = win.getTimestamp(0).getTime
                val we = win.getTimestamp(1).getTime
                if (!open || k != curKey || ws != curStart || we != curEnd) {
                  val closed =
                    if (open) emit(logic.onClose(state), curKey, curStart, curEnd)
                    else Iterator.empty
                  curKey = k; curStart = ws; curEnd = we
                  state = logic.init
                  open = true
                  val (s2, out) = logic.onValue(state, extract(r))
                  state = s2
                  pending = closed ++ emit(out, k, ws, we)
                } else {
                  val (s2, out) = logic.onValue(state, extract(r))
                  state = s2
                  pending = emit(out, k, ws, we)
                }
                advance()
              } else if (open) {
                pending = emit(logic.onClose(state), curKey, curStart, curEnd)
                open = false
              }
            }

            def hasNext: Boolean = { advance(); pending.hasNext }
            def next(): (String, Long, Long, W) = { advance(); pending.next() }
          }
        }
    }

  /** Session variant: windows cannot be assigned relationally (they
    * depend on neighbors), so sessions form inline during the ordered
    * pass — a gap strictly greater than `gapMs` after the previous item
    * closes the session (an item exactly `gap` later still extends it,
    * matching Spark session_window's touch-merge rule, property-tested
    * in PropertySpec). Emitted window end = last_ts + gap, as Spark's.
    */
  private def sessionLogicBatch[V, W, S](
      df: DataFrame, keyCol: String, clock: EventClock, gapMs: Long,
      tiebreak: Seq[Column], extract: Row => V, logic: WindowLogic[V, W, S])(
      implicit outEnc: Encoder[(String, Long, Long, W)]): Dataset[(String, Long, Long, W)] = {
    val sorted = df
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol) +: col(clock.tsCol) +: tiebreak: _*)
    val keyIdx = sorted.schema.fieldIndex(keyCol)
    val tsIdx = sorted.schema.fieldIndex(clock.tsCol)

    sorted.mapPartitions { rows =>
      new Iterator[(String, Long, Long, W)] {
        private var curKey: String = null
        private var sessStart: Long = -1L
        private var lastTs: Long = -1L
        private var state: S = _
        private var open = false
        // onValue output buffers until the session closes: its final
        // bounds aren't known earlier (a later row can extend the
        // session), and the streaming engine emits at close too — the
        // two engines must produce identical rows
        private var sessOut: Vector[W] = Vector.empty
        private var pending: Iterator[(String, Long, Long, W)] = Iterator.empty

        private def close(): Iterator[(String, Long, Long, W)] = {
          val (k, st, en) = (curKey, sessStart, lastTs + gapMs)
          val out = (sessOut ++ logic.onClose(state)).map(w => (k, st, en, w))
          open = false
          sessOut = Vector.empty
          out.iterator
        }

        @annotation.tailrec
        private def advance(): Unit = {
          if (pending.hasNext) ()
          else if (rows.hasNext) {
            val r = rows.next()
            val k = r.getString(keyIdx)
            val ts = r.getTimestamp(tsIdx).getTime
            val splits = !open || k != curKey || ts - lastTs > gapMs
            val closed = if (open && splits) close() else Iterator.empty
            if (splits) {
              curKey = k; sessStart = ts
              state = logic.init
              open = true
            }
            lastTs = ts
            val (s2, out) = logic.onValue(state, extract(r))
            state = s2
            sessOut ++= out
            pending = closed
            advance()
          } else if (open) {
            pending = close()
          }
        }

        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): (String, Long, Long, W) = { advance(); pending.next() }
      }
    }
  }

  /** Streaming processor: buffer per-(key, window) rows, close on an
    * event-time timer at window end. Timestamps travel as epoch micros
    * so in-window ordering survives the buffer round-trip exactly.
    */
  private class WindowLogicProcessor[V, W, S](
      logic: WindowLogic[V, W, S], bufEnc: Encoder[(Long, V)])
    extends StatefulProcessor[(String, Long, Long), ((String, Long, Long), (Long, V)), (String, Long, Long, W)] {

    @transient private var buf: ListState[(Long, V)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[(Long, V)]("graft_winbuf", bufEnc, TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long, Long),
        rows: Iterator[((String, Long, Long), (Long, V))],
        tv: TimerValues): Iterator[(String, Long, Long, W)] = {
      rows.foreach { case (_, tsv) => buf.appendValue(tsv) }
      // one timer per window at its end; registerTimer is idempotent for
      // an already-registered timestamp but guard anyway via listTimers
      if (!getHandle.listTimers().contains(key._3))
        getHandle.registerTimer(key._3)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: (String, Long, Long), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, Long, Long, W)] = {
      val values = buf.get().toVector.sortBy(_._1)
      buf.clear()
      var s = logic.init
      val out = Vector.newBuilder[W]
      values.foreach { case (_, v) =>
        val (s2, ws) = logic.onValue(s, v)
        s = s2
        out ++= ws
      }
      out ++= logic.onClose(s)
      out.result().iterator.map(w => (key._1, key._2, key._3, w))
    }
  }

  /** Eager (update-style) variant of [[WindowLogicProcessor]]: emits a
    * window's `onValue` output incrementally as the watermark passes
    * each buffered item — the reference's in-window emission timing
    * (windowing.py:1116-1151) — instead of holding everything to the
    * close timer. Emitted rows are identical to the deferred processor's;
    * only latency differs.
    *
    * Mechanics: rows buffer as usual; each trigger with arrivals replays
    * the full buffer in timestamp order from `logic.init` (deterministic,
    * so no `Encoder[S]` is demanded of user state) and emits only the
    * outputs of the newly *sealed* prefix — items strictly below the
    * current watermark, which Spark guarantees no later arrival can
    * precede (late rows below the watermark are dropped upstream). A
    * `ValueState[Long]` high-water count marks what was already emitted.
    * The close timer emits the unemitted remainder plus `onClose`.
    * Replay is O(buffer) per trigger with arrivals for that window —
    * the price of eagerness; the deferred processor replays once.
    *
    * Two sealed-prefix caveats mirror the reference's own semantics:
    * emission advances only on triggers that deliver rows for the
    * window (or at close — a quiet window's pending output waits for
    * its timer), and ties at the watermark stay unsealed until close
    * (strict `<`, so an arrival tying a sealed timestamp — which Spark
    * admits — cannot reorder an already-emitted prefix).
    */
  private class EagerWindowLogicProcessor[V, W, S](
      logic: WindowLogic[V, W, S], bufEnc: Encoder[(Long, V)])
    extends StatefulProcessor[(String, Long, Long), ((String, Long, Long), (Long, V)), (String, Long, Long, W)] {

    @transient private var buf: ListState[(Long, V)] = _
    @transient private var emitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, V)]("graft_winbuf", bufEnc, TTLConfig.NONE)
      emitted = getHandle.getValueState[Long]("graft_winemit",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    private def replay(key: (String, Long, Long), sealBelowUs: Long,
        close: Boolean): Iterator[(String, Long, Long, W)] = {
      val values = buf.get().toVector.sortBy(_._1)
      val already = if (emitted.exists()) emitted.get() else 0L
      val sealedCount =
        if (close) values.length.toLong else values.count(_._1 < sealBelowUs).toLong
      if (sealedCount <= already && !close) return Iterator.empty
      var s = logic.init
      val out = Vector.newBuilder[W]
      var i = 0L
      values.foreach { case (_, v) =>
        val (s2, ws) = logic.onValue(s, v)
        s = s2
        if (i >= already && i < sealedCount) out ++= ws
        i += 1
      }
      if (close) {
        out ++= logic.onClose(s)
        buf.clear()
        emitted.clear()
      } else emitted.update(sealedCount)
      out.result().iterator.map(w => (key._1, key._2, key._3, w))
    }

    override def handleInputRows(
        key: (String, Long, Long),
        rows: Iterator[((String, Long, Long), (Long, V))],
        tv: TimerValues): Iterator[(String, Long, Long, W)] = {
      rows.foreach { case (_, tsv) => buf.appendValue(tsv) }
      if (!getHandle.listTimers().contains(key._3))
        getHandle.registerTimer(key._3)
      replay(key, tv.getCurrentWatermarkInMs() * 1000, close = false)
    }

    override def handleExpiredTimer(
        key: (String, Long, Long), tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, Long, Long, W)] =
      replay(key, 0L, close = true)
  }

  /** Counts elements sorted by [[SessionLogicProcessor]] arrival passes.
    * local-mode executors share the JVM, so specs can assert the
    * perf shape: each element is sorted exactly once (on arrival, batch-
    * local) — never re-sorted with the whole buffer on later batches.
    */
  private[graft] object SessionSortStats {
    val sortedElements = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = sortedElements.set(0)
  }

  /** Linear stable merge of two ts-sorted runs; existing elements win
    * ties (they were appended first — identical emit order to a stable
    * sort of existing ++ fresh).
    */
  private[windowing] def mergeSorted[V](a: IndexedSeq[(Long, V)],
      b: IndexedSeq[(Long, V)]): Vector[(Long, V)] = {
    if (a.isEmpty) return b.toVector
    if (b.isEmpty) return a.toVector
    val out = Vector.newBuilder[(Long, V)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (a(i)._1 <= b(j)._1) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    out.result()
  }

  /** Streaming session processor: per key, ALL in-horizon values buffer
    * in one ListState kept in timestamp order — arrivals are sorted
    * batch-locally (m log m) and linearly merged into the sorted buffer
    * (O(n + m)), never re-sorting the whole buffer (a hot key with a
    * long horizon would otherwise pay O(n log n) every micro-batch).
    * The order invariant holds across passes because open sessions are
    * written back in the order they were formed. Every batch (and close
    * timer) re-sessionizes, emits sessions that the watermark has sealed
    * (last_ts + gap < watermark — a row at exactly last_ts + gap still
    * touches, so sealed means strictly past), and keeps the open tail.
    * This is merge-on-arrival: an out-of-order row that lands between
    * two open sessions bridges them on the next pass — the reference's
    * `on_merge` path (windowing.py:1081-1088), realized by re-forming
    * sessions from the buffer instead of merging logic instances
    * (values replay in order at close, so the merged session's output
    * is identical).
    */
  private class SessionLogicProcessor[V, W, S](
      logic: WindowLogic[V, W, S], gapMs: Long, bufEnc: Encoder[(Long, V)])
    extends StatefulProcessor[String, (String, (Long, V)), (String, Long, Long, W)] {

    @transient private var buf: ListState[(Long, V)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[(Long, V)]("graft_sessbuf", bufEnc, TTLConfig.NONE)

    /** Merge fresh (sorted) arrivals into the sorted buffer, sessionize;
      * emit sealed sessions, retain open ones, arm a timer at the
      * earliest open seal bound.
      */
    private def closePass(key: String, watermarkMs: Long,
        fresh: Vector[(Long, V)]): Iterator[(String, Long, Long, W)] = {
      val values = mergeSorted(buf.get().toVector, fresh)
      if (values.isEmpty) return Iterator.empty
      val gapUs = gapMs * 1000
      val sessions = values.tail.foldLeft(Vector(Vector(values.head))) { (acc, v) =>
        if (v._1 - acc.last.last._1 > gapUs) acc :+ Vector(v)
        else acc.init :+ (acc.last :+ v)
      }
      val (sealed_, open) = sessions.partition(s => s.last._1 / 1000 + gapMs < watermarkMs)
      buf.clear()
      if (open.nonEmpty) {
        // a real Array[Tuple2] — ListState.put casts, Array[AnyRef] fails
        implicit val ct: scala.reflect.ClassTag[(Long, V)] =
          scala.reflect.ClassTag(classOf[Tuple2[_, _]])
            .asInstanceOf[scala.reflect.ClassTag[(Long, V)]]
        buf.put(open.flatten.toArray)
        val nextSeal = open.map(s => s.last._1 / 1000 + gapMs + 1).min
        if (!getHandle.listTimers().contains(nextSeal))
          getHandle.registerTimer(nextSeal)
      }
      sealed_.iterator.flatMap { s =>
        var st = logic.init
        val out = Vector.newBuilder[W]
        s.foreach { case (_, v) =>
          val (s2, ws) = logic.onValue(st, v)
          st = s2
          out ++= ws
        }
        out ++= logic.onClose(st)
        out.result().iterator.map(w => (key, s.head._1 / 1000, s.last._1 / 1000 + gapMs, w))
      }
    }

    override def handleInputRows(key: String, rows: Iterator[(String, (Long, V))],
        tv: TimerValues): Iterator[(String, Long, Long, W)] = {
      val fresh = rows.map(_._2).toVector.sortBy(_._1)
      SessionSortStats.sortedElements.addAndGet(fresh.length)
      closePass(key, tv.getCurrentWatermarkInMs(), fresh)
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, Long, Long, W)] =
      closePass(key, tv.getCurrentWatermarkInMs(), Vector.empty)
  }

  /** Unbounded-data generic window op. Tumbling/sliding close on an
    * event-time timer per (key, window); session windows run the
    * merge-on-arrival buffer processor ([[SessionLogicProcessor]]) —
    * state per key is bounded by the watermark horizon. The watermark
    * comes from `clock.waitFor`. Runs on transformWithState, so it needs
    * the RocksDB state store the house session sets.
    */
  def windowLogicStream[V, W, S](
      df: DataFrame, keyCol: String, clock: EventClock, windower: Windower,
      extract: Row => V, logic: WindowLogic[V, W, S], eager: Boolean = false)(
      implicit bufEnc: Encoder[(Long, V)],
      keyEnc: Encoder[(String, Long, Long)],
      rowEnc: Encoder[((String, Long, Long), (Long, V))],
      outEnc: Encoder[(String, Long, Long, W)]): Dataset[(String, Long, Long, W)] = {
    windower match {
      case SessionWindower(gap) =>
        require(!eager,
          "eager emission is unavailable for session windows: a session's " +
            "final bounds (attached to every output row) are unknown until " +
            "the watermark seals it")
        return sessionLogicStream(df, keyCol, clock, intervalMillis(gap), extract, logic)
      case _ => ()
    }
    val withWin = df
      .withWatermark(clock.tsCol, clock.waitFor)
      .withColumn("__win", windower.expr(col(clock.tsCol)))
    val keyIdx = withWin.schema.fieldIndex(keyCol)
    val winIdx = withWin.schema.fieldIndex("__win")
    val tsIdx = withWin.schema.fieldIndex(clock.tsCol)
    val keyed = withWin.map { r =>
      val win = r.getStruct(winIdx)
      val ts = r.getTimestamp(tsIdx)
      ((r.getString(keyIdx), win.getTimestamp(0).getTime, win.getTimestamp(1).getTime),
        (ts.getTime * 1000 + ts.getNanos / 1000 % 1000, extract(r)))
    }
    val processor =
      if (eager) new EagerWindowLogicProcessor[V, W, S](logic, bufEnc)
      else new WindowLogicProcessor[V, W, S](logic, bufEnc)
    keyed.groupByKey(_._1)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** Session window streaming path behind [[windowLogicStream]]. */
  private def sessionLogicStream[V, W, S](
      df: DataFrame, keyCol: String, clock: EventClock, gapMs: Long,
      extract: Row => V, logic: WindowLogic[V, W, S])(
      implicit bufEnc: Encoder[(Long, V)],
      rowEnc: Encoder[((String, Long, Long), (Long, V))],
      outEnc: Encoder[(String, Long, Long, W)]): Dataset[(String, Long, Long, W)] = {
    val wm = df.withWatermark(clock.tsCol, clock.waitFor)
    val keyIdx = wm.schema.fieldIndex(keyCol)
    val tsIdx = wm.schema.fieldIndex(clock.tsCol)
    val keyed = wm.map { r =>
      val ts = r.getTimestamp(tsIdx)
      (r.getString(keyIdx),
        (ts.getTime * 1000 + ts.getNanos / 1000 % 1000, extract(r)))
    }(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING, bufEnc))
    keyed.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new SessionLogicProcessor[V, W, S](logic, gapMs, bufEnc),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
