package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming._

/** Spark 4 `transformWithState` bridge — the closest structural match to
  * the reference's `StatefulBatchLogic` lifecycle (reference
  * pysrc/bytewax/operators/__init__.py:593-792):
  *
  *  - `on_batch`   ⇔ `handleInputRows`
  *  - `notify_at`  ⇔ `StatefulProcessorHandle.registerTimer`
  *  - `on_notify`  ⇔ `handleExpiredTimer`
  *  - `snapshot`   ⇔ state-store persistence (free via checkpoint)
  *
  * Needs the RocksDB state store provider, which the house session
  * ([[graft.Session]]) sets with changelog checkpointing; it is also
  * the recommended provider at 100 TB state sizes. This is graft's one
  * keyed stream engine: `StreamingOps.statefulMapStream`, [[collectTws]]
  * and the singleton cursors in `Connectors` and `Examples` are logics
  * on [[statefulTws]].
  */
object TransformWithStateOps {

  /** The reference's `StatefulBatchLogic` as a Scala trait. Return state
    * `None` from callbacks to discard (⇔ `StatefulLogic.DISCARD`).
    */
  trait GraftStatefulLogic[K, V, S, W] extends Serializable {
    def onBatch(key: K, values: Seq[V], state: Option[S]): (Option[S], Seq[W])
    /** Called when a timer registered via the returned `notifyAtMs` of
      * [[onBatch]] fires. Default: no-op.
      */
    def onNotify(key: K, state: Option[S]): (Option[S], Seq[W]) = (state, Seq.empty)
    /** Processing-time delay for wake-up timers; None disables timers.
      * DEBOUNCE semantics: each batch for a key replaces that key's
      * pending timer, so [[onNotify]] fires only after the key has
      * been IDLE for the delay — the `wait_for_system_duration`
      * posture of the reference's EventClock (windowing.py:263-287):
      * a quiet stream eventually flushes, an active one never flushes
      * mid-disorder-window.
      */
    def notifyAfterMs: Option[Long] = None

    /** Optional state TTL: entries idle longer than this are expired by
      * the state store (no reference analogue — bytewax state lives
      * until explicitly discarded — but free with transformWithState
      * and essential for unbounded key spaces at 100 TB).
      */
    def stateTtl: Option[java.time.Duration] = None
  }

  private class LogicProcessor[K, V, S, W](
      logic: GraftStatefulLogic[K, V, S, W], sEnc: Encoder[S])
    extends StatefulProcessor[K, (K, V), (K, W)] {

    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("graft_state", sEnc,
        logic.stateTtl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: K, rows: Iterator[(K, V)], tv: TimerValues): Iterator[(K, W)] = {
      val cur = if (state.exists()) Some(state.get()) else None
      val (next, out) = logic.onBatch(key, rows.map(_._2).toSeq, cur)
      next match {
        case Some(s) =>
          state.update(s)
          logic.notifyAfterMs.foreach { d =>
            // debounce: replace any pending timer so the notify fires
            // only after the key goes idle for d ms
            getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + d)
          }
        case None => state.clear()
      }
      out.map((key, _)).iterator
    }

    override def handleExpiredTimer(key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[(K, W)] = {
      val cur = if (state.exists()) Some(state.get()) else None
      val (next, out) = logic.onNotify(key, cur)
      next match {
        case Some(s) => state.update(s)
        case None    => state.clear()
      }
      out.map((key, _)).iterator
    }
  }

  /** stateful_batch on the transformWithState engine. TimeMode defaults
    * to the logic's needs: ProcessingTime only when timers are in play —
    * a timer-capable operator keeps scheduling micro-batches, so
    * timerless logic must run in TimeMode.None for queries to drain.
    *
    * Engine-choice history (measured, `tools/TwsBench` — tool removed;
    * source at `72c199a` — 1M items / 10k keys / RocksDB both sides):
    * TWS paid ~60 µs/key-visit of engine machinery over the
    * `flatMapGroupsWithState` engine on the simplest ValueState shape
    * (~1.8× wall on a pure running sum) and reached parity on ListState
    * shapes (bounded collect 1.0–1.1×). TWS is the only engine now, for
    * its capability surface (timers, TTL, typed ListState/MapState).
    */
  def statefulTws[K: Encoder, V, S, W](
      ds: Dataset[(K, V)], logic: GraftStatefulLogic[K, V, S, W],
      timeMode: TimeMode = null)(
      implicit sEnc: Encoder[S], outEnc: Encoder[(K, W)]): Dataset[(K, W)] = {
    val tm = Option(timeMode).getOrElse(
      if (logic.notifyAfterMs.isDefined) TimeMode.ProcessingTime() else TimeMode.None())
    ds.groupByKey(_._1)
      .transformWithState(new LogicProcessor[K, V, S, W](logic, sEnc), tm, OutputMode.Append())
  }

  /** collect on a stream (reference operators/__init__.py:1106-1218):
    * buffer values per key and flush at `maxSize`, or once the key has
    * been idle for `timeoutMs` (the [[GraftStatefulLogic.notifyAfterMs]]
    * debounce ⇔ the reference's `notify_at` timer). A size flush that
    * empties the buffer clears the state; the leftover of a batch stays
    * buffered.
    */
  def collectTws[K: Encoder, V](
      ds: Dataset[(K, V)], maxSize: Int, timeoutMs: Long)(
      implicit bufEnc: Encoder[Seq[V]], outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] = {
    require(maxSize > 0, "maxSize must be positive")
    val logic = new GraftStatefulLogic[K, V, Seq[V], Seq[V]] {
      def onBatch(key: K, values: Seq[V], state: Option[Seq[V]]): (Option[Seq[V]], Seq[Seq[V]]) = {
        val buf = state.getOrElse(Vector.empty[V]) ++ values
        val (full, rest) = buf.splitAt(buf.size - buf.size % maxSize)
        (Option(rest).filter(_.nonEmpty), full.grouped(maxSize).toVector)
      }
      override def onNotify(key: K, state: Option[Seq[V]]): (Option[Seq[V]], Seq[Seq[V]]) =
        (None, state.toVector)
      override def notifyAfterMs: Option[Long] = Some(timeoutMs)
    }
    statefulTws(ds, logic)
  }
}
