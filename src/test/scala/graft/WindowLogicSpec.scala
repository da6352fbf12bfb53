package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.connectors.Testing
import graft.streaming.StreamingOps
import graft.windowing._

/** Generic WindowLogic engine: ordered replay per (key, window) in both
  * the batch (secondary-sort) and streaming (transformWithState +
  * event-time timer) engines, and the session inline-formation path.
  */
class WindowLogicSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Emits "v<id>" for the first 2 values (incremental emission) and
    * "sum:<total>" at close — output depends on in-window order.
    */
  private object DemoLogic extends WindowLogicOps.WindowLogic[Long, String, Vector[Long]] {
    def init: Vector[Long] = Vector.empty
    def onValue(st: Vector[Long], id: Long): (Vector[Long], Seq[String]) =
      (st :+ id, if (st.size < 2) Seq(s"v$id") else Seq.empty)
    def onClose(st: Vector[Long]): Seq[String] = Seq("sum:" + st.sum)
  }

  private val clock = EventClock("ts", "0 seconds")

  private def fixture = Seq(
    ("a", ts("2024-01-01 00:05:00"), 1L, 1.0),
    ("a", ts("2024-01-01 00:20:00"), 2L, 5.0),
    ("a", ts("2024-01-01 00:40:00"), 3L, 2.0),
    ("a", ts("2024-01-01 01:10:00"), 4L, 9.0),
    ("b", ts("2024-01-01 00:30:00"), 5L, 3.0)
  ).toDF("key", "ts", "event_id", "value")

  private val extractId = (r: Row) => r.getAs[Long]("event_id")

  test("batch engine replays values in ts order per (key, tumbling window)") {
    val out = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      fixture, "key", clock, TumblingWindower("1 hour"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    val h0 = ts("2024-01-01 00:00:00").getTime
    val h1 = ts("2024-01-01 01:00:00").getTime
    val h2 = ts("2024-01-01 02:00:00").getTime
    assert(out === Set(
      ("a", h0, h1, "v1"), ("a", h0, h1, "v2"), ("a", h0, h1, "sum:6"),
      ("a", h1, h2, "v4"), ("a", h1, h2, "sum:4"),
      ("b", h0, h1, "v5"), ("b", h0, h1, "sum:5")))
  }

  test("sliding windows assign each value to every overlapping window") {
    val out = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      fixture.filter($"key" === "b"), "key", clock,
      SlidingWindower("1 hour", "30 minutes"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    val t0 = ts("2024-01-01 00:00:00").getTime
    val t30 = ts("2024-01-01 00:30:00").getTime
    val t60 = ts("2024-01-01 01:00:00").getTime
    val t90 = ts("2024-01-01 01:30:00").getTime
    assert(out === Set(
      ("b", t0, t60, "v5"), ("b", t0, t60, "sum:5"),
      ("b", t30, t90, "v5"), ("b", t30, t90, "sum:5")))
  }

  test("session engine splits on gap and merges touching windows") {
    val df = Seq(
      // session 1: 00:00, 00:10 (within gap), 00:20 (exactly gap after
      // 00:10 — touch extends, matching Spark session_window semantics)
      ("k", ts("2024-01-01 00:00:00"), 1L, 0.0),
      ("k", ts("2024-01-01 00:10:00"), 2L, 0.0),
      ("k", ts("2024-01-01 00:20:00"), 3L, 0.0),
      // session 2: strictly more than 10 minutes after 00:20
      ("k", ts("2024-01-01 00:31:00"), 4L, 0.0)
    ).toDF("key", "ts", "event_id", "value")
    val out = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      df, "key", clock, SessionWindower("10 minutes"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    val s1Start = ts("2024-01-01 00:00:00").getTime
    val s1End = ts("2024-01-01 00:30:00").getTime // last ts + gap
    val s2Start = ts("2024-01-01 00:31:00").getTime
    val s2End = ts("2024-01-01 00:41:00").getTime
    // onClose rows carry the final window bounds
    assert(out.filter(_._4.startsWith("sum")) === Set(
      ("k", s1Start, s1End, "sum:6"), ("k", s2Start, s2End, "sum:4")))
    assert(out.map(_._4) === Set("v1", "v2", "v4", "sum:6", "sum:4"))
  }

  test("streaming session engine merges out-of-order bridging rows (merge-on-arrival)") {
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    // 30m watermark delay so the bridging row is in-horizon
    val out = WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
      streamDf, "key", EventClock("ts", "30 minutes"), SessionWindower("10 minutes"),
      extractId, DemoLogic)
    // batch 1: two sessions 10m+ apart → both open
    src.addBatch(("k", ts("2024-01-01 00:00:00"), 1L, 0.0),
      ("k", ts("2024-01-01 00:20:00"), 2L, 0.0))
    // batch 2: out-of-order row at 00:10 bridges them into one session
    src.addBatch(("k", ts("2024-01-01 00:10:00"), 3L, 0.0))
    // sentinel pushes the watermark past the merged session's seal bound
    src.addBatch(("zz", ts("2024-01-01 02:00:00"), 99L, 0.0))
    val got = StreamingOps.runToMemory(out, "winlogic_session_stream")
      .as[(String, Long, Long, String)].collect().toSet
      .filter(_._1 != "zz")
    val s0 = ts("2024-01-01 00:00:00").getTime
    val sEnd = ts("2024-01-01 00:30:00").getTime // last ts 00:20 + 10m gap
    // ordered replay across the merge: ids 1,3 are the first two
    assert(got === Set(
      ("k", s0, sEnd, "v1"), ("k", s0, sEnd, "v3"), ("k", s0, sEnd, "sum:6")))
    // the batch engine on the same rows agrees
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1L, 0.0),
      ("k", ts("2024-01-01 00:20:00"), 2L, 0.0),
      ("k", ts("2024-01-01 00:10:00"), 3L, 0.0)
    ).toDF("key", "ts", "event_id", "value")
    val batch = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      df, "key", clock, SessionWindower("10 minutes"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    assert(batch === got)
  }

  test("session buffer sorts each arrival once, never the whole buffer (perf shape)") {
    WindowLogicOps.SessionSortStats.reset()
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    val out = WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
      streamDf, "key", EventClock("ts", "30 minutes"), SessionWindower("10 minutes"),
      extractId, DemoLogic)
    // one hot key, arrivals out of order within and across batches —
    // the buffer grows every batch but must never be re-sorted whole
    src.addBatch(("k", ts("2024-01-01 00:04:00"), 4L, 0.0),
      ("k", ts("2024-01-01 00:00:00"), 1L, 0.0))
    src.addBatch(("k", ts("2024-01-01 00:02:00"), 2L, 0.0),
      ("k", ts("2024-01-01 00:06:00"), 5L, 0.0))
    src.addBatch(("k", ts("2024-01-01 00:03:00"), 3L, 0.0))
    src.addBatch(("zz", ts("2024-01-01 02:00:00"), 99L, 0.0))
    val got = StreamingOps.runToMemory(out, "winlogic_session_sortonce")
      .as[(String, Long, Long, String)].collect().toSet
      .filter(_._1 != "zz")
    val s0 = ts("2024-01-01 00:00:00").getTime
    val sEnd = ts("2024-01-01 00:16:00").getTime // last ts 00:06 + 10m gap
    // ordered replay across all three batches: ids 1,2 are first two
    assert(got === Set(
      ("k", s0, sEnd, "v1"), ("k", s0, sEnd, "v2"), ("k", s0, sEnd, "sum:15")))
    // perf shape: 6 input rows (incl. sentinel) → exactly 6 elements
    // sorted, i.e. each arrival batch sorted once. The old whole-buffer
    // re-sort would have touched 2+4+5(+1) = 12 elements.
    assert(WindowLogicOps.SessionSortStats.sortedElements.get() === 6L)
  }

  test("streaming sliding windows match the batch engine (each value in 2 windows)") {
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    val out = WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
      streamDf, "key", clock, SlidingWindower("1 hour", "30 minutes"),
      extractId, DemoLogic)
    src.addBatch(("b", ts("2024-01-01 00:30:00"), 5L, 3.0),
      ("zz", ts("2024-01-02 00:00:00"), 99L, 0.0))
    val got = StreamingOps.runToMemory(out, "winlogic_sliding_stream")
      .as[(String, Long, Long, String)].collect().toSet
      .filter(_._1 != "zz")
    val batch = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      fixture.filter($"key" === "b"), "key", clock,
      SlidingWindower("1 hour", "30 minutes"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    assert(got === batch)
  }

  test("streaming window logic buffer survives stop/restart (checkpoint recovery)") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-wl-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-wl-out").toFile.getPath
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    def startQuery() =
      WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
          streamDf, "key", clock, TumblingWindower("1 hour"), extractId, DemoLogic)
        .toDF("key", "ws", "we", "w").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    // batch 1 buffers one value for the 00:00 window (no emission yet)
    src.addBatch(("a", ts("2024-01-01 00:05:00"), 1L, 0.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // restart: the buffered value must still be in ListState — without
    // recovery the closed window would emit v2/sum:2 instead
    src.addBatch(("a", ts("2024-01-01 00:10:00"), 2L, 0.0),
      ("zz", ts("2024-01-02 00:00:00"), 9L, 0.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val h0 = ts("2024-01-01 00:00:00").getTime
    val h1 = ts("2024-01-01 01:00:00").getTime
    val got = spark.read.parquet(outDir).as[(String, Long, Long, String)]
      .collect().toSet.filter(_._1 != "zz")
    assert(got === Set(("a", h0, h1, "v1"), ("a", h0, h1, "v2"), ("a", h0, h1, "sum:3")))
  }

  test("eager streaming emits sealed-prefix onValue rows before close, same totals") {
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    val out = WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
      streamDf, "key", clock, TumblingWindower("1 hour"), extractId, DemoLogic,
      eager = true)
    val q = out.toDF("key", "ws", "we", "w").writeStream.format("memory")
      .queryName("winlogic_eager").outputMode("append").start()
    def rowsNow = spark.table("winlogic_eager")
      .as[(String, Long, Long, String)].collect().toSet.filter(_._1 != "zz")
    val h0 = ts("2024-01-01 00:00:00").getTime
    val h1 = ts("2024-01-01 01:00:00").getTime
    try {
      // trigger 1: watermark still at epoch during processing → nothing sealed
      src.addBatch(("a", ts("2024-01-01 00:05:00"), 1L, 0.0),
        ("a", ts("2024-01-01 00:10:00"), 2L, 0.0))
      q.processAllAvailable()
      assert(rowsNow === Set.empty)
      // trigger 2: wm=00:10 seals id1 only (strict <) → v1 surfaces
      // BEFORE the window closes — the reference's emission timing
      src.addBatch(("a", ts("2024-01-01 00:20:00"), 3L, 0.0))
      q.processAllAvailable()
      assert(rowsNow === Set(("a", h0, h1, "v1")))
      // trigger 3: wm=00:20 seals id2 → v2 (id3 emits nothing by logic)
      src.addBatch(("a", ts("2024-01-01 00:40:00"), 4L, 0.0))
      q.processAllAvailable()
      assert(rowsNow === Set(("a", h0, h1, "v1"), ("a", h0, h1, "v2")))
      // close: remainder (nothing pending) + onClose; totals unchanged
      src.addBatch(("zz", ts("2024-01-02 00:00:00"), 99L, 0.0))
      q.processAllAvailable()
      assert(rowsNow === Set(
        ("a", h0, h1, "v1"), ("a", h0, h1, "v2"), ("a", h0, h1, "sum:10")))
    } finally q.stop()
    // identical rows to the deferred engine on the same data
    val batch = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      Seq(("a", ts("2024-01-01 00:05:00"), 1L, 0.0),
        ("a", ts("2024-01-01 00:10:00"), 2L, 0.0),
        ("a", ts("2024-01-01 00:20:00"), 3L, 0.0),
        ("a", ts("2024-01-01 00:40:00"), 4L, 0.0)
      ).toDF("key", "ts", "event_id", "value"),
      "key", clock, TumblingWindower("1 hour"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    assert(batch === rowsNow)
  }

  test("sliding window buffer survives restart; close-time replay stays ts-ordered") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-wl-sl-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-wl-sl-out").toFile.getPath
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    // 30m delay keeps the post-restart out-of-order row in-horizon
    def startQuery() =
      WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
          streamDf, "key", EventClock("ts", "30 minutes"),
          SlidingWindower("1 hour", "30 minutes"), extractId, DemoLogic)
        .toDF("key", "ws", "we", "w").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    src.addBatch(("b", ts("2024-01-01 00:30:00"), 5L, 0.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // restart with an EARLIER row: replay at close must put id6 first
    src.addBatch(("b", ts("2024-01-01 00:10:00"), 6L, 0.0),
      ("zz", ts("2024-01-02 12:00:00"), 9L, 0.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val t2330 = ts("2023-12-31 23:30:00").getTime
    val t0 = ts("2024-01-01 00:00:00").getTime
    val t30 = ts("2024-01-01 00:30:00").getTime
    val t60 = ts("2024-01-01 01:00:00").getTime
    val t90 = ts("2024-01-01 01:30:00").getTime
    val got = spark.read.parquet(outDir).as[(String, Long, Long, String)]
      .collect().toSet.filter(_._1 != "zz")
    assert(got === Set(
      // shared window: restored id5 + new id6, replayed 00:10 then 00:30
      ("b", t0, t60, "v6"), ("b", t0, t60, "v5"), ("b", t0, t60, "sum:11"),
      ("b", t2330, t30, "v6"), ("b", t2330, t30, "sum:6"),
      ("b", t30, t90, "v5"), ("b", t30, t90, "sum:5")))
  }

  test("session buffer survives restart sorted; bridge row still merges (recovery)") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-wl-se-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-wl-se-out").toFile.getPath
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    def startQuery() =
      WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
          streamDf, "key", EventClock("ts", "30 minutes"),
          SessionWindower("10 minutes"), extractId, DemoLogic)
        .toDF("key", "ws", "we", "w").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    // two open sessions buffer, then the query dies
    src.addBatch(("k", ts("2024-01-01 00:00:00"), 1L, 0.0),
      ("k", ts("2024-01-01 00:20:00"), 2L, 0.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // the bridge row merges the RESTORED sessions; v-labels prove the
    // restored buffer replays in timestamp order (an unsorted restore
    // would mis-sessionize or emit v1/v2 instead of v1/v3)
    src.addBatch(("k", ts("2024-01-01 00:10:00"), 3L, 0.0))
    src.addBatch(("zz", ts("2024-01-01 02:00:00"), 99L, 0.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val s0 = ts("2024-01-01 00:00:00").getTime
    val sEnd = ts("2024-01-01 00:30:00").getTime
    val got = spark.read.parquet(outDir).as[(String, Long, Long, String)]
      .collect().toSet.filter(_._1 != "zz")
    assert(got === Set(
      ("k", s0, sEnd, "v1"), ("k", s0, sEnd, "v3"), ("k", s0, sEnd, "sum:6")))
  }

  test("streaming engine (event-time timers) matches the batch engine") {
    val src = Testing.testingSource[(String, Timestamp, Long, Double)](spark)
    // sentinel advances the watermark past every real window's end so
    // their timers fire; its own window is excluded from the compare
    src.addBatch(
      ("a", ts("2024-01-01 00:05:00"), 1L, 1.0),
      ("a", ts("2024-01-01 00:20:00"), 2L, 5.0),
      ("a", ts("2024-01-01 00:40:00"), 3L, 2.0),
      ("a", ts("2024-01-01 01:10:00"), 4L, 9.0),
      ("b", ts("2024-01-01 00:30:00"), 5L, 3.0),
      ("zz", ts("2024-01-02 00:00:00"), 99L, 0.0))
    val streamDf = src.toDS().toDF("key", "ts", "event_id", "value")
    val out = WindowLogicOps.windowLogicStream[Long, String, Vector[Long]](
      streamDf, "key", clock, TumblingWindower("1 hour"), extractId, DemoLogic)
    val got = StreamingOps.runToMemory(out, "winlogic_stream")
      .as[(String, Long, Long, String)].collect().toSet
      .filter(_._1 != "zz")
    val batch = WindowLogicOps.windowLogicBatch[Long, String, Vector[Long]](
      fixture, "key", clock, TumblingWindower("1 hour"), Seq($"event_id"),
      extractId, DemoLogic).collect().toSet
    assert(got === batch)
  }
}
