package graft

import org.apache.spark.sql.functions._
import graft.connectors.Testing
import graft.functions.Events
import graft.streaming.StreamingEvents

/** Streaming funnel: batch parity under arbitrary micro-batch splits
  * of the time-ordered stream, bounded-state advancement, and the
  * ignored out-of-order stray.
  */
class StreamingEventsSpec extends SparkSpec {
  import spark.implicits._

  // the EventsSpec corpus: user 1 completes within span, user 2 stalls
  // at step 1 (same-instant click; later click outside span), user 3
  // drops at step 3, user 4 never enters
  private val rows = Seq(
    (1L, 10L, "view"), (1L, 15L, "view"), (1L, 5L, "click"),
    (1L, 15L, "click"), (1L, 18L, "purchase"),
    (2L, 10L, "view"), (2L, 10L, "click"), (2L, 25L, "click"),
    (3L, 10L, "view"), (3L, 14L, "click"), (3L, 12L, "purchase"),
    (4L, 10L, "click"), (4L, 20L, "purchase"))
  private val steps = Seq("view", "click", "purchase")

  private def lastPerUser(splits: Seq[Seq[(Long, Long, String)]]): Map[Long, Seq[Long]] = {
    val src = Testing.testingSource[(Long, (Long, String))](spark)
    val out = StreamingEvents.funnelStream(src.toDS(), steps, Some(10L))
    val q = out.writeStream.format("memory").queryName("sfunnel")
      .outputMode("append").start()
    try {
      splits.foreach { b =>
        src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
        q.processAllAvailable()
      }
      // last emission per user = deepest prefix (emissions only grow)
      spark.table("sfunnel").as[(Long, Seq[Long])].collect()
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_.length) }
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS sfunnel")
    }
  }

  private def batchExpected: Map[Long, Seq[Long]] =
    Events.funnel(rows.toDF("user_id", "us", "event_type"),
      "user_id", "us", "event_type", steps, Some(10L)).collect()
      .map { r =>
        r.getLong(0) -> Seq(Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))
          .takeWhile(_.isDefined).map(_.get.asInstanceOf[Long])
      }.toMap

  test("funnelStream: batch parity under two different micro-batch splits") {
    val ordered = rows.sortBy(r => (r._2, r._1))
    val oneBig = lastPerUser(Seq(ordered))
    val perEvent = lastPerUser(ordered.grouped(3).toSeq)
    val expected = batchExpected
    assert(oneBig === expected)
    assert(perEvent === expected)
  }

  test("funnelStream: an out-of-order stray never rewrites a taken step") {
    // view@10 then click@15 taken; a LATE view@2 must not move t1
    val out = lastPerUser(Seq(
      Seq((7L, 10L, "view"), (7L, 15L, "click")),
      Seq((7L, 2L, "view")),
      Seq((7L, 18L, "purchase"))))
    assert(out === Map(7L -> Seq(10L, 15L, 18L)))
  }

  private def sessionStream(splits: Seq[Seq[(Long, Long)]],
      gapUs: Long): Map[(Long, Long), Long] = {
    val src = Testing.testingSource[(Long, Long)](spark)
    val out = StreamingEvents.sessionizeStream(src.toDS(), gapUs)
    val q = out.writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      splits.foreach { b => src.addBatch(b: _*); q.processAllAvailable() }
      spark.table("ssess").as[(Long, (Long, Long))].collect()
        .map { case (u, (us, idx)) => (u, us) -> idx }.toMap
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS ssess")
    }
  }

  test("sessionizeStream: batch parity under two different micro-batch splits") {
    val evs = Seq((1L, 0L), (1L, 10L), (1L, 21L), (2L, 5L), (1L, 40L),
      (2L, 16L), (1L, 45L), (2L, 100L))
    val expected = Events.sessionize(
        evs.toDF("user_id", "us"), "user_id", "us", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ordered = evs.sortBy(_._2)
    assert(sessionStream(Seq(ordered), 10L) === expected)
    assert(sessionStream(ordered.grouped(2).toSeq, 10L) === expected)
  }

  test("sessionizeStream: negative event times match batch (no 0-sentinel gap)") {
    // first event at −100: the old (0,0) sentinel would gap-check −90
    // against 0 and split; the true previous-event gap is 10 → same
    // session. Cross-batch split exercises the persisted-state path.
    val evs = Seq((1L, -100L), (1L, -90L), (1L, -70L), (2L, -5L), (2L, 6L))
    val expected = Events.sessionize(
        evs.toDF("user_id", "us"), "user_id", "us", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ordered = evs.sortBy(_._2)
    assert(sessionStream(Seq(ordered), 10L) === expected)
    assert(sessionStream(ordered.grouped(2).toSeq, 10L) === expected)
  }

  test("sessionizeStream: gap boundary strict across a batch split") {
    // gap == 10 exactly, straddling two micro-batches → same session;
    // gap 11 across a split → new session
    val out = sessionStream(Seq(Seq((1L, 0L)), Seq((1L, 10L)),
      Seq((1L, 21L))), 10L)
    assert(out === Map((1L, 0L) -> 1L, (1L, 10L) -> 1L, (1L, 21L) -> 2L))
  }

  // ---- cusum ----

  private def cusumStream(splits: Seq[Seq[(Long, Long, Long)]], ref: Long,
      thr: Long): Map[(Long, Long), (Long, Boolean)] = {
    val src = Testing.testingSource[(Long, (Long, Long))](spark)
    val out = StreamingEvents.cusumStream(src.toDS(), ref, thr)
    val q = out.writeStream.format("memory").queryName("scusum")
      .outputMode("append").start()
    try {
      splits.foreach { b =>
        src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
        q.processAllAvailable()
      }
      spark.table("scusum")
        .as[(Long, (Long, Long, Long, Boolean))].collect()
        .map { case (u, (us, _, c, s)) => (u, us) -> ((c, s)) }.toMap
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS scusum")
    }
  }

  test("cusumStream: batch parity across splits; clamp, strict threshold, state carry") {
    // user 1 drifts up past the threshold, dips (clamp at 0 resets),
    // then drifts again; user 2 stays flat
    val evs = Seq(
      (1L, 1L, 14L), (1L, 2L, 15L), (1L, 3L, 13L), (1L, 4L, 16L),
      (1L, 5L, 5L), (1L, 6L, 11L), (1L, 7L, 12L),
      (2L, 1L, 10L), (2L, 2L, 10L))
    val expected = Events.cusum(
        evs.toDF("user_id", "us", "v"), "user_id", "us", "v",
        ref = 10L, threshold = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getBoolean(4)))).toMap
    val ordered = evs.sortBy(_._2)
    assert(cusumStream(Seq(ordered), 10L, 5L) === expected)
    assert(cusumStream(ordered.grouped(3).toSeq, 10L, 5L) === expected)
  }

  // ---- transitions ----

  private def transStream(splits: Seq[Seq[(Long, Long, String)]])
      : Map[(String, String), Long] = {
    val src = Testing.testingSource[(Long, (Long, String))](spark)
    val out = StreamingEvents.transitionsStream(src.toDS())
    val q = out.writeStream.format("memory").queryName("strans")
      .outputMode("append").start()
    try {
      splits.foreach { b =>
        src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
        q.processAllAvailable()
      }
      spark.table("strans").as[(Long, (String, String))].collect()
        .groupBy(_._2).map { case (p, vs) => p -> vs.length.toLong }
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS strans")
    }
  }

  test("transitionsStream: batch-matrix parity across splits; first events emit nothing") {
    val evs = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"),
      (1L, 3L, "click"), // same-instant: type-order fallback
      (2L, 1L, "view"), (2L, 5L, "buy"),
      (3L, 9L, "view")) // single event — no pair
    val expected = Events.transitions(
        evs.toDF("user_id", "us", "event_type"),
        "user_id", "us", "event_type", tieBreak = Seq("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val ordered = evs.sortBy(r => (r._2, r._3))
    assert(transStream(Seq(ordered)) === expected)
    assert(transStream(ordered.grouped(2).toSeq) === expected)
  }

  // ---- attribution ----

  private def attribStream(splits: Seq[Seq[(Long, Long, String, Long)]],
      model: String, lookback: Long = 100L)
      : Set[(Long, Long, Long, Long)] = {
    val src = Testing.testingSource[(Long, (Long, Long, String, String))](spark)
    val out = StreamingEvents.attributionStream(src.toDS(),
      convType = "buy", touchTypes = Seq("view", "click"),
      lookbackUs = lookback, model = model)
    val q = out.writeStream.format("memory").queryName("sattr")
      .outputMode("append").start()
    try {
      splits.foreach { b =>
        src.addBatch(b.map(r => (r._1, (r._2, r._4, r._3, r._3))): _*)
        q.processAllAvailable()
      }
      spark.table("sattr")
        .as[(Long, (Long, Long, Long, String, Long, Long))].collect()
        .map { case (u, (cus, tid, _, _, _, cr)) => (u, cus, tid, cr) }
        .toSet
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS sattr")
    }
  }

  private def attribBatch(rows: Seq[(Long, Long, String, Long)],
      model: String, lookback: Long = 100L): Set[(Long, Long, Long, Long)] =
    Events.attribution(rows.toDF("user_id", "us", "event_type", "event_id"),
      "user_id", "us", "event_type", "event_id", "event_type",
      "buy", Seq("view", "click"), lookback, model)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(6)))
      .toSet

  test("attributionStream: batch parity, all four models, two micro-batch splits") {
    // interleaved journeys: user 1 three touches then two conversions
    // (the second sees a refreshed window); user 2 a same-instant
    // duplicate conversion pair (attributes once) and a touch at the
    // conversion instant (excluded: strictly before); user 3 touches
    // outside the lookback only
    val rows = Seq(
      (1L, 1L, "view", 10L), (1L, 2L, "click", 11L), (1L, 3L, "view", 12L),
      (1L, 5L, "buy", 90L), (1L, 6L, "click", 13L), (1L, 8L, "buy", 91L),
      (2L, 4L, "view", 20L), (2L, 7L, "view", 21L), (2L, 7L, "buy", 92L),
      (2L, 7L, "buy", 93L),
      (3L, 1L, "view", 30L), (3L, 150L, "buy", 94L))
    val ordered = rows.sortBy(r => (r._2, r._4))
    for (m <- Seq("first", "last", "linear", "position")) {
      val expected = attribBatch(rows, m)
      assert(attribStream(Seq(ordered), m) === expected, s"model $m, one batch")
      assert(attribStream(ordered.grouped(3).toSeq, m) === expected,
        s"model $m, split")
    }
  }

  test("attributionStream: out-of-order stray touch is never retro-attributed") {
    // conversion at 10 attributes touch 5; a LATE touch@7 arrives
    // after — the emitted conversion must not change, but a LATER
    // conversion at 12 sees both touches
    val out = attribStream(Seq(
      Seq((1L, 5L, "view", 1L), (1L, 10L, "buy", 99L)),
      Seq((1L, 7L, "click", 2L)),
      Seq((1L, 12L, "buy", 98L))), "linear")
    assert(out === Set((1L, 10L, 1L, 1000000L),
      (1L, 12L, 1L, 500000L), (1L, 12L, 2L, 500000L)))
  }

  test("attributionStream: lookback prunes state as time advances") {
    // touch@1 is outside conv@200's window (lookback 100): pruned on
    // the touch@150 arrival, and the conversion sees only touch@150
    val out = attribStream(Seq(
      Seq((1L, 1L, "view", 1L)), Seq((1L, 150L, "view", 2L)),
      Seq((1L, 200L, "buy", 99L))), "position")
    assert(out === Set((1L, 200L, 2L, 1000000L)))
  }
}
