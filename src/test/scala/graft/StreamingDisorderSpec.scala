package graft

import org.apache.spark.sql.functions._
import graft.connectors.Testing
import graft.functions.Events
import graft.streaming.StreamingEvents

/** Bounded-disorder faces of the streaming events family: EXACT batch
  * parity under RANDOMIZED arrival orders satisfying the disorder
  * bound (no event arrives after the entity's high-water mark passed
  * its time + disorderUs), for every family member and several seeds
  * and micro-batch splits; plus the deterministic late-drop edge, the
  * idle-flush timer, and checkpoint recovery of the reorder buffer.
  *
  * Arrival generator: sort events by (trueTime + jitter) with jitter
  * uniform in [0, D−1] — any prefix of that order has max true time
  * < t + D for every later event of time t, exactly the bound the
  * wrapper tolerates, so nothing may drop and parity must be exact.
  * Buffers drain deterministically via a per-entity SENTINEL event at
  * maxT + D + 1 (filtered from assertions) — the timer path is
  * exercised separately to keep parity tests clock-free.
  */
class StreamingDisorderSpec extends SparkSpec {
  import spark.implicits._

  private def disorder[T](evs: Seq[T], timeOf: T => Long, d: Long,
      seed: Long): Seq[T] = {
    val rng = new scala.util.Random(seed)
    evs.map(e => (timeOf(e) + rng.nextInt(d.toInt), rng.nextLong(), e))
      .sortBy(t => (t._1, t._2)).map(_._3)
  }

  // ---- funnel ----

  private val funnelRows = Seq(
    (1L, 10L, "view"), (1L, 15L, "view"), (1L, 5L, "click"),
    (1L, 15L, "click"), (1L, 18L, "purchase"),
    (2L, 10L, "view"), (2L, 10L, "click"), (2L, 25L, "click"),
    (3L, 10L, "view"), (3L, 14L, "click"), (3L, 12L, "purchase"),
    (4L, 10L, "click"), (4L, 20L, "purchase"))
  private val steps = Seq("view", "click", "purchase")

  private def funnelDis(splits: Seq[Seq[(Long, Long, String)]],
      d: Long): Map[Long, Seq[Long]] = {
    val src = Testing.testingSource[(Long, (Long, String))](spark)
    val out = StreamingEvents.funnelStreamDisordered(src.toDS(), steps,
      disorderUs = d, maxSpanUs = Some(10L))
    val q = out.writeStream.format("memory").queryName("dfunnel")
      .outputMode("append").start()
    try {
      splits.foreach { b =>
        src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
        q.processAllAvailable()
      }
      spark.table("dfunnel").as[(Long, Seq[Long])].collect()
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).maxBy(_.length) }
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS dfunnel")
    }
  }

  private def funnelBatch: Map[Long, Seq[Long]] =
    Events.funnel(funnelRows.toDF("user_id", "us", "event_type"),
      "user_id", "us", "event_type", steps, Some(10L)).collect()
      .map { r =>
        r.getLong(0) -> Seq(Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))
          .takeWhile(_.isDefined).map(_.get.asInstanceOf[Long])
      }.toMap

  test("funnelStreamDisordered: exact batch parity under randomized bounded disorder") {
    val d = 8L
    val expected = funnelBatch
    for (seed <- 1L to 4L) {
      val arrival = disorder[(Long, Long, String)](funnelRows, _._2, d, seed)
      val maxT = funnelRows.map(_._2).max
      val drain = funnelRows.map(_._1).distinct.map(u => (u, maxT + d + 1, "~"))
      val splits = arrival.grouped(3).toSeq :+ drain
      assert(funnelDis(splits, d) === expected, s"seed $seed")
    }
  }

  // ---- sessionize ----

  test("sessionizeStreamDisordered: exact batch parity under randomized bounded disorder") {
    val evs = Seq((1L, 0L), (1L, 10L), (1L, 21L), (2L, 5L), (1L, 40L),
      (2L, 16L), (1L, 45L), (2L, 100L))
    val expected = Events.sessionize(
        evs.toDF("user_id", "us"), "user_id", "us", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val d = 12L
    val maxT = evs.map(_._2).max
    for (seed <- 1L to 4L) {
      val arrival = disorder[(Long, Long)](evs, _._2, d, seed)
      val drain = evs.map(_._1).distinct.map(u => (u, maxT + d + 1))
      val got = {
        val src = Testing.testingSource[(Long, Long)](spark)
        val out = StreamingEvents.sessionizeStreamDisordered(src.toDS(),
          gapUs = 10L, disorderUs = d)
        val q = out.writeStream.format("memory").queryName("dsess")
          .outputMode("append").start()
        try {
          (arrival.grouped(2).toSeq :+ drain).foreach { b =>
            src.addBatch(b: _*); q.processAllAvailable()
          }
          spark.table("dsess").as[(Long, (Long, Long))].collect()
            .collect { case (u, (us, idx)) if us <= maxT => (u, us) -> idx }
            .toMap
        } finally {
          q.stop(); spark.sql("DROP TABLE IF EXISTS dsess")
        }
      }
      assert(got === expected, s"seed $seed")
    }
  }

  // ---- cusum ----

  test("cusumStreamDisordered: exact batch parity under randomized bounded disorder") {
    val evs = Seq(
      (1L, 1L, 14L), (1L, 2L, 15L), (1L, 3L, 13L), (1L, 4L, 16L),
      (1L, 5L, 5L), (1L, 6L, 11L), (1L, 7L, 12L),
      (2L, 1L, 10L), (2L, 2L, 10L))
    val expected = Events.cusum(
        evs.toDF("user_id", "us", "v"), "user_id", "us", "v",
        ref = 10L, threshold = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getBoolean(4)))).toMap
    val d = 4L
    val maxT = evs.map(_._2).max
    for (seed <- 1L to 4L) {
      val arrival = disorder[(Long, Long, Long)](evs, _._2, d, seed)
      val drain = evs.map(_._1).distinct.map(u => (u, maxT + d + 1, 0L))
      val got = {
        val src = Testing.testingSource[(Long, (Long, Long))](spark)
        val out = StreamingEvents.cusumStreamDisordered(src.toDS(),
          ref = 10L, threshold = 5L, disorderUs = d)
        val q = out.writeStream.format("memory").queryName("dcusum")
          .outputMode("append").start()
        try {
          (arrival.grouped(3).toSeq :+ drain).foreach { b =>
            src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
            q.processAllAvailable()
          }
          spark.table("dcusum")
            .as[(Long, (Long, Long, Long, Boolean))].collect()
            .collect { case (u, (us, _, c, s)) if us <= maxT =>
              (u, us) -> ((c, s)) }.toMap
        } finally {
          q.stop(); spark.sql("DROP TABLE IF EXISTS dcusum")
        }
      }
      assert(got === expected, s"seed $seed")
    }
  }

  // ---- transitions ----

  test("transitionsStreamDisordered: batch-matrix parity under randomized bounded disorder") {
    // unique times per user: tie order under reordering is the
    // in-order face's documented engine-choice, not parity material
    val evs = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"),
      (1L, 4L, "click"), (2L, 1L, "view"), (2L, 5L, "buy"),
      (3L, 9L, "view"))
    val expected = Events.transitions(
        evs.toDF("user_id", "us", "event_type"),
        "user_id", "us", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val d = 5L
    val maxT = evs.map(_._2).max
    for (seed <- 1L to 4L) {
      val arrival = disorder[(Long, Long, String)](evs, _._2, d, seed)
      val drain = evs.map(_._1).distinct.map(u => (u, maxT + d + 1, "~"))
      val got = {
        val src = Testing.testingSource[(Long, (Long, String))](spark)
        val out = StreamingEvents.transitionsStreamDisordered(src.toDS(),
          disorderUs = d)
        val q = out.writeStream.format("memory").queryName("dtrans")
          .outputMode("append").start()
        try {
          (arrival.grouped(2).toSeq :+ drain).foreach { b =>
            src.addBatch(b.map(r => (r._1, (r._2, r._3))): _*)
            q.processAllAvailable()
          }
          spark.table("dtrans").as[(Long, (String, String))].collect()
            .filter(_._2._2 != "~")
            .groupBy(_._2).map { case (p, vs) => p -> vs.length.toLong }
        } finally {
          q.stop(); spark.sql("DROP TABLE IF EXISTS dtrans")
        }
      }
      assert(got === expected, s"seed $seed")
    }
  }

  // ---- attribution ----

  test("attributionStreamDisordered: batch parity, all models, randomized bounded disorder") {
    val rows = Seq(
      (1L, 1L, "view", 10L), (1L, 2L, "click", 11L), (1L, 3L, "view", 12L),
      (1L, 5L, "buy", 90L), (1L, 6L, "click", 13L), (1L, 8L, "buy", 91L),
      (2L, 4L, "view", 20L), (2L, 7L, "view", 21L), (2L, 7L, "buy", 92L),
      (2L, 7L, "buy", 93L),
      (3L, 1L, "view", 30L), (3L, 150L, "buy", 94L))
    val d = 6L
    val maxT = rows.map(_._2).max
    for (m <- Seq("first", "last", "linear", "position"); seed <- 1L to 2L) {
      val expected = Events.attribution(
          rows.toDF("user_id", "us", "event_type", "event_id"),
          "user_id", "us", "event_type", "event_id", "event_type",
          "buy", Seq("view", "click"), 100L, m)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(6)))
        .toSet
      val arrival = disorder[(Long, Long, String, Long)](rows, _._2, d, seed)
      val drain = rows.map(_._1).distinct.map(u => (u, maxT + d + 1, "~", 0L))
      val got = {
        val src =
          Testing.testingSource[(Long, (Long, Long, String, String))](spark)
        val out = StreamingEvents.attributionStreamDisordered(src.toDS(),
          convType = "buy", touchTypes = Seq("view", "click"),
          lookbackUs = 100L, disorderUs = d, model = m)
        val q = out.writeStream.format("memory").queryName("dattr")
          .outputMode("append").start()
        try {
          (arrival.grouped(3).toSeq :+ drain).foreach { b =>
            src.addBatch(b.map(r => (r._1, (r._2, r._4, r._3, r._3))): _*)
            q.processAllAvailable()
          }
          spark.table("dattr")
            .as[(Long, (Long, Long, Long, String, Long, Long))].collect()
            .map { case (u, (cus, tid, _, _, _, cr)) => (u, cus, tid, cr) }
            .toSet
        } finally {
          q.stop(); spark.sql("DROP TABLE IF EXISTS dattr")
        }
      }
      assert(got === expected, s"model $m seed $seed")
    }
  }

  // ---- edges: late drop, zero tolerance, idle flush, recovery ----

  test("disorder faces: an event later than the tolerance drops; within it, reorders") {
    // D=10: high-water 30 → frontier 20, session rows ≤ 20 released;
    // t=15 arrives after (15 ≤ flushed 20) → DROPPED; t=25 is inside
    // the buffer window → accepted and ordered before 30
    val got = {
      val src = Testing.testingSource[(Long, Long)](spark)
      val out = StreamingEvents.sessionizeStreamDisordered(src.toDS(),
        gapUs = 100L, disorderUs = 10L)
      val q = out.writeStream.format("memory").queryName("dlate")
        .outputMode("append").start()
      try {
        Seq(Seq((1L, 5L), (1L, 30L)), Seq((1L, 15L)), Seq((1L, 25L)),
          Seq((1L, 60L))).foreach { b =>
          src.addBatch(b: _*); q.processAllAvailable()
        }
        spark.table("dlate").as[(Long, (Long, Long))].collect()
          .map(_._2._1).toSet
      } finally {
        q.stop(); spark.sql("DROP TABLE IF EXISTS dlate")
      }
    }
    // released: 5 and 20-frontier batch → {5}; then 25,30 released at
    // frontier 50 (t=60 batch); 15 never appears; 60 still buffered
    assert(got === Set(5L, 25L, 30L))
  }

  test("disorder faces: idle-flush timer drains the tail buffer") {
    val src = Testing.testingSource[(Long, Long)](spark)
    val out = StreamingEvents.sessionizeStreamDisordered(src.toDS(),
      gapUs = 100L, disorderUs = 1000000L, idleFlushMs = 400L)
    // ProcessingTime time mode keeps scheduling micro-batches, so
    // processAllAvailable never settles (the TransformWithStateSpec
    // TTL-test pattern): poll the sink with a deadline instead —
    // the engine's own batches fire the timer once the key idles
    // past the debounce
    val q = out.writeStream.format("memory").queryName("didle")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .start()
    try {
      // everything sits in the disorder buffer (frontier far below)
      src.addBatch((1L, 5L), (1L, 30L))
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
          spark.table("didle").count() < 2) Thread.sleep(200L)
      val got = spark.table("didle").as[(Long, (Long, Long))].collect()
        .filter(_._1 == 1L).map(r => r._2).sorted.toSeq
      assert(got === Seq((5L, 1L), (30L, 1L)), got.toString)
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS didle")
    }
  }

  test("disorder buffer + high-water mark survive stop/restart") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-dis-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-dis-out").toFile.getPath
    val src = Testing.testingSource[(Long, Long)](spark)
    def startQuery() =
      StreamingEvents.sessionizeStreamDisordered(src.toDS(),
          gapUs = 10L, disorderUs = 50L)
        .map { case (u, (us, idx)) => (u, us, idx) }
        .toDF("u", "us", "idx").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // run 1: both events inside the disorder window — buffered only
    val q1 = startQuery()
    src.addBatch((1L, 40L), (1L, 20L))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() === 0L,
      "events must still be buffered at stop")

    // run 2: an advancer past 40+50 releases BOTH in order — only
    // possible if the buffer and the 40 high-water mark recovered
    val q2 = startQuery()
    src.addBatch((1L, 200L))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).as[(Long, Long, Long)]
      .collect().sortBy(_._2).toSeq
    // gap 10: 20 opens session 1, 40 opens session 2 (gap 20 > 10);
    // 200 itself still buffered
    assert(got === Seq((1L, 20L, 1L), (1L, 40L, 2L)), got.toString)
  }
}
