package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.connectors.Testing
import graft.streaming.{StreamingOps, TransformWithStateOps}
import graft.windowing.{EventClock, TumblingWindower}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("statefulMapStream keeps running state across micro-batches") {
    val src = Testing.testingSource[(String, Double)](spark)
    src.addBatch(("a", 1.0), ("b", 2.0))
    src.addBatch(("a", 3.0))
    val out = StreamingOps.statefulMapStream[String, Double, Double, Double](
      src.toDS(), _ => 0.0) { (s, v) => val s2 = s + v; (s2, s2) }
    val got = StreamingOps.runToMemory(out, "running_sum")
      .as[(String, Double)].collect().toSet
    assert(got === Set(("a", 1.0), ("b", 2.0), ("a", 4.0)))
  }

  test("collectStream flushes on maxSize") {
    // collect on the keyed stream engine (TransformWithStateOps.collectTws):
    // every key's count is a multiple of maxSize, so each key flushes
    // whole groups in arrival order and leaves no buffer for the timer
    val src = Testing.testingSource[(String, Int)](spark)
    src.addBatch(("k", 1), ("j", 5), ("k", 2), ("k", 3), ("j", 6), ("k", 4))
    val out = TransformWithStateOps.collectTws(src.toDS(), maxSize = 2, timeoutMs = 60000)
      .map { case (k, vs) => (k, vs.mkString(",")) }
    val got = StreamingOps.runToMemoryUntil(out, "collected", expectedRows = 3, timeoutMs = 30000)
      .as[(String, String)].collect().toSet
    assert(got === Set(("k", "1,2"), ("k", "3,4"), ("j", "5,6")))
  }

  test("lateTee marking matches the stream's numRowsDroppedByWatermark") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // Stream: batch 1 advances the watermark to 09:55 (10:00 - 5m);
    // batch 2 carries one late row (09:00 < watermark, dropped by the
    // windowed agg) and one on-time row (10:04).
    val src = Testing.testingSource[(String, Timestamp)](spark)
    val agg = src.toDS().toDF("key", "ts")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("key")).count()
    val q = agg.writeStream.format("memory").queryName("late_agg")
      .outputMode(OutputMode.Append.toString.toLowerCase).start()
    src.addBatch(("k", t("2024-01-01 10:00:00")))
    q.processAllAvailable()
    src.addBatch(("k", t("2024-01-01 09:00:00")), ("k", t("2024-01-01 10:04:00")))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    assert(dropped === 1L, "exactly the 09:00 row is beyond the watermark")
    // The bounded tee marks the same row: per-key max = 10:04, cutoff
    // 09:59 → only 09:00 is late (10:00 survives).
    val all = Seq(("k", t("2024-01-01 10:00:00")), ("k", t("2024-01-01 09:00:00")),
      ("k", t("2024-01-01 10:04:00"))).toDF("key", "ts")
    val late = StreamingOps.lateTee(all, "ts", "'5 minutes'", col("key"))
      .select(col("ts")).as[Timestamp].collect().toSet
    assert(late === Set(t("2024-01-01 09:00:00")))
  }

  test("windowStream aggregates tumbling windows with a watermark") {
    val src = Testing.testingSource[(java.sql.Timestamp, String)](spark)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    src.addBatch((ts(1), "x"), (ts(2), "x"), (ts(31), "x"), (ts(5), "y"))
    val df = src.toDS().toDF("ts", "k")
    val out = StreamingOps.windowStream(df, EventClock("ts", "10 minutes"),
      TumblingWindower("30 minutes"), Seq(col("k")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").cast("long").as("w"), col("k"), col("n"))
    // Complete mode: emit all windows each batch (append-mode emission
    // waits for the watermark to pass window end, which a single drained
    // batch never reaches).
    val got = StreamingOps.runToMemory(out, "windowed", OutputMode.Complete())
      .as[(Long, String, Long)].collect().toSet
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(got === Set((base, "x", 2L), (base + 1800, "x", 1L), (base, "y", 1L)))
  }

  test("windowStream session windows merge across micro-batch boundaries") {
    val src = Testing.testingSource[(java.sql.Timestamp, String)](spark)
    def ts(m: Int, s: Int = 0) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    // one session (gap 5m): 10:00, 10:03, 10:06; separate session at 10:30
    src.addBatch((ts(0), "u"), (ts(3), "u"))
    src.addBatch((ts(6), "u"), (ts(30), "u"))
    val df = src.toDS().toDF("ts", "k")
    val out = StreamingOps.windowStream(df, graft.windowing.EventClock("ts", "0 seconds"),
      graft.windowing.SessionWindower("5 minutes"), Seq(col("k")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").cast("long").as("w"), col("n"))
    val got = StreamingOps.runToMemory(out, "sessioned", OutputMode.Complete())
      .as[(Long, Long)].collect().toSet
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    assert(got === Set((base, 3L), (base + 1800, 1L)))
  }

  test("streamingExactDedup drops repeats within the watermark horizon") {
    val src = Testing.testingSource[(Long, java.sql.Timestamp)](spark)
    def at(sec: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + sec * 1000L)
    src.addBatch((1L, at(0)), (2L, at(1)), (1L, at(2)), (3L, at(3)), (2L, at(4)))
    val deduped = graft.functions.Dedup.streamingExactDedup(
      src.toDS().toDF("id", "ts"), "ts", "10 minutes", "id")
    val got = StreamingOps.runToMemory(deduped, "stream_dedup")
      .select("id").as[Long].collect().toSeq
    assert(got.sorted === Seq(1L, 2L, 3L))
  }

  test("curation text ops run unchanged inside a streaming query") {
    // the scrub/quality/repetition expressions are pure Columns, so the
    // same code drives readStream pipelines — prove it end-to-end:
    // PII redact → quality score → exact dedup within the watermark
    import graft.functions.{Dedup, Text}
    val src = Testing.testingSource[(Long, String, java.sql.Timestamp)](spark)
    def at(sec: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + sec * 1000L)
    val good = "the quick brown fox is a fast animal and the dog is in the yard now ok"
    src.addBatch(
      (1L, s"$good mail me a.b@ex.co", at(0)),
      (2L, "zz", at(1)),                            // fails the quality gate
      (3L, s"$good mail me a.b@ex.co", at(2)))      // exact dup of 1 post-redaction
    val cleaned = src.toDS().toDF("id", "text", "ts")
      .withColumn("text", Text.redactPii(col("text")))
      .withColumn("quality", Text.qualityScore(col("text"), Text.langStopwords.head._2))
      .filter(col("quality") >= 0.4)
      .withColumn("fp", Text.fingerprint(col("text")))
    val deduped = Dedup.streamingExactDedup(cleaned, "ts", "10 minutes", "fp")
    val got = StreamingOps.runToMemory(deduped, "stream_curate")
      .select("id", "text").as[(Long, String)].collect().toSeq
    assert(got.map(_._1) === Seq(1L))
    assert(got.head._2.endsWith("mail me <EMAIL>"))
  }

  test("statefulStream onBatch sees whole per-key batch and can clear state") {
    // stateful_batch on the keyed stream engine (statefulTws): one
    // onBatch call per key and micro-batch, and a None state clears the
    // key, here whenever one batch brings the key 7 or more
    val src = Testing.testingSource[(String, Int)](spark)
    val logic = new TransformWithStateOps.GraftStatefulLogic[String, Int, Int, Int] {
      def onBatch(key: String, vs: Seq[Int], s: Option[Int]): (Option[Int], Seq[Int]) = {
        val total = s.getOrElse(0) + vs.sum
        (if (vs.sum >= 7) None else Some(total), Seq(total))
      }
    }
    val q = TransformWithStateOps.statefulTws(src.toDS(), logic).writeStream
      .format("memory").queryName("batched").outputMode("append").start()
    try {
      src.addBatch(("a", 1), ("a", 2), ("b", 7)); q.processAllAvailable()
      src.addBatch(("a", 4), ("b", 1)); q.processAllAvailable()
    } finally q.stop()
    // a: 3, then 7 on the kept state; b: 7 (cleared), then 1 from empty
    assert(spark.table("batched").as[(String, Int)].collect().toSeq.sorted ===
      Seq(("a", 3), ("a", 7), ("b", 1), ("b", 7)))
  }

  test("withIdleWatermark closes windows on wall clock with no further data (EventClock idle advance)") {
    // Data-driven watermark alone would stall at 10:00:05 and the
    // [10:00:00,10:00:10) window would NEVER emit in append mode; the
    // wall-clock heartbeat (event time = now ≫ 2024) must close it.
    // the policy goes on a clone, never on the shared session, so the
    // default-policy refusal case below holds in any suite order
    val maxPolicy = spark.newSession()
    maxPolicy.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    val src = Testing.testingSource[(String, java.sql.Timestamp)](maxPolicy)
    def at(sec: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + sec * 1000L)
    src.addBatch(("k", at(0)), ("k", at(3)), ("k", at(5)))
    val ticked = StreamingOps.withIdleWatermark(
      src.toDS().toDF("k", "ts"), "ts", "1 second")
    val agged = ticked
      .groupBy(window(col("ts"), "10 seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("n"))
    val got = StreamingOps.runToMemoryUntil(agged, "idle_wm",
      expectedRows = 1, timeoutMs = 60000)
      .as[(String, Long)].collect().toSet
    assert(got === Set(("k", 3L)))
  }

  test("tracing captures micro-batch spans with observed step metrics (setup_tracing analogue)") {
    import graft.streaming.Tracing
    val collector = new Tracing.Collector
    val guard = Tracing.setup(spark)(collector.export)
    try {
      val src = Testing.testingSource[(String, Long)](spark)
      src.addBatch(("a", 1L), ("b", 2L))
      src.addBatch(("a", 3L))
      val observed = src.toDS().toDF("k", "v")
        .observe("step_in", count(lit(1)).as("rows"))
      StreamingOps.runToMemory(observed, "traced_q")
      val spans = collector.spans
      val micro = spans.filter(s => s.kind == "microbatch" && s.flow == "traced_q")
      assert(micro.nonEmpty, s"no microbatch spans in: $spans")
      assert(micro.map(_.inputRows).sum === 3)
      val withMetrics = micro.filter(_.observed.contains("step_in"))
      assert(withMetrics.nonEmpty, "observed step metric never surfaced in a span")
      // per-batch observed counts sum to the 3 input rows however the
      // source frames the batches
      val counted = withMetrics.flatMap(_.observed.get("step_in"))
        .flatMap("""\d+""".r.findFirstIn).map(_.toLong).sum
      assert(counted === 3L, s"observed counts: $withMetrics")
      assert(spans.exists(_.kind == "query-start"))
    } finally guard.close()
    // after close() the listener is detached: new queries produce no spans
    val before = collector.spans.count(_.kind == "microbatch")
    val src2 = Testing.testingSource[Int](spark)
    src2.addBatch(1, 2, 3)
    StreamingOps.runToMemory(src2.toDS().toDF("v"), "untraced_q")
    assert(collector.spans.count(_.kind == "microbatch") === before)
  }

  test("withIdleWatermark refuses to run under the default min watermark policy") {
    val src = Testing.testingSource[(String, java.sql.Timestamp)](spark)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.withIdleWatermark(src.toDS().toDF("k", "ts"), "ts", "1 second")
    }
    assert(e.getMessage.contains("multipleWatermarkPolicy"))
  }
}
