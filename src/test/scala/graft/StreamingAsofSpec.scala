package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.connectors.Testing
import graft.operators.AsofJoin
import graft.streaming.StreamingAsof

/** Event-time streaming as-of: watermark-buffered emission (a version
  * arriving in a LATER micro-batch than its event still matches),
  * unmatched keys, beyond-lateness arrivals, batch/stream parity.
  */
class StreamingAsofSpec extends SparkSpec {
  import spark.implicits._

  private def wm(ds: Dataset[(Long, Long, Double)]): Dataset[(Long, Long, Double)] =
    ds.withColumn("eventTime", timestamp_millis(col("_2")))
      .withWatermark("eventTime", "0 seconds")
      .select(col("_1"), col("_2"), col("_3"))
      .as[(Long, Long, Double)]

  test("event buffered until watermark matches a version from a later micro-batch") {
    val lSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val rSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val out = StreamingAsof.asofBackward(wm(lSrc.toDS()), wm(rSrc.toDS()))
    val q = out.writeStream.format("memory").queryName("sasof1")
      .outputMode("append").start()
    try {
      // b1: two versions + two events (key 2 has no versions at all)
      rSrc.addBatch((1L, 10L, 1.0), (1L, 20L, 2.0))
      lSrc.addBatch((1L, 15L, 100.0), (2L, 15L, 200.0))
      q.processAllAvailable()
      // b2: event at 100 for key 1 — its true match (rt=95) has NOT
      // arrived yet
      lSrc.addBatch((1L, 100L, 101.0))
      rSrc.addBatch((1L, 60L, 2.5))
      q.processAllAvailable()
      // b3: rt=95 arrives AFTER the lt=100 event, before the
      // watermark passes 100 (wm is min across sources = 95 here)
      rSrc.addBatch((1L, 95L, 3.0))
      lSrc.addBatch((9L, 5000L, 0.0))
      q.processAllAvailable()
      // b4/b5: advance both sources' watermark nodes past everything
      rSrc.addBatch((9L, 9000L, 0.0))
      lSrc.addBatch((9L, 9000L, 0.0))
      q.processAllAvailable()
      rSrc.addBatch((9L, 9500L, 0.0))
      lSrc.addBatch((9L, 9500L, 0.0))
      q.processAllAvailable()

      val got = spark.table("sasof1")
        .as[(Long, Long, Double, Option[Long], Option[Double])]
        .collect().filter(_._1 < 9L).toSet
      assert(got === Set(
        (1L, 15L, 100.0, Some(10L), Some(1.0)),
        (2L, 15L, 200.0, None, None),
        (1L, 100L, 101.0, Some(95L), Some(3.0))))
    } finally q.stop()
  }

  test("beyond-lateness event emits immediately, best effort") {
    val lSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val rSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val out = StreamingAsof.asofBackward(wm(lSrc.toDS()), wm(rSrc.toDS()))
    val q = out.writeStream.format("memory").queryName("sasof2")
      .outputMode("append").start()
    try {
      rSrc.addBatch((1L, 100L, 1.0), (1L, 900L, 9.0))
      lSrc.addBatch((1L, 1000L, 0.5))
      q.processAllAvailable() // wm -> 900
      // lt=150 is far below the watermark: emitted in its own batch
      // against the versions currently in state (rt=100)
      lSrc.addBatch((1L, 150L, 42.0))
      rSrc.addBatch((9L, 2000L, 0.0))
      q.processAllAvailable()
      val got = spark.table("sasof2")
        .as[(Long, Long, Double, Option[Long], Option[Double])]
        .collect().toSet
      assert(got.contains((1L, 150L, 42.0, Some(100L), Some(1.0))), got)
    } finally q.stop()
  }

  test("batch/stream parity on a constructed corpus") {
    // deterministic corpus: keys 0..4, unique (key, rt) versions
    val lefts = for (k <- 0L to 4L; i <- 0 to 9)
      yield (k, i * 97L + k * 13L + 7L, k * 1000.0 + i)
    val rights = for (k <- 0L to 4L; j <- 0 to 6)
      yield (k, j * 140L + k * 11L, k * 100.0 + j)

    val lSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val rSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val out = StreamingAsof.asofBackward(wm(lSrc.toDS()), wm(rSrc.toDS()))
    val q = out.writeStream.format("memory").queryName("sasof3")
      .outputMode("append").start()
    try {
      // everything in batch 1 (wm=0: all events buffer), then advance
      lSrc.addBatch(lefts: _*)
      rSrc.addBatch(rights: _*)
      q.processAllAvailable()
      for (t <- Seq(50000L, 60000L)) {
        lSrc.addBatch((9L, t, 0.0)); rSrc.addBatch((9L, t, 0.0))
        q.processAllAvailable()
      }
      val got = spark.table("sasof3")
        .as[(Long, Long, Double, Option[Long], Option[Double])]
        .collect().filter(_._1 < 9L).toSet

      val want = AsofJoin.asof(
          lefts.toDF("k", "lt", "lv"), rights.toDF("rk", "rt", "rv"),
          Seq("k" -> "rk"), "lt", "rt")
        .select($"k", $"lt", $"lv", $"rt", $"rv")
        .as[(Long, Long, Double, Option[Long], Option[Double])]
        .collect().toSet
      assert(got === want)
      assert(got.count(_._4.isDefined) > 20, "parity corpus must have real matches")
    } finally q.stop()
  }
}
