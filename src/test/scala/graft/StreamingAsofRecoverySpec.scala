package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.connectors.Testing
import graft.streaming.StreamingAsof

/** Checkpoint recovery for the streaming as-of: a buffered left event,
  * the version log, AND the registered event-time timer must all
  * survive a stop/restart — the match can only emit after restart if
  * all three recovered.
  */
class StreamingAsofRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def wm(ds: Dataset[(Long, Long, Double)]): Dataset[(Long, Long, Double)] =
    ds.withColumn("eventTime", timestamp_millis(col("_2")))
      .withWatermark("eventTime", "0 seconds")
      .select(col("_1"), col("_2"), col("_3"))
      .as[(Long, Long, Double)]

  test("buffered event + version log + timer survive stop/restart") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-sasof-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-sasof-out").toFile.getPath
    val lSrc = Testing.testingSource[(Long, Long, Double)](spark)
    val rSrc = Testing.testingSource[(Long, Long, Double)](spark)
    def startQuery() =
      StreamingAsof.asofBackward(wm(lSrc.toDS()), wm(rSrc.toDS()))
        .toDF("k", "lt", "lv", "rt", "rv").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // run 1: version rt=10 + event lt=50 arrive; wm stays below 50,
    // so the event is buffered, not emitted
    rSrc.addBatch((1L, 10L, 1.0))
    lSrc.addBatch((1L, 50L, 5.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir)
      .filter(col("k") === 1L).count() === 0L,
      "event must still be buffered at stop")

    // run 2: only watermark-advancing traffic — the key-1 match can
    // only appear if the buffer, the version log, and the timer at
    // lt=50 were all recovered from the checkpoint
    val q2 = startQuery()
    for (t <- Seq(5000L, 6000L)) {
      lSrc.addBatch((9L, t, 0.0)); rSrc.addBatch((9L, t, 0.0))
      q2.processAllAvailable()
    }
    q2.stop()

    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Double, Option[Long], Option[Double])]
      .collect().filter(_._1 === 1L).toSet
    assert(got === Set((1L, 50L, 5.0, Some(10L), Some(1.0))), got.toString)
  }
}
