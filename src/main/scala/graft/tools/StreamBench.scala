package graft.tools

import org.apache.spark.sql.functions._
import graft.connectors.Testing

/** Port of the reference's windowing micro-benchmark
  * (reference: examples/benchmark_windowing.py:11-39): 1,000,000 items =
  * 100,000 timestamps × 10 batches, 2 keys, 1-minute tumbling windows,
  * fold into lists, event clock with zero wait. Prints one JSON line
  * with batch-mode and streaming-mode wall seconds.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    // Emission-deferral (default ON, SPARK_GRAFT_NODATA=1 restores
    // Spark's default): without no-data micro-batches each addBatch
    // cycle runs ONE state commit round instead of two (the second being
    // the watermark-advance emission batch). Closed windows then emit
    // with the next data batch — same rows, later trigger. Measured:
    // 36.0 s → 19.5 s on the unique-ts 1M-item run.
    val noData =
      if (sys.env.get("SPARK_GRAFT_NODATA").contains("1")) Nil
      else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    // State shuffle parallelism (default 4): stream state stores =
    // shuffle partitions; each store pays a per-micro-batch commit, so
    // oversized parallelism is pure overhead at this group count
    // (measured: 8 → 4 partitions saves ~7%, 2 another ~4%; at real
    // cluster group counts size this to data, not to the default 200).
    val spark = graft.Session.local(graft.Session.cpus(8), noData :+
      ("spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "4")): _*)
    import spark.implicits._

    // Async progress tracking (SPARK_GRAFT_ASYNC=1): offset/commit-log
    // writes move off the trigger critical path (SPARK-39591). Applied
    // as a per-query writeStream option.
    val asyncOpts: Map[String, String] =
      if (sys.env.get("SPARK_GRAFT_ASYNC").contains("1"))
        Map("asyncProgressTrackingEnabled" -> "true",
          "asyncProgressTrackingCheckpointIntervalMs" -> "0")
      else Map.empty

    val items = 1000000L
    val distinctTs = 100000L

    // ---- batch path: the same fold expressed relationally ----
    val t0 = System.nanoTime()
    spark.range(items)
      .select(
        (col("id") % 2).cast("string").as("key"),
        timestamp_seconds(lit(1704067200L) + col("id") % distinctTs).as("ts"),
        col("id").as("v"))
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(collect_list(col("v")).as("vs"))
      .write.format("noop").mode("overwrite").save()
    val batchSec = (System.nanoTime() - t0) / 1e9

    // ---- streaming path: 10 micro-batches through MemoryStream ----
    // Reference-faithful: each batch repeats the same 100k timestamps, so
    // with a zero watermark delay batches 2..10 land below the watermark
    // and are dropped at the window op (the reference's own benchmark
    // equally discards its output). All 1M items are still ingested,
    // shuffled, and watermark-checked — the throughput number is a full-
    // pipeline lower bound.
    val src = Testing.testingSource[Long](spark)
    val stream = src.toDS()
      .select(
        (col("value") % 2).cast("string").as("key"),
        timestamp_seconds(lit(1704067200L) + col("value") % distinctTs).as("ts"),
        col("value").as("v"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(collect_list(col("v")).as("vs"))
    val q = stream.writeStream
      .format("noop")
      .outputMode("append")
      .options(asyncOpts)
      .option("checkpointLocation", s"/tmp/graft-streambench-${System.nanoTime()}")
      .start()
    val t1 = System.nanoTime()
    val perBatch = (items / 10).toInt
    (0 until 10).foreach { b =>
      val lo = b.toLong * perBatch
      src.addBatch((lo until lo + perBatch): _*)
      q.processAllAvailable()
    }
    val streamSec = (System.nanoTime() - t1) / 1e9
    q.stop()

    // ---- non-degenerate streaming variant: unique, increasing event
    // times (1M distinct seconds), so every batch advances the watermark
    // and closes its own windows — a realistic stream throughput number
    // rather than the reference workload's late-drop degeneration.
    val src2 = Testing.testingSource[Long](spark)
    val stream2 = src2.toDS()
      .select(
        (col("value") % 2).cast("string").as("key"),
        timestamp_seconds(lit(1704067200L) + col("value")).as("ts"),
        col("value").as("v"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(collect_list(col("v")).as("vs"))
    val q2 = stream2.writeStream
      .format("noop")
      .outputMode("append")
      .options(asyncOpts)
      .option("checkpointLocation", s"/tmp/graft-streambench2-${System.nanoTime()}")
      .start()
    val t2 = System.nanoTime()
    (0 until 10).foreach { b =>
      val lo = b.toLong * perBatch
      src2.addBatch((lo until lo + perBatch): _*)
      q2.processAllAvailable()
    }
    val streamUniqSec = (System.nanoTime() - t2) / 1e9
    q2.stop()

    // ---- micro-batch sizing variant: same unique-ts workload, but all
    // source batches are available before the drain, so the engine takes
    // maximal triggers (MemoryStream serves every available offset per
    // trigger). This is the "larger micro-batches" knob: streaming cost
    // converges toward the batch plan as trigger size grows — the
    // per-trigger planning + state-commit round is the gap.
    val src3 = Testing.testingSource[Long](spark)
    val stream3 = src3.toDS()
      .select(
        (col("value") % 2).cast("string").as("key"),
        timestamp_seconds(lit(1704067200L) + col("value")).as("ts"),
        col("value").as("v"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(collect_list(col("v")).as("vs"))
    (0 until 10).foreach { b =>
      val lo = b.toLong * perBatch
      src3.addBatch((lo until lo + perBatch): _*)
    }
    val q3 = stream3.writeStream
      .format("noop")
      .outputMode("append")
      .options(asyncOpts)
      .option("checkpointLocation", s"/tmp/graft-streambench3-${System.nanoTime()}")
      .start()
    val t3 = System.nanoTime()
    q3.processAllAvailable()
    val streamBulkSec = (System.nanoTime() - t3) / 1e9
    q3.stop()

    println(s"""{"metric":"benchmark_windowing","items":$items,"batch_sec":$batchSec,"stream_sec":$streamSec,"items_per_sec_stream":${(items / streamSec).toLong},"stream_unique_sec":$streamUniqSec,"items_per_sec_stream_unique":${(items / streamUniqSec).toLong},"stream_bulk_sec":$streamBulkSec,"items_per_sec_stream_bulk":${(items / streamBulkSec).toLong}}""")
    spark.stop()
  }
}
