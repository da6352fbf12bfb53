package graft.tools

import org.apache.spark.sql.functions.col
import graft.connectors.Testing
import graft.streaming.StreamingDedup

/** Throughput for the on-ingest near-dup operator
  * ([[StreamingDedup.nearDupPairs]]): feed the documents table through
  * MemoryStream in fixed-size micro-batches, measure docs/s and the
  * emitted pair count, and run the batch operator on the same corpus
  * for the wall-clock reference. (The driver-side collect exists only
  * to feed MemoryStream — the operator itself never collects.)
  *
  * args: [sfDir] [batchSize] [maxBucketSize] [mode]
  *
  * mode `hot` replaces the corpus with a saturated-bucket synthetic
  * (25 groups of identical docs → every band bucket fills to the cap)
  * and raises the threshold above 1 so no pairs emit: it isolates the
  * per-arrival STATE cost when buckets are at cap — the scenario
  * where a whole-bucket rewrite is O(cap) per visit but a ListState
  * append is O(1).
  */
object DedupStreamBench {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val batchSize = if (args.length > 1) args(1).toInt else 500
    val cap = if (args.length > 2) args(2).toInt else 128
    val mode = if (args.length > 3) args(3) else "corpus"
    val cpus = graft.Session.cpus(32)
    val spark = graft.Session.local(cpus, sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .map("spark.local.dir" -> _).toSeq ++ Seq(
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8"),
      // per-put row counting forces a RocksDB read-before-write on every
      // ListState append; the operator never reads the row count
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
        sys.env.getOrElse("SPARK_GRAFT_STREAM_TRACKROWS", "false"),
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*)
    import spark.implicits._

    val docs =
      if (mode == "hot") {
        val base = graft.Tables.load(spark, dir, "documents")
          .select(col("text")).as[String].take(25)
        (0 until 5000).map(i => (i.toLong, base(i % 25))).toArray
      } else
        graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val threshold = if (mode == "hot") 1.01 else 0.5

    val src = Testing.testingSource[(Long, String)](spark,
      numPartitions = Some(cpus))
    // mode `assets`: the dhash signature operator instead of minhash —
    // same harness, same corpus bytes as blobs
    val out =
      if (mode == "assets")
        StreamingDedup.nearDupAssets(
          src.toDS().toDF("doc_id", "text")
            .select(col("doc_id"), col("text").cast("binary").as("blob")),
          "doc_id", "blob", target = 64, maxHamming = 6, maxBucketSize = cap)
          .map { case (i, j, h) => (i, j, h.toDouble) }(
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaLong,
              org.apache.spark.sql.Encoders.scalaDouble))
      else
        StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = threshold,
          maxBucketSize = cap)
    val q = out.toDF("i", "j", "jac").writeStream
      .format("memory").queryName("dedup_stream_bench").outputMode("append")
      .option("checkpointLocation",
        s"${sys.env.getOrElse("SPARK_GRAFT_STREAM_CKPT", "/tmp")}/graft-dedupstream-${System.nanoTime()}")
      .start()
    val t0 = System.nanoTime()
    docs.grouped(batchSize).foreach { g =>
      src.addBatch(g.toSeq: _*)
      q.processAllAvailable()
    }
    val streamSec = (System.nanoTime() - t0) / 1e9
    val streamPairs = spark.table("dedup_stream_bench")
      .select(col("i"), col("j")).distinct().count()
    // duration breakdown across micro-batches (where does the fixed
    // per-batch overhead go?) — stderr, not part of the JSON contract
    val durs = q.recentProgress.flatMap(_.durationMs.entrySet().toArray
      .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
      .map(e => e.getKey -> e.getValue.toLong))
      .groupBy(_._1).view.mapValues(v => v.map(_._2).sum).toMap
    System.err.println(s"[streambench] durationMs totals: " +
      durs.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val stateTotals = q.recentProgress.flatMap(_.stateOperators).flatMap { so =>
      Seq("allUpdatesTimeMs" -> so.allUpdatesTimeMs,
        "commitTimeMs" -> so.commitTimeMs,
        "allRemovalsTimeMs" -> so.allRemovalsTimeMs) ++
        so.customMetrics.entrySet().toArray
          .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
          .map(e => e.getKey -> e.getValue.toLong)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    System.err.println(s"[streambench] state totals: " +
      stateTotals.toSeq.sortBy(-_._2).take(12)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    q.stop()

    val t1 = System.nanoTime()
    val batchPairs =
      if (mode == "assets")
        graft.functions.Multimodal.nearDupAssets(
          docs.toSeq.toDF("doc_id", "text")
            .select(col("doc_id"), col("text").cast("binary").as("blob")),
          "doc_id", "blob", target = 64, maxHamming = 6).count()
      else graft.functions.Dedup.minhashLshPairs(
        docs.toSeq.toDF("doc_id", "text"),
        col("doc_id"), col("text"), n = 3, numHashes = 64, bands = 16,
        threshold = threshold, maxBucketSize = cap)
      .count()
    val batchSec = (System.nanoTime() - t1) / 1e9

    println(s"""{"metric":"streaming_dedup","mode":"$mode","docs":${docs.length},"batch_size":$batchSize,"stream_sec":$streamSec,"docs_per_sec":${(docs.length / streamSec).toLong},"stream_pairs":$streamPairs,"batch_sec":$batchSec,"batch_pairs":$batchPairs}""")
    spark.stop()
  }
}
