package graft

import graft.connectors.Testing
import graft.streaming.{StreamingOps, TransformWithStateOps}

/** The one keyed stream engine, transformWithState, on the RocksDB
  * state store that the house session sets.
  */
class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._

  test("statefulTws runs the StatefulBatchLogic lifecycle on RocksDB state") {
    // both addBatch calls land before the query starts, so they drain
    // as ONE micro-batch: on_batch sees a->[1.0, 3.0] in one call and
    // emits only the post-batch running total (reference on_batch
    // semantics are batch-at-a-time, not per-item)
    val src = Testing.testingSource[(String, Double)](spark)
    src.addBatch(("a", 1.0), ("b", 2.0))
    src.addBatch(("a", 3.0))
    val logic = new TransformWithStateOps.GraftStatefulLogic[String, Double, Double, Double] {
      def onBatch(key: String, vs: Seq[Double], s: Option[Double]): (Option[Double], Seq[Double]) = {
        val total = s.getOrElse(0.0) + vs.sum
        (Some(total), Seq(total))
      }
    }
    val out = TransformWithStateOps.statefulTws(src.toDS(), logic)
    val got = StreamingOps.runToMemory(out, "tws_out")
      .as[(String, Double)].collect().toSet
    assert(got === Set(("a", 4.0), ("b", 2.0)))
    // DISCARD: a callback that returns None clears the key's state, so
    // the key's next batch starts from empty; one micro-batch per
    // addBatch here
    val src2 = Testing.testingSource[(String, Int)](spark)
    val clearing = new TransformWithStateOps.GraftStatefulLogic[String, Int, Int, Int] {
      def onBatch(key: String, vs: Seq[Int], s: Option[Int]): (Option[Int], Seq[Int]) = {
        val total = s.getOrElse(0) + vs.sum
        (if (total >= 10) None else Some(total), Seq(total))
      }
    }
    val q = TransformWithStateOps.statefulTws(src2.toDS(), clearing).writeStream
      .format("memory").queryName("tws_clear").outputMode("append").start()
    try {
      src2.addBatch(("a", 1), ("a", 2), ("b", 7)); q.processAllAvailable()
      src2.addBatch(("a", 9), ("b", 1)); q.processAllAvailable()
      src2.addBatch(("a", 5), ("b", 1)); q.processAllAvailable()
    } finally q.stop()
    // a: 3, then 12 (cleared), then 5 from empty; b never reaches 10
    assert(spark.table("tws_clear").as[(String, Int)].collect().toSeq.sorted ===
      Seq(("a", 3), ("a", 5), ("a", 12), ("b", 7), ("b", 8), ("b", 9)))
  }

  test("streaming near-dup pairs: LSH buckets + exact verify, cross-micro-batch, batch parity") {
    import org.apache.spark.sql.functions.col
    import graft.functions.Dedup
    import graft.streaming.StreamingDedup
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val aDup = a + " extra words"
    val other = "completely different content with unrelated words entirely distinct here"
    val src = Testing.testingSource[(Long, String)](spark)
    src.addBatch((1L, a), (2L, other))
    src.addBatch((3L, aDup)) // near-dup of doc 1, arriving a micro-batch later
    val out = StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val got = StreamingOps.runToMemory(out, "ndp_out")
      .as[(Long, Long, Double)].collect()
    // at-least-once: a pair may arrive once per shared band bucket
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), s"got $got")
    assert(got.forall(_._3 >= 0.5))
    // parity with the batch operator on the same corpus
    val docs = Seq((1L, a), (2L, other), (3L, aDup)).toDF("doc_id", "text")
    val batch = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"),
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs === batch)
  }

  test("streaming asset near-dups: dhash block buckets, cross-micro-batch, batch parity") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingDedup
    val a = "the quick brown fox jumps over the lazy dog again and again and more"
    val aDup = a // exact re-encode: Hamming 0
    val other = "completely different content with unrelated words entirely distinct here now"
    val src = Testing.testingSource[(Long, String)](spark)
    src.addBatch((1L, a), (2L, other))
    src.addBatch((3L, aDup)) // duplicate asset arriving a micro-batch later
    val out = StreamingDedup.nearDupAssets(
      src.toDS().toDF("doc_id", "text")
        .select(col("doc_id"), col("text").cast("binary").as("blob")),
      "doc_id", "blob", target = 49, maxHamming = 6)
    val got = StreamingOps.runToMemory(out, "nda_out")
      .as[(Long, Long, Int)].collect()
    // at-least-once: a pair may emit once per shared block key
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), s"got ${got.mkString(",")}")
    assert(got.forall(_._3 <= 6))
    // parity with the batch operator on the same corpus
    val docs = Seq((1L, a), (2L, other), (3L, aDup)).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val batch = graft.functions.Multimodal.nearDupAssets(docs, "doc_id", "blob", 49, 6)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs === batch)
  }

  test("streaming near-dup pairs: maxBucketSize FIFO-evicts old residents") {
    import graft.streaming.StreamingDedup
    val t = "one single repeated document body that matches itself exactly every time"
    val src = Testing.testingSource[(Long, String)](spark)
    src.addBatch((1L, t))
    src.addBatch((2L, t))
    src.addBatch((3L, t))
    // cap 1: each arrival evicts the previous resident, so only
    // consecutive pairs can form
    val out = StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = 1)
    val pairs = StreamingOps.runToMemory(out, "ndp_cap")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L)), pairs.toString)
  }

  test("streaming near-dup pairs: a huge explicit cap costs occupancy, not the cap") {
    import graft.streaming.StreamingDedup
    // fifoVisit's ring is sized from observed occupancy (grown
    // geometrically up to the cap), not pre-allocated at the cap:
    // pre-fix this allocated a 1e9-slot Array[AnyRef] (~8 GB) per
    // (bucket, micro-batch) visit and OOMed the 8 GB test JVM
    val t = "one single repeated document body that matches itself exactly every time"
    val src = Testing.testingSource[(Long, String)](spark)
    src.addBatch((1L, t))
    src.addBatch((2L, t))
    val out = StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = 1_000_000_000)
    val pairs = StreamingOps.runToMemory(out, "ndp_hugecap")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 2L)), pairs.toString)
  }

  test("streaming near-dup pairs: logical FIFO window is exact across compaction") {
    import graft.streaming.StreamingDedup
    val t = "one single repeated document body that matches itself exactly every time"
    val src = Testing.testingSource[(Long, String)](spark)
    // 6 identical docs, cap 2: arrival k pairs with exactly the 2
    // previous arrivals. Physical list compacts at len > 2*cap = 4
    // (batch 3), so the assertion covers append-only, in-batch, and
    // post-compaction visibility in one run.
    src.addBatch((1L, t), (2L, t))
    src.addBatch((3L, t), (4L, t))
    src.addBatch((5L, t), (6L, t))
    val out = StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
      "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = 2)
    val pairs = StreamingOps.runToMemory(out, "ndp_compact")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val want = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (4L, 6L), (5L, 6L))
    assert(pairs === want, pairs.toString)
  }

  test("streaming near-dup pairs: bucket state survives stop/restart (checkpoint recovery)") {
    import graft.streaming.StreamingDedup
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-ndp-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-ndp-out").toFile.getPath
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val aDup = a + " extra words"
    val other = "completely different content with unrelated words entirely distinct here"
    val src = Testing.testingSource[(Long, String)](spark)
    def startQuery() =
      StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
          "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .toDF("i", "j", "jac").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    // run 1: doc 1 becomes a bucket resident (no pairs yet)
    src.addBatch((1L, a), (2L, other))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // run 2: the near-dup arrives AFTER restart — the pair can only
    // form if doc 1's residency (ListState + length counter) was
    // recovered from the checkpoint
    src.addBatch((3L, aDup))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(outDir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), pairs.toString)
  }

  test("streaming asset near-dups: sig-bucket state survives stop/restart (recovery)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingDedup
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-nda-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-nda-out").toFile.getPath
    val a = "the quick brown fox jumps over the lazy dog again and again and more"
    val other = "completely different content with unrelated words entirely distinct here now"
    val src = Testing.testingSource[(Long, String)](spark)
    def startQuery() =
      StreamingDedup.nearDupAssets(
          src.toDS().toDF("doc_id", "text")
            .select(col("doc_id"), col("text").cast("binary").as("blob")),
          "doc_id", "blob", target = 49, maxHamming = 6)
        .toDF("i", "j", "hamming").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    src.addBatch((1L, a), (2L, other))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // the duplicate arrives AFTER restart — pair forms only if doc
    // 1's sig residency recovered
    src.addBatch((3L, a))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(outDir)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), pairs.toString)
  }

  test("streaming near-dup pairs: state TTL forgets residents past the horizon") {
    import graft.streaming.StreamingDedup
    val t = "one single repeated document body that matches itself exactly every time"
    // ProcessingTime time mode keeps scheduling micro-batches, so
    // processAllAvailable never settles (same reason
    // runToMemoryUntil exists) — fixed drains + explicit stop; each
    // run gets its OWN source so offsets never replay across runs
    def run(name: String, ttl: java.time.Duration, gapMs: Long): Set[(Long, Long)] = {
      val src = Testing.testingSource[(Long, String)](spark)
      val ds = StreamingDedup.nearDupPairs(src.toDS().toDF("doc_id", "text"),
        "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        ttl = Some(ttl))
      val q = ds.toDF("i", "j", "jac").writeStream
        .format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      src.addBatch((1L, t))
      Thread.sleep(gapMs)
      src.addBatch((2L, t))
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline &&
          spark.table(name).count() == 0) Thread.sleep(200)
      Thread.sleep(1000) // settle in case the pair never comes
      q.stop()
      spark.table(name).as[(Long, Long, Double)].collect()
        .map(p => (p._1, p._2)).toSet
    }
    // control: generous TTL — the dup IS found through the
    // ProcessingTime path (the expiry case below is not vacuous)
    assert(run("ndp_ttl_ctl", java.time.Duration.ofHours(1), gapMs = 200) === Set((1L, 2L)))
    // doc 1's residency aged past the per-resident TTL before doc 2
    // arrived, so the dup goes undetected — the documented
    // look-back-ttl event-horizon semantics (ListState TTL is
    // per-value, so this holds even in hot buckets)
    val expired = run("ndp_ttl", java.time.Duration.ofMillis(500), gapMs = 2500)
    assert(expired.isEmpty, s"expired resident still paired: $expired")
  }

  test("streaming vector near-dups: amplified buckets + cosine verify across batches") {
    import graft.streaming.StreamingDedup
    val base = Array(1.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.6, -0.4)
    val nearDup = base.map(_ + 0.01) // cosine ~ 0.9999
    val opposite = base.map(-_)      // cosine -1: never a pair
    val src = Testing.testingSource[(Long, Array[Double])](spark)
    src.addBatch((1L, base), (2L, opposite))
    src.addBatch((3L, nearDup)) // cross-micro-batch near-dup of 1
    val out = StreamingDedup.nearDupVectors(src.toDS().toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.9, bits = 4, tables = 8)
    val got = StreamingOps.runToMemory(out, "ndv_out")
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), s"got ${got.toSeq}")
    assert(got.forall(_._3 >= 0.9))
  }

  test("streaming vector near-dups: bucket state survives stop/restart (recovery)") {
    import graft.streaming.StreamingDedup
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-ndv-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-ndv-out").toFile.getPath
    val base = Array(1.0, 0.5, -0.25, 0.75, -1.0, 0.1, 0.6, -0.4)
    val nearDup = base.map(_ + 0.01)
    val opposite = base.map(-_)
    val src = Testing.testingSource[(Long, Array[Double])](spark)
    def startQuery() =
      StreamingDedup.nearDupVectors(src.toDS().toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, bits = 4, tables = 8)
        .toDF("i", "j", "sim").writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    src.addBatch((1L, base), (2L, opposite))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // the near-dup arrives only after restart: the pair requires
    // vector 1's residency (VecResident ListState) to be recovered
    src.addBatch((3L, nearDup))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(outDir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((1L, 3L)), pairs.toString)
  }

  test("collectTws buffers in ListState and flushes at maxSize") {
    val src = Testing.testingSource[(String, Int)](spark)
    src.addBatch(("k", 1), ("k", 2), ("k", 3), ("k", 4))
    val out = TransformWithStateOps.collectTws(src.toDS(), maxSize = 2, timeoutMs = 60000)
      .map { case (k, vs) => (k, vs.mkString(",")) }
    val got = StreamingOps.runToMemoryUntil(out, "tws_collect", expectedRows = 2, timeoutMs = 30000)
      .as[(String, String)].collect().toSet
    assert(got === Set(("k", "1,2"), ("k", "3,4")))
  }

  test("collectTws flushes a partial buffer when its timer fires") {
    val src = Testing.testingSource[(String, Int)](spark)
    src.addBatch(("t", 1), ("t", 2), ("t", 3))
    // maxSize never reached; the 1 s processing-time timer must flush
    val out = TransformWithStateOps.collectTws(src.toDS(), maxSize = 10, timeoutMs = 1000)
      .map { case (k, vs) => (k, vs.mkString(",")) }
    val got = StreamingOps.runToMemoryUntil(out, "tws_timer_collect", expectedRows = 1,
      timeoutMs = 30000).as[(String, String)].collect().toSet
    assert(got === Set(("t", "1,2,3")))
  }

  test("collectTws debounces: a leftover flushes only after timeoutMs idle") {
    // batch 1 buffers one item and arms the timer; batch 2, 1.5 s
    // later, size-flushes [1, 2, 3] and leaves 4. The flush must wait
    // for 4 s of idleness after batch 2: the timer armed by batch 1
    // (due 4 s after it) must not flush the leftover early.
    val src = Testing.testingSource[(String, Int)](spark)
    val out = TransformWithStateOps.collectTws(src.toDS(), maxSize = 3, timeoutMs = 4000)
      .map { case (k, vs) => (k, vs.mkString(",")) }
    val q = out.writeStream.format("memory").queryName("tws_debounce")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def rows() = spark.table("tws_debounce").as[(String, String)].collect().toSet
    try {
      val t0 = System.currentTimeMillis()
      src.addBatch(("k", 1))
      Thread.sleep(1500)
      // read before the add: batch 2's processing time is at or after t1
      val t1 = System.currentTimeMillis()
      src.addBatch(("k", 2), ("k", 3), ("k", 4))
      // 4.5 s after batch 1: past the stale timer, 3 s before the
      // leftover's own deadline
      Thread.sleep(math.max(0L, t0 + 4500 - System.currentTimeMillis()))
      val early = rows()
      val sawEarly = System.currentTimeMillis() - t1
      assert(early === Set(("k", "1,2,3")),
        s"$sawEarly ms after batch 2 the sink held $early")
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && rows().size < 2) Thread.sleep(100)
      val flushedAfter = System.currentTimeMillis() - t1
      assert(rows() === Set(("k", "1,2,3"), ("k", "4")))
      assert(flushedAfter >= 4000, s"leftover flushed $flushedAfter ms after batch 2")
    } finally q.stop()
  }
}
