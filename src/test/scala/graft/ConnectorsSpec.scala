package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.connectors.{Connectors, Testing}
import graft.operators.Ops
import graft.streaming.StreamingOps

class ConnectorsSpec extends SparkSpec {
  import spark.implicits._

  test("csvSource reads header CSV as all-string columns (DictReader semantics)") {
    val dir = Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "m.csv")
    Files.writeString(f.toPath, "name,value\ncpu,1\nmem,2\n")
    val df = Connectors.csvSource(spark, f.getPath)
    assert(df.schema.fields.map(_.dataType.typeName).toSet === Set("string"))
    assert(df.as[(String, String)].collect().toSet === Set(("cpu", "1"), ("mem", "2")))
  }

  test("fileSource reads lines; dirSource globs files") {
    val dir = Files.createTempDirectory("graft-files").toFile
    Files.writeString(new java.io.File(dir, "a.txt").toPath, "one\ntwo\n")
    Files.writeString(new java.io.File(dir, "b.log").toPath, "three\n")
    val one = Connectors.fileSource(spark, s"${dir.getPath}/a.txt")
    assert(one.as[String].collect().toSet === Set("one", "two"))
    val globbed = Connectors.dirSource(spark, dir.getPath, "*.txt")
    assert(globbed.as[String].collect().toSet === Set("one", "two"))
  }

  test("jsonSource reads JSON lines with inferred schema") {
    val dir = Files.createTempDirectory("graft-json").toFile
    val f = new java.io.File(dir, "d.json")
    Files.writeString(f.toPath, "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n")
    val df = Connectors.jsonSource(spark, f.getPath)
    assert(df.select("a", "b").as[(Long, String)].collect().toSet === Set((1L, "x"), (2L, "y")))
  }

  test("fileSink writes lines readable back") {
    val out = Files.createTempDirectory("graft-sink").toFile.getPath + "/out"
    val df = Seq("x", "y").toDF("value")
    Connectors.fileSink(df, out)
    assert(spark.read.text(out).as[String].collect().toSet === Set("x", "y"))
  }

  test("raises throws on first item") {
    val ds = Seq(1, 2, 3).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      Ops.raises(ds, "boom").collect()
    }
    assert(ex.getMessage.contains("boom") || ex.getCause.getMessage.contains("boom"))
  }

  test("inspect observes row counts without altering the stream") {
    val df = Tables.load(spark, sf0001, "region")
    val observed = Ops.inspect(df, "obs")
    assert(observed.count() === df.count())
  }

  test("idempotentDirSink writes per-batch dirs and replayed batches are no-ops") {
    val base = Files.createTempDirectory("graft-idem").toFile.getPath
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val src = Testing.testingSource[String](spark)
    src.addBatch("a", "b")
    val q = Connectors.idempotentDirSink(src.toDS().toDF(), out, ckpt).start()
    q.processAllAvailable()
    q.stop()
    val first = spark.read.parquet(s"$out/batch=0").as[String].collect().toSet
    assert(first === Set("a", "b"))
    // replay batch 0 with different data: committed marker makes it a no-op
    val replay = Seq("SHOULD_NOT_APPEAR").toDF("value")
    val wrote = Connectors.writeBatchIdempotent(replay, out, 0L)
    assert(!wrote)
    assert(spark.read.parquet(s"$out/batch=0").as[String].collect().toSet === Set("a", "b"))
  }

  test("keyedDirSink routes each key to its adler32 part and replays are no-ops") {
    val base = Files.createTempDirectory("graft-keyed").toFile.getPath
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    val src = Testing.testingSource[(String, Int)](spark)
    src.addBatch(("alpha", 1), ("beta", 2), ("alpha", 3), ("gamma", 4))
    val q = Connectors.keyedDirSink(src.toDS().toDF("key", "v"), out, ckpt,
      keyCol = "key", parts = 3).start()
    q.processAllAvailable()
    q.stop()
    // per-key layout: every row of a key lives in part = adler32(key) % 3
    def expectedPart(k: String) =
      java.lang.Math.floorMod(graft.functions.Adler32Impl.adler32(k.getBytes("UTF-8")), 3L)
    val back = spark.read.parquet(s"$out/batch=0")
    for (k <- Seq("alpha", "beta", "gamma")) {
      val parts = back.filter(col("key") === k).select("part")
        .distinct().as[Long].collect().toSet
      assert(parts === Set(expectedPart(k)), s"key $k in wrong part file")
    }
    assert(back.count() === 4)
    // replayed batchId is a committed no-op
    val replay = Seq(("SHOULD_NOT_APPEAR", 9)).toDF("key", "v")
    assert(!Connectors.writeKeyedBatchIdempotent(replay, out, 0L, "key", 3))
    assert(spark.read.parquet(s"$out/batch=0").count() === 4)
  }

  test("dynamicSource builds one stateless partition per worker with disjoint data") {
    val ds = Connectors.dynamicSource[String](spark, workerCount = 4) { (wi, wc) =>
      Iterator(s"w$wi-a", s"w$wi-b", s"wc$wc-$wi")
    }
    val got = ds.collect().toSet
    assert(got === (0 until 4).flatMap(i => Seq(s"w$i-a", s"w$i-b", s"wc4-$i")).toSet)
  }

  test("dynamicSourceStream polls per-worker partitions cooperatively") {
    val out = Connectors.dynamicSourceStream[String](spark, workerCount = 2,
      rowsPerSecond = 20) { (wi, wc, tick) =>
      if (tick % 2 == 0) Iterator(s"w$wi-t$tick") else Iterator.empty // empty ⇔ nothing yet
    }
    val got = StreamingOps.runToMemoryUntil(out, "dyn_stream", expectedRows = 4, timeoutMs = 30000)
      .as[String].collect()
    assert(got.length >= 4)
    assert(got.forall(s => s.startsWith("w0-") || s.startsWith("w1-")))
    assert(got.forall(_.split("-t")(1).toLong % 2 == 0))
  }

  test("pollingSourceAligned polls only on the align_to tick grid") {
    val out = Connectors.pollingSourceAligned[Long](spark, intervalTicks = 5,
      alignToTick = Some(3), rowsPerSecond = 50)(tick => Some(tick))
    val got = StreamingOps.runToMemoryUntil(out, "poll_aligned", expectedRows = 3, timeoutMs = 30000)
      .as[Long].collect()
    assert(got.length >= 3)
    assert(got.forall(t => (t - 3) % 5 == 0), s"off-grid polls: ${got.mkString(",")}")
  }

  test("pollingSourceAligned Retry re-polls before the interval elapses") {
    ConnectorsSpecState.pollAttempts.set(0)
    // interval is far beyond the test window; only the Retry path can
    // produce the second (successful) fetch in time
    val out = Connectors.pollingSourceAligned[Int](spark, intervalTicks = 100000,
      rowsPerSecond = 50) { _ =>
      if (ConnectorsSpecState.pollAttempts.incrementAndGet() == 1)
        throw new Connectors.PollRetry(2)
      else Some(7)
    }
    val got = StreamingOps.runToMemoryUntil(out, "poll_retry", expectedRows = 1, timeoutMs = 30000)
      .as[Int].collect()
    assert(got.nonEmpty && got.head === 7)
    assert(ConnectorsSpecState.pollAttempts.get() >= 2)
  }

  test("inspectDebug passes items through unchanged") {
    val ds = Seq(1, 2, 3).toDS()
    assert(Ops.inspectDebug(ds, "dbg").collect().toSet === Set(1, 2, 3))
  }

  test("randomMetricSource emits deterministic metric rows from the rate source") {
    val src = Connectors.randomMetricSource(spark, rowsPerSecond = 20, metricName = "m1")
    val got = StreamingOps.runToMemoryUntil(src, "rate_metrics", expectedRows = 5, timeoutMs = 30000)
    assert(got.count() >= 5)
    val row = got.select("metric", "value").head()
    assert(row.getString(0) === "m1")
    assert(row.getDouble(1) >= 0.0 && row.getDouble(1) < 100.0)
  }

  test("pollingSource fetches once per interval tick") {
    val src = Connectors.pollingSource[Long](spark, intervalSecs = 1)(tick => Iterator(tick * 10))
    val got = StreamingOps.runToMemoryUntil(src, "polled", expectedRows = 2, timeoutMs = 30000)
    val vals = got.as[Long].collect().toSet
    assert(vals.nonEmpty && vals.forall(_ % 10 == 0))
  }

  test("streaming query resumes state from checkpoint after stop/restart") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-rec-out").toFile.getPath
    val src = Testing.testingSource[(String, Double)](spark)
    def startQuery() = {
      val out = StreamingOps.statefulMapStream[String, Double, Double, Double](
        src.toDS(), _ => 0.0) { (s, v) => val s2 = s + v; (s2, s2) }
      out.toDF("key", "running").writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }
    src.addBatch(("a", 1.0), ("a", 2.0))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    // restart against the same checkpoint: running sum must continue at
    // 3.0, and every event must come out exactly once (statefulMapStream
    // runs on statefulTws)
    src.addBatch(("a", 4.0))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).as[(String, Double)].collect().toSeq.sorted
    assert(got === Seq(("a", 1.0), ("a", 3.0), ("a", 7.0)), s"state not recovered: $got")
  }

  test("jsonl source/sink: gzip round-trip, corrupt lines survive as _corrupt_record") {
    import graft.connectors.Connectors
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = Seq((1L, "alpha text", "src0"), (2L, "beta text", "src1"))
      .toDF("doc_id", "text", "source")
    Connectors.jsonlSink(docs, s"$dir/out", compression = "gzip")
    // the sink wrote gzip'd part files and the source reads them back
    val files = new java.io.File(s"$dir/out").listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), files.mkString(","))
    val back = Connectors.jsonlSource(spark, s"$dir/out")
      .select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "alpha text", "src0"), (2L, "beta text", "src1")))
    // a malformed crawl line must not kill the read
    val raw = s"$dir/raw"
    new java.io.File(raw).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$raw/part.jsonl"),
      "{\"doc_id\": 1, \"text\": \"ok\"}\nNOT JSON AT ALL\n{\"doc_id\": 2, \"text\": \"also ok\"}\n"
        .getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val parsed = Connectors.jsonlSource(spark, raw, schema = Some(schema)).cache()
    assert(parsed.filter($"_corrupt_record".isNotNull).count() === 1L)
    assert(parsed.filter($"_corrupt_record".isNull).count() === 2L)
    parsed.unpersist()
  }

  test("orc source/sink: round-trip, filter and column pruning reach the scan") {
    import graft.connectors.Connectors
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val docs = Seq((1L, "alpha text", "src0"), (2L, "beta text", "src1"),
      (3L, "gamma text", "src0")).toDF("doc_id", "text", "source")
    Connectors.orcSink(docs, s"$dir/out")
    val back = Connectors.orcSource(spark, s"$dir/out")
    assert(back.select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "alpha text", "src0"), (2L, "beta text", "src1"),
        (3L, "gamma text", "src0")))
    // the 2-column projection + filter must reach the ORC reader: a
    // scan that reads all columns for a pruned projection is wrong
    val q = back.filter($"doc_id" > 1L).select($"doc_id", $"source")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,1)]"), scan)
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,source:string>"), scan)
    assert(q.as[(Long, String)].collect().toSet === Set((2L, "src1"), (3L, "src0")))
  }

  test("jsonl streaming source reads appended shard files") {
    import graft.connectors.Connectors
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-s").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      "{\"doc_id\": 1, \"text\": \"first\"}\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val q = Connectors.jsonlSource(spark, s"$dir/*.jsonl", streaming = true,
        schema = Some(schema))
      .writeStream.format("memory").queryName("jsonl_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.jsonl"),
        "{\"doc_id\": 2, \"text\": \"second\"}\n".getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.table("jsonl_stream").as[(Long, String)].collect().toSet
      assert(got === Set((1L, "first"), (2L, "second")))
    } finally q.stop()
  }
}

/** Cross-closure counters for the polling specs (same JVM in local mode). */
object ConnectorsSpecState {
  val pollAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
}
