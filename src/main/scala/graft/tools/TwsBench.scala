package graft.tools

import graft.connectors.Testing
import graft.streaming.{StreamingOps, TransformWithStateOps}

/** Engine micro-bench behind the round-6 promotion of
  * `transformWithState` to the documented streaming default: the same
  * keyed running-sum workload (and the same bounded-collect workload)
  * through the TWS engine and the `flatMapGroupsWithState` compat
  * engine, identical feed (10 micro-batches via MemoryStream at core
  * parallelism), identical RocksDB provider, output-row parity
  * asserted. Prints one JSON line with per-engine wall seconds.
  *
  * args: [items (default 1,000,000)] [keys (default 10,000)]
  */
object TwsBench {
  def main(args: Array[String]): Unit = {
    val items = if (args.length > 0) args(0).toLong else 1000000L
    val keys = if (args.length > 1) args(1).toInt else 10000
    val cpus = graft.Session.cpus(32)
    val spark = graft.Session.local(cpus,
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8"),
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    import spark.implicits._

    val perBatch = (items / 10).toInt

    def feedAndTime(out: org.apache.spark.sql.Dataset[_],
        src: Testing.TestingSource[(Long, Long)], name: String): (Double, Long) = {
      val q = out.toDF().writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"/tmp/graft-twsbench-$name-${System.nanoTime()}")
        .start()
      val t0 = System.nanoTime()
      (0 until 10).foreach { b =>
        val lo = b.toLong * perBatch
        src.addBatch((lo until lo + perBatch).map(i => (i % keys, i)): _*)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // noop-sink progress can report -1 (unknown) for an empty
      // trigger — clamp, or the parity check undercounts by one
      val rows = q.recentProgress.map(p => math.max(0L, p.sink.numOutputRows)).sum
      q.stop()
      (sec, rows)
    }

    if (sys.env.get("TWSBENCH_DEBUG").contains("1")) {
      val src = Testing.testingSource[(Long, Long)](spark, Some(cpus))
      val logic = new TransformWithStateOps.GraftStatefulLogic[Long, Long, Long, Long] {
        def onBatch(key: Long, vs: Seq[Long], s: Option[Long]): (Option[Long], Seq[Long]) = {
          val total = s.getOrElse(0L) + vs.sum
          (Some(total), Seq(total))
        }
      }
      val out = TransformWithStateOps.statefulTws(src.toDS(), logic)
      val q = out.toDF("k", "total").writeStream.format("memory")
        .queryName("twsdbg").outputMode("append")
        .option("checkpointLocation", s"/tmp/graft-twsdbg-${System.nanoTime()}")
        .start()
      (0 until 10).foreach { b =>
        val lo = b.toLong * perBatch
        src.addBatch((lo until lo + perBatch).map(i => (i % keys, i)): _*)
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("twsdbg").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.length).toMap
      val missing = (0L until keys.toLong).filter(k => got.getOrElse(k, 0) != 10)
      println(s"keys with != 10 outputs: ${missing.map(k => (k, got.getOrElse(k, 0))).toList}")
      spark.stop()
      return
    }

    // ---- keyed running sum ----
    val sumTws = {
      val src = Testing.testingSource[(Long, Long)](spark, Some(cpus))
      val logic = new TransformWithStateOps.GraftStatefulLogic[Long, Long, Long, Long] {
        def onBatch(key: Long, vs: Seq[Long], s: Option[Long]): (Option[Long], Seq[Long]) = {
          val total = s.getOrElse(0L) + vs.sum
          (Some(total), Seq(total))
        }
      }
      feedAndTime(TransformWithStateOps.statefulTws(src.toDS(), logic), src, "sum-tws")
    }
    val sumFmgws = {
      val src = Testing.testingSource[(Long, Long)](spark, Some(cpus))
      val out = StreamingOps.statefulStream[Long, Long, Long, Long](src.toDS(), None)(
        (_: Long, vs: Seq[Long], s: Option[Long]) => {
          val total = s.getOrElse(0L) + vs.sum
          (Some(total), Seq(total))
        })
      feedAndTime(out, src, "sum-fmgws")
    }
    require(sumTws._2 == sumFmgws._2,
      s"sum output-row mismatch: tws ${sumTws._2} vs fmgws ${sumFmgws._2}")

    // ---- bounded collect (maxSize 10, long timeout so size flushes) ----
    val colTws = {
      val src = Testing.testingSource[(Long, Long)](spark, Some(cpus))
      feedAndTime(TransformWithStateOps.collectTws(src.toDS(), maxSize = 10,
        timeoutMs = 3600000L), src, "col-tws")
    }
    val colFmgws = {
      val src = Testing.testingSource[(Long, Long)](spark, Some(cpus))
      feedAndTime(StreamingOps.collectStream(src.toDS(), maxSize = 10,
        timeoutMillis = 3600000L), src, "col-fmgws")
    }
    require(colTws._2 == colFmgws._2,
      s"collect output-row mismatch: tws ${colTws._2} vs fmgws ${colFmgws._2}")

    println(f"""{"metric":"tws_vs_fmgws","items":$items,"keys":$keys,"sum_tws_sec":${sumTws._1}%.2f,"sum_fmgws_sec":${sumFmgws._1}%.2f,"sum_rows":${sumTws._2},"collect_tws_sec":${colTws._1}%.2f,"collect_fmgws_sec":${colFmgws._1}%.2f,"collect_rows":${colTws._2}}""")
    spark.stop()
  }
}
