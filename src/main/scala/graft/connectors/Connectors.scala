package graft.connectors

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Source/sink surface — analogues of the reference's connector set
  * (reference: pysrc/bytewax/connectors/ + inputs.py/outputs.py).
  *
  * The partitioned-source SPI (`FixedPartitionedSource.list_parts` /
  * `build_part` / per-partition `snapshot`, reference inputs.py:143-196)
  * maps onto Spark's DataSource V2 / file-stream machinery: partition
  * discovery ⇔ file listing, resume offsets ⇔ the checkpoint WAL, so
  * the built-ins below are thin, and exactly-once comes from
  * `checkpointLocation` instead of a custom recovery store.
  */
object Connectors {

  // ---- files (reference connectors/files.py) ------------------------

  /** FileSource (files.py:136-199): one file, line-by-line. Byte-offset
    * resume ⇔ file-stream source checkpointing.
    */
  def fileSource(spark: SparkSession, path: String, streaming: Boolean = false): DataFrame =
    if (streaming) spark.readStream.text(path) else spark.read.text(path)

  /** DirSource (files.py:58-133): glob a directory, one partition per
    * file (Spark parallelizes by file split automatically).
    */
  def dirSource(spark: SparkSession, dir: String, glob: String = "*", streaming: Boolean = false): DataFrame = {
    if (streaming) spark.readStream.option("pathGlobFilter", glob).text(dir)
    else spark.read.option("pathGlobFilter", glob).text(dir)
  }

  /** CSVSource (files.py:202-323): header-aware CSV; all values read as
    * strings to match the reference's DictReader semantics.
    */
  def csvSource(spark: SparkSession, path: String, streaming: Boolean = false,
      schema: Option[StructType] = None): DataFrame = {
    if (streaming) {
      val s = schema.getOrElse(throw new IllegalArgumentException(
        "streaming CSV needs an explicit all-string schema"))
      spark.readStream.option("header", "true").schema(s).csv(path)
    } else {
      spark.read.option("header", "true")
        .option("inferSchema", "false") // all strings, like DictReader
        .csv(path)
    }
  }

  /** JSONL source — the de-facto crawl-corpus interchange format
    * (one JSON document per line, usually .jsonl or .jsonl.gz; Spark's
    * text-based sources decompress gzip transparently by extension).
    * Batch mode infers the schema unless one is given; streaming
    * requires an explicit schema (the Structured Streaming contract).
    * `columnNameOfCorruptRecord` rows survive as `_corrupt_record`
    * under PERMISSIVE mode, so one malformed crawl line cannot kill a
    * 100 TB ingest — filter or tee them downstream.
    */
  def jsonlSource(spark: SparkSession, path: String, streaming: Boolean = false,
      schema: Option[StructType] = None): DataFrame =
    if (streaming) {
      val s = schema.getOrElse(throw new IllegalArgumentException(
        "streaming JSONL needs an explicit schema"))
      spark.readStream.schema(s).option("mode", "PERMISSIVE").json(path)
    } else {
      val r = spark.read.option("mode", "PERMISSIVE")
      schema.fold(r)(r.schema).json(path)
    }

  /** JSONL sink (one JSON object per line; pass `compression` =
    * "gzip"/"zstd"/... for compressed shards).
    */
  def jsonlSink(df: DataFrame, path: String, compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** ORC source/sink — the other columnar interchange format next to
    * parquet (ORC ships in spark-sql; Hive-ecosystem corpora arrive in
    * it). Batch reads self-describe; streaming requires the explicit
    * schema, like every file stream source. Predicate pushdown and
    * column pruning reach the ORC reader exactly as for parquet
    * (`PushedFilters` in the scan — spec-pinned), so the 2-column
    * projection over a wide corpus never reads the other columns.
    */
  def orcSource(spark: SparkSession, path: String, streaming: Boolean = false,
      schema: Option[StructType] = None): DataFrame =
    if (streaming) {
      val s = schema.getOrElse(throw new IllegalArgumentException(
        "streaming ORC needs an explicit schema"))
      spark.readStream.schema(s).orc(path)
    } else spark.read.orc(path)

  def orcSink(df: DataFrame, path: String, compression: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", compression).orc(path)

  /** FileSink / DirSink (files.py:325-462): line sink; exactly-once via
    * batchId-idempotent `foreachBatch` writes (⇔ the reference's
    * truncate-to-offset resume).
    */
  def fileSink(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  def dirSinkStream(df: DataFrame, dir: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .format("text")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)

  /** Exactly-once foreachBatch sink: writes each micro-batch to
    * `dir/batch=<id>` and skips batches that already committed — the
    * idempotent-redo analogue of the reference's truncate-to-offset
    * resume (files.py:325-348). Safe under micro-batch replays after a
    * crash: a replayed batchId is a no-op.
    */
  def idempotentDirSink(df: DataFrame, dir: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        writeBatchIdempotent(batch.toDF(), dir, batchId): Unit
      }

  /** The idempotent write used by [[idempotentDirSink]]: committed
    * batch dirs (marked by _SUCCESS) are never rewritten.
    */
  def writeBatchIdempotent(batch: DataFrame, dir: String, batchId: Long): Boolean = {
    val target = new org.apache.hadoop.fs.Path(s"$dir/batch=$batchId")
    val fs = target.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(target, "_SUCCESS")
    if (fs.exists(marker)) false
    else {
      batch.write.mode("overwrite").parquet(target.toString)
      true
    }
  }

  /** DirSink with the reference's key→file routing (outputs.py:100-127):
    * rows go to part `adler32(key) mod parts` — the reference's default
    * `part_fn` — inside each batchId-idempotent batch directory, so the
    * on-disk layout is `dir/batch=<id>/part=<p>/`. A reader tailing a
    * specific part sees exactly the keys the reference would have routed
    * there. Routing is a codegen'd expression + partitionBy — no UDF,
    * one shuffle on the part column per micro-batch.
    */
  def keyedDirSink(df: DataFrame, dir: String, checkpoint: String,
      keyCol: String, parts: Int): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        writeKeyedBatchIdempotent(batch.toDF(), dir, batchId, keyCol, parts): Unit
      }

  /** The routed idempotent write behind [[keyedDirSink]]. Returns false
    * (no write) when the batch directory already committed.
    */
  def writeKeyedBatchIdempotent(batch: DataFrame, dir: String, batchId: Long,
      keyCol: String, parts: Int): Boolean = {
    val target = new org.apache.hadoop.fs.Path(s"$dir/batch=$batchId")
    val fs = target.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(target, "_SUCCESS")
    if (fs.exists(marker)) false
    else {
      batch
        .withColumn("part", pmod(graft.functions.Adler32.adler32(col(keyCol)), lit(parts.toLong)))
        .repartition(col("part"))
        .write.partitionBy("part").mode("overwrite").parquet(target.toString)
      true
    }
  }

  /** JSON-lines source (schema inferred in batch; explicit for streams). */
  def jsonSource(spark: SparkSession, path: String, streaming: Boolean = false,
      schema: Option[StructType] = None): DataFrame =
    if (streaming) {
      val s = schema.getOrElse(throw new IllegalArgumentException(
        "streaming JSON needs an explicit schema"))
      spark.readStream.schema(s).json(path)
    } else spark.read.json(path)

  // ---- stdio (reference connectors/stdio.py) ------------------------

  /** StdOutSink (stdio.py:10-37). */
  def stdOutSink(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").outputMode("append")

  // ---- kafka (reference connectors/kafka/) --------------------------

  /** KafkaSource (kafka/__init__.py:306-424): per-Kafka-partition
    * parallelism, starting offsets, batch-size cap. Offsets ride the
    * checkpoint (the reference stores them in its recovery store and
    * ignores group.id commits — same model).
    * Returns the standard kafka schema (key/value binary, topic,
    * partition, offset, timestamp, headers).
    */
  def kafkaSource(spark: SparkSession, brokers: Seq[String], topics: Seq[String],
      startingOffsets: String = "earliest", maxOffsetsPerTrigger: Option[Long] = None,
      includeHeaders: Boolean = true): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers.mkString(","))
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", startingOffsets)
      .option("includeHeaders", includeHeaders.toString)
    maxOffsetsPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n))
    r.load()
  }

  /** KafkaSink (kafka/__init__.py:473-553); per-message topic override
    * via a `topic` column, like the reference's `KafkaSinkMessage.topic`.
    */
  def kafkaSink(df: DataFrame, brokers: Seq[String], defaultTopic: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val w = df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers.mkString(","))
      .option("checkpointLocation", checkpoint)
    if (df.columns.contains("topic")) w else w.option("topic", defaultTopic)
  }

  // ---- demo / polling (reference connectors/demo.py, inputs.py:285-452)

  /** RandomMetricSource (demo.py:15-102): rate source + deterministic
    * metric mapping.
    */
  def randomMetricSource(spark: SparkSession, rowsPerSecond: Int = 10, metricName: String = "metric"): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        lit(metricName).as("metric"),
        col("timestamp"),
        pmod(xxhash64(col("value")), lit(100)).cast("double").as("value"))

  /** SimplePollingSource (inputs.py:285-452): singleton partition
    * polled on an interval → rate-limited rate source driving a fetch
    * lambda per tick.
    */
  def pollingSource[T: Encoder](spark: SparkSession, intervalSecs: Int)(fetch: Long => Iterator[T]): Dataset[T] =
    spark.readStream.format("rate")
      .option("rowsPerSecond", 1L)
      .load()
      .filter(pmod(col("value"), lit(intervalSecs.max(1).toLong)) === 0)
      .select(col("value")).as(Encoders.LONG)
      .flatMap(tick => fetch(tick))(implicitly[Encoder[T]])

  // ---- bucketed tables (co-located joins) ---------------------------

  /** Write a table bucketed (and sorted) by the join key. Two tables
    * bucketed the same way join WITHOUT a shuffle — the exchange that
    * dominates large fact-fact joins at 100 TB disappears from the plan
    * (PlanSpec asserts this). Spark bucketing requires the catalog
    * (`saveAsTable`); `path` keeps the data external to the warehouse.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  // ---- dynamic (per-worker stateless) sources -----------------------

  /** DynamicSource / StatelessSourcePartition (inputs.py:199-282): every
    * worker builds its own partition reading DISJOINT data; no resume
    * state (at-most-once). Bounded build: exactly one `build(workerIndex,
    * workerCount)` call per partition — `workerCount` ⇔ the reference's
    * worker count, rendered as Spark task parallelism.
    */
  def dynamicSource[T: Encoder: scala.reflect.ClassTag](spark: SparkSession, workerCount: Int)(
      build: (Int, Int) => Iterator[T]): Dataset[T] = {
    val rdd = spark.sparkContext
      .parallelize(0 until workerCount, workerCount)
      .flatMap(i => build(i, workerCount))
    spark.createDataset(rdd)
  }

  /** Streaming DynamicSource: rate ticks fan out over `workerCount`
    * partitions; each tick calls `nextBatch(workerIndex, workerCount,
    * tick)` on its partition — the `StatelessSourcePartition.next_batch`
    * cooperative poll (empty iterator ⇔ "no new items yet").
    */
  def dynamicSourceStream[T: Encoder](spark: SparkSession, workerCount: Int,
      rowsPerSecond: Int = 1)(nextBatch: (Int, Int, Long) => Iterator[T]): Dataset[T] =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .option("numPartitions", workerCount.toLong)
      .load()
      .select(col("value")).as(Encoders.LONG)
      .mapPartitions { ticks =>
        val wi = org.apache.spark.TaskContext.getPartitionId() % workerCount.max(1)
        ticks.flatMap(t => nextBatch(wi, workerCount, t))
      }(implicitly[Encoder[T]])

  // ---- polling with align_to / Retry --------------------------------

  /** Raise from a [[pollingSourceAligned]] fetch to be re-polled after
    * `timeoutTicks` instead of the full interval (reference
    * `SimplePollingSource.Retry`, inputs.py:368-376).
    */
  final class PollRetry(val timeoutTicks: Long)
    extends Exception(s"poll retry in $timeoutTicks ticks")

  /** SimplePollingSource with the reference's full awake semantics
    * (inputs.py:285-452): `align_to` pins poll times to a tick grid
    * (first poll at the next grid point, immediate when already on it —
    * inputs.py:299-310), and a fetch raising [[PollRetry]] is re-tried
    * after its timeout instead of waiting out the interval
    * (inputs.py:316-323). Returning None emits nothing for that poll.
    *
    * The time base is the rate source's tick counter (1 tick = 1 second
    * at the default rowsPerSecond=1; raise it in tests for fast
    * wall-clocks). A single-key `statefulTws` logic renders the
    * reference's singleton partition: the `next_awake` cursor is Spark
    * state, so it survives micro-batch boundaries and restarts via the
    * checkpoint — the snapshot/resume contract for free.
    */
  def pollingSourceAligned[T](spark: SparkSession, intervalTicks: Long,
      alignToTick: Option[Long] = None, rowsPerSecond: Int = 1)(
      fetch: Long => Option[T])(implicit tEnc: Encoder[T]): Dataset[T] = {
    import graft.streaming.TransformWithStateOps.{GraftStatefulLogic, statefulTws}
    require(intervalTicks > 0, "intervalTicks must be positive")
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load()
      .select(lit("singleton"), col("value"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    val cursor = new GraftStatefulLogic[String, Long, Long, T] {
      def onBatch(key: String, rows: Seq[Long], state: Option[Long]): (Option[Long], Seq[T]) = {
        val out = Vector.newBuilder[T]
        var nextAwake = state
        rows.sorted.foreach { tick =>
          if (nextAwake.isEmpty) {
            nextAwake = Some(alignToTick match {
              case Some(a) =>
                val since = java.lang.Math.floorMod(tick - a, intervalTicks)
                if (since == 0) tick else tick + (intervalTicks - since)
              case None => tick
            })
          }
          if (tick >= nextAwake.get) {
            try {
              fetch(tick).foreach(out += _)
              nextAwake = Some(nextAwake.get + intervalTicks)
            } catch {
              case r: PollRetry => nextAwake = Some(tick + r.timeoutTicks)
            }
          }
        }
        (nextAwake, out.result())
      }
    }
    statefulTws(ticks, cursor)(Encoders.STRING, Encoders.scalaLong,
        Encoders.tuple(Encoders.STRING, tEnc))
      .map(_._2)(tEnc)
  }
}
