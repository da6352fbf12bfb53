package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (see
  * /root/repo/TESTDATA.md). All queries take an `sfDir` and read
  * `{sfDir}/{table}.parquet` — the same tables the DuckDB oracle sees.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir) else
      spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.parquet has carried three `ts` physical types across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects with [PARQUET_TYPE_ILLEGAL] — read nanos as long and
    * truncate to microseconds; DuckDB's ns→µs cast truncates
    * identically), plain timestamp[us] (arrives as TIMESTAMP_NTZ), and
    * Spark-written scale-ups (BIGINT nanos, since Spark cannot write the
    * nanos logical type back). All three normalize to the same
    * session-UTC microsecond TimestampType column, keeping oracle
    * parity and one downstream schema. The nanos read needs
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[Session]] sets.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register all tables as temp views (for spark.sql usage). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
