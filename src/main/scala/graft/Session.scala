package graft

import org.apache.spark.sql.SparkSession

/** The house session: the one place a graft `SparkSession` is built, so
  * the spec suite, [[Bench]], [[Verify]], the `graft.tools` harnesses and
  * [[graft.run.Run]] all plan under the same confs.
  *
  * The list: AQE on, UTC session time zone, UI off, parquet
  * TIMESTAMP(NANOS) read as long nanos (normalized by [[Tables.load]]),
  * and the TopK
  * hash-aggregate capacity ([[graft.functions.TopK.FallbackConf]] at
  * [[graft.functions.TopK.RequiredFallbackThreshold]]; the rankers only
  * check it), and RocksDB as the streaming state store with changelog
  * checkpointing (each commit uploads the micro-batch's delta, not a
  * full snapshot; every keyed stream operator runs on
  * `transformWithState`, which needs RocksDB), with log level
  * WARN. [[local]] adds `local[cpus]` and one shuffle partition per core.
  * An experiment that needs more passes its own confs as `extra`; they
  * are applied last, so they also override the list. This is the only
  * file that sets a session conf: library operators read the session's
  * settings (shuffle width included) and never change them.
  */
object Session {
  private val houseConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    graft.functions.TopK.FallbackConf ->
      graft.functions.TopK.RequiredFallbackThreshold.toString,
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** The house session on `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: Int, extra: (String, String)*): SparkSession =
    start(s"local[$cpus]", ("spark.sql.shuffle.partitions" -> cpus.toString) +: extra: _*)

  /** The house session on any master (a deployment's, for [[graft.run.Run]]);
    * the shuffle partition count stays the deployment's. */
  def start(master: String, extra: (String, String)*): SparkSession = {
    val spark = (houseConfs ++ extra)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, or the caller's default core count. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The between-gates release: drop the SQL cache (Dedup pins shingle/
    * signature relations for its self-joins), unpersist every RDD (the
    * eager round operators hand their final round's checkpoint blocks
    * to the caller, and `clearCache` does not touch them; local
    * checkpoints are freed without `RDD.unpersist`'s lineage WARN), then GC so
    * ContextCleaner's weak references reclaim broadcasts and shuffle
    * state. Without it, reps 2..n of a gate hit rep 1's caches and the
    * leftovers of one gate tax every later one (measured in Bench: q_corr
    * reps [29, 66, 316] s under the RDD leak; broadcast-heavy gates
    * 10-60× slower late in a 198-gate run with GC left organic).
    * Returns the seconds the GC took. */
  def release(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(org.apache.spark.rdd.GraftBlocks.unpersist(_, blocking = true))
    val t0 = System.nanoTime()
    System.gc()
    (System.nanoTime() - t0) / 1e9
  }
}
