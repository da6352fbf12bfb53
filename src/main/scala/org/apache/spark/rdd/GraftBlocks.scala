package org.apache.spark.rdd

/** Bridge to SparkContext's private RDD unpersist. `RDD.unpersist` on a
  * locally checkpointed RDD logs a WARN that its lineage is truncated
  * and cannot be recomputed, once per call; for a round the caller has
  * superseded, or a session's leftovers dropped between runs, that is
  * the intent, not a problem.
  */
object GraftBlocks {
  /** `rdd.unpersist(blocking)`, without the WARN for a local checkpoint. */
  def unpersist(rdd: RDD[_], blocking: Boolean = false): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
