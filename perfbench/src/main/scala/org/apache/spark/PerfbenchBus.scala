package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to drain before it reads what its listeners collected, so that
  * events of one traced pass are not lost when the listeners detach.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
