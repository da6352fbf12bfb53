package graft.tools

/** Runner for the benchmark_windowing example port
  * (examples/benchmark_windowing.py): push `n` second-spaced events
  * through key_on → 1-minute tumbling collect_window → flatten and
  * report wall seconds + events/sec.
  *
  * The reference discards output behind `filter(lambda _: False)`;
  * Catalyst folds that into an empty relation and deletes the whole
  * flow (PruneFilters), so the timed stage here is
  * [[graft.examples.Examples.windowingBenchFlat]] — exactly the work
  * the reference times, minus the discarded stdout sink.
  *
  * args: [events (default 1,000,000 = the reference's BATCH_SIZE ×
  * BATCH_COUNT)] [keys (default 2)] [reps (default 3)]
  */
object WindowBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val keys = if (args.length > 1) args(1).toInt else 2
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local(graft.Session.cpus(32))
    val secs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val rows = graft.examples.Examples.windowingBenchFlat(spark, n, keys).count()
      val s = (System.nanoTime() - t0) / 1e9
      require(rows == n, s"flatten returned $rows of $n events")
      s
    }.sorted
    val med = secs(secs.length / 2)
    println(f"""{"metric":"window_bench_sec","value":$med%.3f,"unit":"sec","events":$n,"keys":$keys,"events_per_sec":${(n / med).toLong}}""")
    spark.stop()
  }
}
