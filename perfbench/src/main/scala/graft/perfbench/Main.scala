package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Stream workload constants, passed in by the runner. */
final case class StreamCfg(warmup: Int, backlog: Int, chunk: Int, rate: Double, tickMs: Long)

final case class Args(workload: String, data: String, events: String, out: String,
    seconds: Int, trace: Boolean, cores: Int, stream: StreamCfg)

/** One benchmark run of one workload in a fresh JVM. Writes
  * `result.json` (metrics, operation counts, oracle SQL) and
  * `spans.jsonl` into `--out`; the runner checks outputs and prints.
  *
  * args: --workload W --data DIR --events FILE --out DIR --seconds N
  *       --trace 0|1 --cores N --warmup N --backlog N --chunk N
  *       --rate EV_PER_S --tick-ms N
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("data"), kv("events"), kv("out"), kv("seconds").toInt,
      kv("trace") == "1", kv("cores").toInt,
      StreamCfg(kv("warmup").toInt, kv("backlog").toInt, kv("chunk").toInt, kv("rate").toDouble,
        kv("tick-ms").toLong))
    val stream = args.workload == "stream_stateful"
    require(stream || Batch.Gates.contains(args.workload), s"unknown workload ${args.workload}")

    val res = new Result
    val t0 = Span.nowMs
    val spark = res.setup(session(args, stream))
    res.context("session_s") = f"${(Span.nowMs - t0) / 1e3}%.2f"
    try {
      res.context ++= Seq(
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "master" -> spark.sparkContext.master)
      if (stream) Stream.run(spark, args, res) else Batch.run(spark, args, res)
    } finally spark.stop()
    res.write(args.out)
  }

  private def session(args: Args, stream: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.out}/warehouse")
      .config(graft.functions.TopK.FallbackConf,
        graft.functions.TopK.RequiredFallbackThreshold.toString)
    if (stream) b
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
