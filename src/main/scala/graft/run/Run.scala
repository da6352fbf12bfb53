package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A deployable flow — implement and launch with [[Run]] (the analogue
  * of defining a module-level `Dataflow` and `python -m bytewax.run
  * module:flow`, reference pysrc/bytewax/run.py:197-249).
  */
trait GraftFlow {
  /** Build the flow's result against a SparkSession; the runner handles
    * execution and (optional) output.
    */
  def build(spark: SparkSession, args: Seq[String]): DataFrame

  /** The step graph the build recorded, if the flow uses the
    * [[graft.api.Flow]] facade — [[Run]] serves it at `/dataflow` when
    * the API server is enabled. Populate it in [[build]] and return it
    * here.
    */
  def graph: Option[graft.api.Flow] = None
}

/** CLI runner: `graft.run.Run <FlowClass> [args...]` — instantiates the
  * flow, executes it, and prints/writes the result. Cluster deployment
  * is the same jar via spark-submit; `-w/-p` worker flags from the
  * reference map to executor config on the submit command line.
  */
object Run {
  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty, "usage: graft.run.Run <FlowClass> [--out path] [args...]")
    val clsName = argv.head
    val rest = argv.tail.toSeq
    val (outPath, args) = rest.indexOf("--out") match {
      case -1 => (None, rest)
      case i  => (Some(rest(i + 1)), rest.patch(i, Nil, 2))
    }
    // under spark-submit the master comes from the submit command; when
    // launched directly (dev), default to all local cores
    val spark = graft.Session.start(
      sys.env.getOrElse("GRAFT_MASTER", sys.props.getOrElse("spark.master", "local[*]")),
      "spark.app.name" -> s"graft:$clsName")
    val flow = Class.forName(clsName).getDeclaredConstructor().newInstance().asInstanceOf[GraftFlow]
    val result = flow.build(spark, args)
    // Dataflow API server, enabled exactly like the reference runner
    // (pysrc/bytewax/run.py: BYTEWAX_DATAFLOW_API_ENABLED /
    // BYTEWAX_DATAFLOW_API_PORT, default 3030): serves /dataflow and
    // Prometheus /metrics for the duration of the execution.
    val api = sys.env.get("GRAFT_DATAFLOW_API_ENABLED").filter(_.nonEmpty).map { _ =>
      val port = sys.env.get("GRAFT_DATAFLOW_API_PORT").map(_.toInt).getOrElse(3030)
      graft.streaming.MetricsServer.start(spark,
        flow.graph.map(_.toJson).getOrElse("{}"), port)
    }
    try outPath match {
      case Some(p) => result.write.mode("overwrite").parquet(p)
      case None    => result.show(50, truncate = false)
    } finally api.foreach(_.close())
    spark.stop()
  }
}

/** The reference's canonical wordcount example (examples/wordcount.py)
  * as a GraftFlow, using the step-id'd facade.
  */
class WordCountFlow extends GraftFlow {
  import org.apache.spark.sql.functions._
  import graft.api.{Flow, ops}

  private var recorded: Option[Flow] = None
  override def graph: Option[Flow] = recorded

  def build(spark: SparkSession, args: Seq[String]): DataFrame = {
    val path = args.headOption.getOrElse("/root/testdata/sf0.001/documents.parquet")
    val flow = Flow("wordcount")
    recorded = Some(flow)
    val inp = ops.input("in", flow, spark, path)
    val words = ops.flatMap("split", inp, split(lower(col("text")), "\\s+"), "word")
    val nonEmpty = ops.filter("non_empty", words, col("word") =!= "")
    val keyed = ops.keyOn("key", nonEmpty, col("word"))
    val counts = ops.countFinal("count", keyed)
    counts.ds.toDF()
  }
}
