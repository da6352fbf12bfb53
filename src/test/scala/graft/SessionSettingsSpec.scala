package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Graph, Similarity}

/** Library operators plan under the session's physical settings and
  * never change them: the same rows at any shuffle width, and a
  * session's width stays what its owner set while operators run on it.
  */
class SessionSettingsSpec extends SparkSpec {
  private val Width = "spark.sql.shuffle.partitions"

  /** A clone of the house session at `width` shuffle partitions. */
  private def at(width: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Width, width.toString)
    s
  }

  private def edges(s: SparkSession, es: Seq[(Long, Long)]): DataFrame =
    s.createDataFrame(es).toDF("src", "dst")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // a 64-cycle with a tendril in and out, and a 3-cycle beside it: a
  // plain color loop needs 63 rounds, so under a guard of 40 SCC
  // converges only through relation squaring
  private val ring = (0L until 64L).map(i => (i, (i + 1) % 64)) ++
    Seq((100L, 0L), (5L, 200L), (300L, 301L), (301L, 302L), (302L, 300L))
  // a small random digraph for the other graph operators
  private val graph = {
    val rnd = new scala.util.Random(11)
    Seq.fill(70)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  private def scc(s: SparkSession) =
    Graph.stronglyConnectedComponents(edges(s, ring), maxPropRounds = 40)
  private def lsh(s: SparkSession) = {
    val v = s.range(300).select(col("id"),
      array((col("id") % 7).cast("double"), (col("id") % 5).cast("double"),
        (col("id") % 3).cast("double"), lit(1.0)).as("v"))
    Similarity.lshTopK(v, "id", "v", k = 3, bits = 2)
  }

  private val cases: Seq[(String, SparkSession => DataFrame)] = Seq(
    "scc" -> scc,
    "sssp" -> (s => Graph.sssp(edges(s, graph).withColumn("w", col("src") % 5 + 1),
      s.range(3).toDF("id"))),
    "bfs" -> (s => Graph.bfsDistance(edges(s, graph), s.range(3).toDF("id"), 8)),
    "hits" -> (s => Graph.hits(edges(s, graph), 3)),
    "betweenness" -> (s => Graph.betweenness(edges(s, graph), s.range(3).toDF("id"))),
    "cc" -> (s => Dedup.connectedComponents(edges(s, graph))),
    "harmonic" -> (s => Graph.harmonicCentrality(edges(s, graph), 4, p = 8)),
    "lshTopK" -> lsh)

  test("operators return the house session's rows at shuffle widths 1, 7 and 64") {
    for ((name, op) <- cases) {
      val want = rows(op(spark))
      assert(want.nonEmpty, name)
      for (w <- Seq(1, 7, 64)) {
        val s = at(w)
        assert(rows(op(s)) === want, s"$name at width $w")
        assert(s.conf.get(Width) === w.toString, s"$name changed the width")
      }
    }
  }

  test("two operators running at once leave their session's width alone") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.jdk.CollectionConverters._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val s = at(7)
    val want = (rows(scc(s)), rows(lsh(s)))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val observer = new Thread(() =>
      while (running) { seen.add(s.conf.get(Width)); Thread.sleep(1) })
    observer.start()
    val got =
      try Await.result(Future(rows(scc(s))).zip(Future(rows(lsh(s)))),
        scala.concurrent.duration.Duration(5, "min"))
      finally { running = false; observer.join() }
    assert(got === want)
    assert(seen.asScala.toSet === Set("7"))
  }
}
