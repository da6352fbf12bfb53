package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{CacheScope, Dedup}

/** Scale audit for the contamination-scoring family: noveltyStats
  * (bloom + exact verify) and decontaminateReport (two suites, one
  * train pass) vs the naive per-suite decontaminate loop, per
  * documents decade. Reference = the 0-mod-50 slice (~2%).
  *
  * SPARK_GRAFT_SF_DIR=<dir with documents> sbt "runMain graft.tools.NovScale"
  */
object NovScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val train = docs.filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 49 =!= 0)
    val suiteA = docs.filter(col("doc_id") % 50 === 0)
    val suiteB = docs.filter(col("doc_id") % 49 === 0)

    def time(reps: Int)(act: => Long): (Double, Long) = {
      var best = Double.MaxValue; var out = 0L
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        out = act
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }

    val (tNov, scored) = time(2) {
      val scope = new CacheScope
      try Dedup.noveltyStats(train, col("doc_id"), col("text"),
        suiteA, col("text"), n = 5, scope = scope)
        .agg(count(lit(1)), sum(col("n_seen"))).head().getLong(0)
      finally scope.close()
    }
    val (tRep, repRows) = time(2) {
      Dedup.decontaminateReport(train, col("doc_id"), col("text"),
        Seq(("a", suiteA, col("text")), ("b", suiteB, col("text"))), n = 5)
        .count()
    }
    val (tLoop, loopRows) = time(2) {
      Dedup.decontaminate(train, col("doc_id"), col("text"), suiteA,
        col("text"), 5, 1).count() +
      Dedup.decontaminate(train, col("doc_id"), col("text"), suiteB,
        col("text"), 5, 1).count()
    }
    require(repRows == loopRows, s"divergence: report=$repRows loop=$loopRows")
    println(f"novscale docs=$n%9d  novelty(all-docs)=$tNov%6.2fs (scored=$scored)  report2=$tRep%6.2fs  perSuiteLoop=$tLoop%6.2fs (${tLoop / tRep}%4.2fx)")
    spark.stop()
  }
}
