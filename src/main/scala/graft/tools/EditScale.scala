package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CacheScope, Dedup}

/** Scale audit for the edit-distance verify tier: the full O(|a|·|b|)
  * DP (the gate's reporting form) vs the banded default
  * (levenshtein(l, r, k) — O(min·k) per pair). Candidates come from
  * the same auto-capped shingle index in both runs and are cached, so
  * the delta is pure verify cost. The full metric measured 22.95 s at
  * sf1 in round 8 and was skipped at sf10 outright; the banded default
  * is what makes the sf10 row affordable.
  *
  * SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_EDIT_FULL=0] [SPARK_GRAFT_MAX_EDIT=32]
  *   sbt "runMain graft.tools.EditScale"
  */
object EditScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runFull = sys.env.getOrElse("SPARK_GRAFT_EDIT_FULL", "1") == "1"
    val maxEdit = sys.env.getOrElse("SPARK_GRAFT_MAX_EDIT", "32").toInt
    val spark = graft.Session.local(32)

    val docs = Tables.load(spark, sfDir, "documents")
    val scope = new CacheScope
    val cands = scope.track(
      Dedup.ngramJaccardPairsAuto(docs, col("doc_id"), col("text"), 3, 0.5, scope)
        .select(col("i"), col("j")).cache())
    val nCands = cands.count()
    val nDocs = docs.count()
    System.err.println(s"[editscale] $sfDir docs=$nDocs cands=$nCands")

    // min of 2 reps: the first timed query otherwise bills codegen/JVM
    // warmup to whichever variant runs first. The action aggregates
    // `edit` — a bare count() would let column pruning DROP the
    // unreferenced levenshtein from the reporting form entirely and
    // time an empty projection.
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      var best = Double.MaxValue
      var n = 0L
      for (_ <- 1 to 2) {
        val t0 = System.nanoTime()
        val r = df.agg(count(lit(1)), sum(col("edit"))).head()
        n = r.getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
      }
      println(f"""{"tool":"edit_scale","q":"$name","sf":"$sfDir","docs":$nDocs,"cands":$nCands,"rows":$n,"sec":$best%.3f}""")
    }

    time(s"edit_banded_$maxEdit") {
      Dedup.editVerifyPairs(cands, docs, col("doc_id"), col("text"), maxEdit)
    }
    if (runFull) time("edit_full") {
      Dedup.editDistancePairs(cands, docs, col("doc_id"), col("text"))
    }
    scope.close()
    spark.stop()
  }
}
