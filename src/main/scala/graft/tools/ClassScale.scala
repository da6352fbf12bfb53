package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Classify, RecordLink}

/** Decade scaling for the round-9 structured operators:
  *
  * mode `nb`  — NB classifier: train on the even-doc split (explode +
  *              two hash aggs + two bounded scalars), score every doc
  *              against every class (tf collapse → k-class broadcast
  *              fanout → broadcast word join → per-(doc,class) agg).
  * mode `er`  — record linkage on customer with the q_er_customer
  *              blocking (nation|segment + name-hundreds prefix),
  *              banded-levenshtein verify.
  *
  * args: [mode] [dir ...] — each dir is one scale point.
  */
object ClassScale {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "nb"
    val dirs =
      if (args.length > 1) args.drop(1).toSeq
      else if (mode == "nb" || mode == "lm")
        Seq("/root/testdata/sf0.1", "/root/repo/data/sf1", "/root/repo/data/sf10")
      else
        Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "/root/repo/data/sf1")
    val spark = graft.Session.local(graft.Session.cpus(32))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    dirs.foreach { dir =>
      mode match {
        case "nb" =>
          val docs = Tables.load(spark, dir, "documents")
          val n = docs.count()
          // one warm + one timed rep; action aggregates the count
          // columns so nothing prunes away
          var best = Double.MaxValue
          var out = 0L
          for (_ <- 1 to 2) {
            val (r, sec) = time {
              val m = Classify.nbTrain(docs.filter(col("doc_id") % 2 === 0),
                col("lang"), col("text"))
              Classify.nbScoreCounts(docs, col("doc_id"), col("text"), m)
                .agg(count(lit(1)), sum(col("sum_c"))).collect()(0).getLong(0)
            }
            best = math.min(best, sec); out = r
          }
          println(f"nb dir=$dir docs=$n scored_rows=$out sec=$best%.2f")
          // fused zero-shuffle A/B: same train, prediction via the
          // broadcast-table scan (includes broadcastModel build time)
          var bestF = Double.MaxValue
          var outF = 0L
          for (_ <- 1 to 2) {
            val (r, sec) = time {
              val m = Classify.nbTrain(docs.filter(col("doc_id") % 2 === 0),
                col("lang"), col("text"))
              val bm = Classify.broadcastModel(m)
              Classify.nbPredictFused(docs, col("doc_id"), col("text"), bm)
                .agg(count(lit(1)), sum(col("ll"))).collect()(0).getLong(0)
            }
            bestF = math.min(bestF, sec); outF = r
          }
          println(f"nbx dir=$dir docs=$n predicted=$outF sec=$bestF%.2f")
        case "lm" =>
          val docs = Tables.load(spark, dir, "documents")
          val n = docs.count()
          var bestR = Double.MaxValue
          var bestF = Double.MaxValue
          for (_ <- 1 to 2) {
            val (_, secR) = time {
              val m = graft.functions.Text.lmTrain(
                docs.filter(col("doc_id") % 2 === 0), col("text"))
              graft.functions.Text.lmScore(docs, col("doc_id"), col("text"), m)
                .agg(count(lit(1)), sum(col("ll"))).collect()(0).getLong(0)
            }
            bestR = math.min(bestR, secR)
            val (_, secF) = time {
              val m = graft.functions.Text.lmTrain(
                docs.filter(col("doc_id") % 2 === 0), col("text"))
              val bm = graft.functions.LmFused.broadcastModel(m)
              graft.functions.LmFused.lmScoreFused(docs, col("doc_id"), col("text"), bm)
                .agg(count(lit(1)), sum(col("ll"))).collect()(0).getLong(0)
            }
            bestF = math.min(bestF, secF)
          }
          println(f"lm dir=$dir docs=$n relational=$bestR%.2f fused=$bestF%.2f")
        case "er" =>
          val c = Tables.load(spark, dir, "customer")
          val n = c.count()
          var best = Double.MaxValue
          var out = 0L
          for (_ <- 1 to 2) {
            val (r, sec) = time {
              RecordLink.linkPairs(c, col("c_custkey"),
                Seq(concat_ws("|", col("c_nationkey"), col("c_mktsegment")),
                  substring(col("c_name"), 10, 7)),
                Seq(col("c_name").as("name")),
                (a, b) => (lit(2) - levenshtein(a.getField("name"),
                  b.getField("name"))).cast("long"),
                lit(0L))
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            best = math.min(best, sec); out = r
          }
          println(f"er dir=$dir customers=$n links=$out sec=$best%.2f")
      }
    }
    spark.stop()
  }
}
