package graft.tools

import org.apache.spark.sql.functions.{col, concat, lit}

/** Reproduce the ngramJaccardPairs capped-space recall measurement at
  * any SF dir (the counterpart of [[WinnowScale]] for the shingle
  * index): truth = uncapped pairs on the clean corpus; the capped run
  * adds a corpus-wide boilerplate tail (every tail shingle's df = N,
  * over any binding cap) and must recover the truth set — the
  * round-6 backport of winnowPairs' capped-space semantics. Prints
  * wall seconds, pair counts, and recall vs truth per cap.
  *
  * args: [sfDir] [n] [threshold] [cap...]
  */
object NgramScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/data/sf1"
    val n = if (args.length > 1) args(1).toInt else 3
    val th = if (args.length > 2) args(2).toDouble else 0.5
    val caps = if (args.length > 3) args.drop(3).map(_.toInt).toSeq else Seq(100)
    val spark = graft.Session.local(graft.Session.cpus(32))
    val docs = graft.Tables.load(spark, dir, "documents")
    val tail = "terms of service apply to every document in this corpus"
    val tailed = docs.select(col("doc_id"),
      concat(col("text"), lit(" " + tail)).as("text"))
    val t0 = System.nanoTime()
    val truth = graft.functions.Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), n, th)
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val truthSec = (System.nanoTime() - t0) / 1e9
    println(f"""{"truth_pairs":${truth.size},"sec":$truthSec%.1f}""")
    for (cap <- caps) {
      val t1 = System.nanoTime()
      val got = graft.functions.Dedup.ngramJaccardPairs(tailed, col("doc_id"), col("text"),
          n, th, cap)
        .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      val s = (System.nanoTime() - t1) / 1e9
      val recall = if (truth.isEmpty) 1.0 else truth.intersect(got).size.toDouble / truth.size
      println(f"""{"cap":$cap,"pairs":${got.size},"recall":$recall%.3f,"sec":$s%.1f}""")
    }
    spark.stop()
  }
}
