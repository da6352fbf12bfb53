package graft.tools

import org.apache.spark.sql.functions.col

/** Reproduce the winnowPairs scale comparison at any SF dir (the
  * counterpart of [[AnnScale]] for the fingerprint index): run a list
  * of caps, print wall seconds, pair counts, and — when cap 0 (the
  * uncapped truth) is in the list — recall vs that truth set. The
  * cost driver is Σ C(df,2) over the fingerprint index — the df cap
  * is the knob that bounds it.
  *
  * args: [sfDir] [k] [w] [minOverlap] [cap...]
  */
object WinnowScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/data/sf1"
    val k = if (args.length > 1) args(1).toInt else 16
    val w = if (args.length > 2) args(2).toInt else 4
    val ov = if (args.length > 3) args(3).toDouble else 0.5
    val caps = if (args.length > 4) args.drop(4).map(_.toInt).toSeq else Seq(1000, 100)
    val spark = graft.Session.local(graft.Session.cpus(32))
    val docs = graft.Tables.load(spark, dir, "documents")
    var truth: Option[Set[(Long, Long)]] = None
    for (cap <- caps) {
      val t0 = System.nanoTime()
      val got = graft.functions.Dedup.winnowPairs(docs, col("doc_id"), col("text"),
          k, w, ov, cap)
        .select(col("i"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val s = (System.nanoTime() - t0) / 1e9
      graft.Session.release(spark)
      if (cap <= 0) truth = Some(got)
      val recall = truth.map(t =>
        if (t.isEmpty) 1.0 else t.intersect(got).size.toDouble / t.size)
      println(f"""{"cap":$cap,"pairs":${got.size},"sec":$s%.1f${recall.map(r => f""","recall":$r%.3f""").getOrElse("")}}""")
    }
    spark.stop()
  }
}
