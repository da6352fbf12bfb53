package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.functions.Dedup

/** Recall-vs-truth for the [[Dedup.autoCap]] rule across the capped
  * dedup family (ngram df cap, winnow df cap, minhash bucket cap).
  * Protocol per operator: truth = uncapped pairs on the clean corpus;
  * then the auto-capped operator runs on (a) the clean corpus and (b)
  * a boilerplate-tailed corpus (every doc gains a corpus-wide tail —
  * each tail key's df = N, far over any binding cap) and reports
  * recall of the truth set plus wall seconds. The uncapped boilerplate
  * run is deliberately absent: its Σ C(df,2) term IS the blowup the
  * cap exists to prevent.
  *
  * args: [sfDir]
  */
object CapScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/data/sf1"
    val spark = graft.Session.local(graft.Session.cpus(32))

    val docs = graft.Tables.load(spark, dir, "documents")
    val n = docs.count()
    val cap = Dedup.autoCap(n)
    println(s"""{"docs":$n,"auto_cap":$cap}""")
    val tail = "terms of service apply to every document in this corpus"
    val tailed = docs.select(col("doc_id"),
      concat(col("text"), lit(" " + tail)).as("text"))

    def pairSet(df: DataFrame): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val s = df.select(col("i"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      graft.Session.release(spark)
      (s, sec)
    }

    // order-free fingerprint of a pair set, to compare runs exactly
    def digest(s: Set[(Long, Long)]): Int = scala.util.hashing.MurmurHash3.unorderedHash(s)

    def report(op: String, truth: Set[(Long, Long)], run: String,
        got: Set[(Long, Long)], sec: Double): Unit = {
      val recall = if (truth.isEmpty) 1.0 else truth.intersect(got).size.toDouble / truth.size
      println(f"""{"op":"$op","run":"$run","pairs":${got.size},"digest":${digest(got)},"recall":$recall%.3f,"sec":$sec%.1f}""")
    }

    // n-gram Jaccard (df cap)
    locally {
      val (truth, tSec) = pairSet(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5))
      println(f"""{"op":"ngram","run":"truth_uncapped_clean","pairs":${truth.size},"digest":${digest(truth)},"sec":$tSec%.1f}""")
      val (c, cSec) = pairSet(Dedup.ngramJaccardPairsAuto(docs, col("doc_id"), col("text"), 3, 0.5))
      report("ngram", truth, "auto_clean", c, cSec)
      val (b, bSec) = pairSet(Dedup.ngramJaccardPairsAuto(tailed, col("doc_id"), col("text"), 3, 0.5))
      report("ngram", truth, "auto_boilerplate", b, bSec)
    }

    // winnowing fingerprints (df cap)
    locally {
      val (truth, tSec) = pairSet(Dedup.winnowPairs(docs, col("doc_id"), col("text"), 16, 4, 0.5))
      println(f"""{"op":"winnow","run":"truth_uncapped_clean","pairs":${truth.size},"digest":${digest(truth)},"sec":$tSec%.1f}""")
      val (c, cSec) = pairSet(Dedup.winnowPairsAuto(docs, col("doc_id"), col("text"), 16, 4, 0.5))
      report("winnow", truth, "auto_clean", c, cSec)
      val (b, bSec) = pairSet(Dedup.winnowPairsAuto(tailed, col("doc_id"), col("text"), 16, 4, 0.5))
      report("winnow", truth, "auto_boilerplate", b, bSec)
    }

    // MinHash LSH (band-bucket cap)
    locally {
      val (truth, tSec) = pairSet(Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5))
      println(f"""{"op":"minhash","run":"truth_uncapped_clean","pairs":${truth.size},"digest":${digest(truth)},"sec":$tSec%.1f}""")
      val (c, cSec) = pairSet(Dedup.minhashLshPairsAuto(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5))
      report("minhash", truth, "auto_clean", c, cSec)
      val (b, bSec) = pairSet(Dedup.minhashLshPairsAuto(tailed, col("doc_id"), col("text"), 3, 64, 16, 0.5))
      report("minhash", truth, "auto_boilerplate", b, bSec)
    }

    spark.stop()
  }
}
