package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Convergence cost of [[Similarity.ivfTuneNprobe]] on a persisted
  * IVF index: builds the index at auto nlist ≈ √N, samples a query
  * set, and times the tune walk to a recall target — evidence for
  * the SCALE.md row (the tune is ⌈log₂ nprobe*⌉ serving probes plus
  * ONE sample×corpus exact baseline; nothing index-rebuilding).
  *
  * args: [sfDir] [sampleMod] [target] [k]
  */
object TuneScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/repo/data/sf10e"
    val sampleMod = if (args.length > 1) args(1).toLong else 1000L
    val target = if (args.length > 2) args(2).toDouble else 0.95
    val k = if (args.length > 3) args(3).toInt else 10
    val spark = graft.Session.local(32)
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
    println(s"corpus $n vectors, nlist=$nlist @ $dir")
    val t0 = System.nanoTime()
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nlist, iterations = 2)
    val idx = java.nio.file.Files.createTempDirectory("tunescale").toString
    centroids.write.parquet(s"$idx/centroids")
    Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      .write.partitionBy("cid").parquet(s"$idx/cells")
    val buildSec = (System.nanoTime() - t0) / 1e9
    val c2 = spark.read.parquet(s"$idx/centroids")
    val cells = spark.read.parquet(s"$idx/cells")
    val sample = emb.filter(col("vec_id") % sampleMod === 0)
    val nSample = sample.count()
    // the tune's internal exact baseline, timed standalone so the
    // walk-only cost can be decomposed out of the tune wall
    val tb = System.nanoTime()
    Similarity.bruteForceTopK(
      sample.select(col("vec_id").as("qid"), col("embedding").as("qv")),
      cells, "qid", "qv", "id", "v", k).count()
    val baseSec = (System.nanoTime() - tb) / 1e9
    println(f"TUNE_BASE exact_baseline=$baseSec%.1f s (sample x corpus)")
    val t1 = System.nanoTime()
    val tune = Similarity.ivfTuneNprobe(sample, "vec_id", "embedding",
      c2, cells, k, target, maxNprobe = nlist)
    val tuneSec = (System.nanoTime() - t1) / 1e9
    println(f"TUNE build=$buildSec%.1f s sample=$nSample tune=$tuneSec%.1f s " +
      s"nprobe=${tune.nprobe} recall=${tune.recall} achieved=${tune.achieved} " +
      s"trace=${tune.trace.mkString(",")}")
    // A/B vs the pre-r11 formulation: a full ivfQueryIndex re-serve +
    // recall aggregate at EVERY doubling step (the exact baseline is
    // shared by both forms and excluded from both timings)
    if (sys.env.get("SPARK_GRAFT_TUNE_AB").contains("1")) {
      val q = sample.select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist()
      val exact = Similarity.bruteForceTopK(q, cells, "qid", "qv", "id", "v", k)
        .persist()
      exact.count()
      val t2 = System.nanoTime()
      for ((np, _) <- tune.trace) {
        val approx = Similarity.ivfQueryIndex(q, "qid", "qv", c2, cells, np, k)
        Similarity.annRecall(approx, exact)
          .agg(sum(col("n_hit")), sum(col("n_exact"))).collect()
      }
      val reSec = (System.nanoTime() - t2) / 1e9
      println(f"TUNE_AB reserve_per_step=$reSec%.1f s incremental=$tuneSec%.1f s " +
        f"speedup=${reSec / tuneSec}%.2f x over ${tune.trace.size} steps")
      q.unpersist(); exact.unpersist()
    }
    spark.stop()
  }
}
