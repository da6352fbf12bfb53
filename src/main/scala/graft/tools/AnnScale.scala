package graft.tools

import graft.functions.Similarity

/** Measures the ANN scale knobs at a given SF dir: the gate-pinned
  * parameters (nlist=16 / bits=4 — sized for DuckDB-oracle
  * tractability, quadratic once the corpus outgrows them) against the
  * corpus-derived auto parameters (nlist ≈ √N, bits ≈ log2(N/64)).
  * Evidence for the scaling table in ROUND4.md. arg: sfDir.
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/repo/data/sf1"
    // optional 2nd arg "pq": run only the PQ tier (the other sections'
    // brute-force truth is quadratic in the corpus — prohibitive at
    // sf10 when only the PQ load point is needed)
    val pqOnly = args.length > 1 && args(1) == "pq"
    val spark = graft.Session.local(32)
    println("ANNPID " + ProcessHandle.current().pid())
    val emb = graft.Tables.load(spark, dir, "embeddings")
    println(s"corpus ${emb.count()} vectors @ $dir")
    def t(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"ANN $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    if (pqOnly) t("warmup (lsh auto)") { Similarity.lshTopKAuto(emb, "vec_id", "embedding", 3) }
    if (!pqOnly) {
    t("warmup (ivf gate)") { Similarity.ivfTopK(emb, "vec_id", "embedding", 3, 16, 2, 0) }
    t("ivf gate nlist=16 it=2") { Similarity.ivfTopK(emb, "vec_id", "embedding", 3, 16, 2, 2) }
    t("ivf auto nlist=sqrt(N) it=2") { Similarity.ivfTopKAuto(emb, "vec_id", "embedding", 3) }
    t("lsh gate bits=4") { Similarity.lshTopK(emb, "vec_id", "embedding", 3, 4) }
    t("lsh auto bits=log2(N/64)") { Similarity.lshTopKAuto(emb, "vec_id", "embedding", 3) }
    }

    // Pair path (the SemDeDup generator): fixed-bits gate form vs the
    // corpus-sized auto forms, with recall vs the exact all-pairs
    // truth stratified by true similarity (pairs are
    // exact-cosine-verified, so precision is 1.0 by construction;
    // recall is the LSH colocation probability, which rises steeply
    // with similarity — the ≥0.9 band is the one semantic dedup acts
    // on). Threshold matches the q_embed_dedup gate (0.3).
    import org.apache.spark.sql.functions.col
    if (!pqOnly) {
    val th = 0.3
    val truth = Similarity.cosinePairs(emb, "vec_id", "embedding", th)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t0 = System.nanoTime()
    val bands = Seq(0.3, 0.6, 0.9)
    val nTruth = bands.map(b => b -> truth.filter(col("sim") >= b).count()).toMap
    println(f"ANN pairs brute truth          ${(System.nanoTime() - t0) / 1e9}%7.2f s  (${nTruth(0.3)} pairs; ${nTruth(0.6)} at >=0.6, ${nTruth(0.9)} at >=0.9)")
    def pr(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t1 = System.nanoTime()
      val got = f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = got.count()
      val sec = (System.nanoTime() - t1) / 1e9
      val hit = got.join(truth, Seq("i", "j")).persist()
      val rec = bands.map { b =>
        val d = nTruth(b)
        if (d == 0) 1.0 else hit.filter(col("sim") >= b).count().toDouble / d
      }
      hit.unpersist(false); got.unpersist(false)
      println(f"ANN $name%-28s $sec%7.2f s  ($n pairs, recall ${rec(0)}%.3f | >=0.6 ${rec(1)}%.3f | >=0.9 ${rec(2)}%.3f)")
    }
    pr("pairs gate bits=4 (sign)") {
      Similarity.bucketedCosinePairs(emb, "vec_id", "embedding", th, 4) }
    pr("pairs auto 1 table") {
      Similarity.bucketedCosinePairsAuto(emb, "vec_id", "embedding", th, tables = 1) }
    pr("pairs auto 8 tables") {
      Similarity.bucketedCosinePairsAuto(emb, "vec_id", "embedding", th) }
    truth.unpersist(false)
    }

    // The corpus is near-random (0 organic pairs at sim >= 0.9 at sf1),
    // so the recall numbers above are dominated by barely-over-threshold
    // pairs LSH is not meant to colocate. Semantic dedup acts on
    // HIGH-similarity pairs: plant 500 perturbed clones (sim ~ 0.9999)
    // and measure how many planted pairs each path recovers at the
    // dedup-realistic threshold 0.9.
    import org.apache.spark.sql.functions.{lit, transform => atransform}
    val nPlant = 500
    val baseIds = emb.orderBy(col("vec_id")).limit(nPlant)
      .select(col("vec_id"), col("embedding"))
    val clones = baseIds.select((col("vec_id") + lit(10000000L)).as("vec_id"),
      atransform(col("embedding"), x => x + lit(0.01f)).as("embedding"))
    val planted = emb.select(col("vec_id"), col("embedding")).union(clones)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    planted.count()
    def plantRecall(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t1 = System.nanoTime()
      val found = f.filter(col("j") === col("i") + lit(10000000L)).count()
      val sec = (System.nanoTime() - t1) / 1e9
      println(f"ANN $name%-28s $sec%7.2f s  (planted recall ${found.toDouble / nPlant}%.3f)")
    }
    if (!pqOnly) {
    plantRecall("planted gate bits=4 (sign)") {
      Similarity.bucketedCosinePairs(planted, "vec_id", "embedding", 0.9, 4) }
    plantRecall("planted auto 1 table") {
      Similarity.bucketedCosinePairsAuto(planted, "vec_id", "embedding", 0.9, tables = 1) }
    plantRecall("planted auto 8 tables") {
      Similarity.bucketedCosinePairsAuto(planted, "vec_id", "embedding", 0.9) }
    }

    // PQ tier: identical LSH bucket structure, but the corpus side of
    // the candidate join carries m-byte codes scored by ADC instead of
    // dim-float vectors scored by exact cosine — measures (a) the
    // wall-clock delta ADC buys inside the same candidate sets, (b)
    // the cached-relation compression (the number that decides whether
    // a billion-vector serving corpus fits in cluster memory), (c)
    // planted-clone top-1 recall through the compressed scorer.
    import graft.functions.{Pq, PqModel}
    val t2 = System.nanoTime()
    val model = PqModel.train(emb, col("vec_id"), col("embedding"), m = 8, ksub = 256)
    println(f"ANN pq train m=8 ksub=256      ${(System.nanoTime() - t2) / 1e9}%7.2f s")
    // untimed JIT warm of the PQ kernels: long-lived JVMs showed
    // nondeterministic 30–90 s deopt/interpretation bursts on the
    // first PQ-bearing stage (SCALE.md round 8) — same reason
    // TailScale warms up before timing
    emb.limit(2000).select(Pq.adc_score(col("embedding"),
        Pq.pq_encode(col("embedding"), model), model))
      .write.format("noop").mode("overwrite").save()
    val bits = Similarity.autoBits(emb.count(), 64)
    t("pq topk auto (ADC in-bucket)") {
      Similarity.pqTopK(emb, "vec_id", "embedding", 3, model,
        Similarity.lshBucket(col("embedding"), bits)) }
    def cachedBytes(name: String, df: org.apache.spark.sql.DataFrame): Long = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      p.count()
      val bytes = p.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      p.unpersist(true)
      println(f"ANN $name%-28s ${bytes / 1024.0 / 1024.0}%7.2f MiB cached")
      bytes
    }
    val vb = cachedBytes("corpus relation: vectors",
      emb.select(col("vec_id"), col("embedding")))
    val cb = cachedBytes("corpus relation: pq codes",
      emb.select(col("vec_id"), Pq.pq_encode(col("embedding"), model).as("codes")))
    println(f"ANN pq compression             ${vb.toDouble / cb}%7.2f x")
    t("ivfpq topk auto (IVFADC)") {
      Similarity.ivfPqTopKAuto(emb, "vec_id", "embedding", 3) }
    plantRecall("planted pq top1 (trained)") {
      val pm = PqModel.train(planted, col("vec_id"), col("embedding"), m = 8, ksub = 256)
      Similarity.pqTopK(planted, "vec_id", "embedding", 1, pm,
          Similarity.lshBucket(col("embedding"),
            Similarity.autoBits(planted.count(), 64)))
        .filter(col("rank") === 1)
        .select(col("qid").as("i"), col("nid").as("j"))
    }
    plantRecall("planted ivfpq top1 (trained)") {
      val pm = PqModel.train(planted, col("vec_id"), col("embedding"), m = 8, ksub = 256)
      Similarity.ivfPqTopK(planted, "vec_id", "embedding", 1, pm,
          nlist = math.max(16, math.ceil(math.sqrt(
            planted.count().toDouble)).toInt), nprobe = 2)
        .filter(col("rank") === 1)
        .select(col("qid").as("i"), col("nid").as("j"))
    }
    planted.unpersist(false)
    spark.stop()
  }
}
