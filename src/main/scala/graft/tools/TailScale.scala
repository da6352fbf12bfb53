package graft.tools

/** Load point for the super-linear-tail gates at any SF dir (built for
  * the sf10 decade: the brief grades 100×; sf1 evidence stops at 10×).
  * Runs named `SparkEntry.queries` entries against the dir with a noop
  * sink, median of `reps` with per-rep cache isolation (the Bench
  * methodology), one JSON line per gate.
  *
  * args: sfDir [reps] [query...]  (default reps 2, default queries =
  * the round-5 super-linear tail + the auto-ANN production variants)
  */
object TailScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/repo/data/sf10"
    val reps = if (args.length > 1) args(1).toInt else 2
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q_text_bpe", "q_text_winnow", "q_text_repetition",
        "q_dedup_simhash", "q_dedup_winnow", "q_dedup_winnow_skew",
        "q_dedup_ngram", "q_dedup_ngram_skew", "q_dedup_exact",
        "ann_ivf_auto", "ann_lsh_auto", "ann_pairs_auto")
    // TypedImperativeAggregate maps (TopKByAgg rank stage) fall back
    // to SORT-based aggregation after 128 distinct keys by default —
    // which re-materializes every ANN candidate row into the very
    // sort the aggregate exists to avoid. Since round 9 the rankers
    // raise the threshold THEMSELVES (TopK.ensureHashAggCapacity);
    // SPARK_GRAFT_DEFAULT_CONF=1 puts the session back at Spark's
    // default to prove exactly that on the third-decade run.
    val defaultConf =
      if (sys.env.get("SPARK_GRAFT_DEFAULT_CONF").contains("1"))
        Seq(graft.functions.TopK.FallbackConf -> "128")
      else Nil
    val spark = graft.Session.local(graft.Session.cpus(32), defaultConf: _*)
    // ann_* pseudo-gates run the production auto-sized ANN variants
    // (the gates pin tiny cells for oracle tractability; the auto
    // paths are what must hold at this decade)
    def query(name: String): org.apache.spark.sql.DataFrame = name match {
      case "ann_ivf_auto" =>
        graft.functions.Similarity.ivfTopKAuto(
          graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", 3)
      case "ann_lsh_auto" =>
        graft.functions.Similarity.lshTopKAuto(
          graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", 3)
      case "ann_pairs_auto" =>
        graft.functions.Similarity.bucketedCosinePairsAuto(
          graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", 0.9)
      // float-only verify (the pre-round-9 formulation) — same-machine
      // A/B for the int8 prefilter on the pair path
      case "ann_pairs_float" =>
        import org.apache.spark.sql.functions.{col, posexplode}
        val S = graft.functions.Similarity
        val emb = graft.Tables.load(spark, dir, "embeddings")
        val data = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
        val bits = S.autoBits(data.count(), 64)
        val keyed = data.select(col("id"),
          posexplode(S.lshSketch(col("v"), bits, 8)).as(Seq("t", "bucket")))
        val cands = keyed.as("a").join(keyed.as("b"),
            col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("i"), col("b.id").as("j")).distinct()
        cands
          .join(data.select(col("id").as("i"), col("v").as("vi")), "i")
          .join(data.select(col("id").as("j"), col("v").as("vj")), "j")
          .filter(S.cosine(col("vi"), col("vj")) >= 0.9)
          .select(col("i"), col("j"))
      // production int8 serving scan (gate pins tiny dims for oracle)
      case "ann_int8_auto" =>
        graft.functions.Int8.int8TopKAuto(
          graft.Tables.load(spark, dir, "embeddings"), "vec_id", "embedding", 3)
      // asset near-dup with widened pigeonhole blocks (r = m − h > 1):
      // more selective keys, C(m, r) × the keyed rows
      // the boilerplate-skew corpus (every doc shares a hot tail, so
      // the uncapped Σdf² includes a corpus-wide clique term)
      case "ngram_uncapped_skew" =>
        val c = org.apache.spark.sql.functions
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(c.col("doc_id"), c.concat(c.col("text"),
            c.lit(" terms of service apply to every document in this corpus")).as("text"))
        graft.functions.Dedup.ngramJaccardPairs(docs,
          c.col("doc_id"), c.col("text"), n = 3, threshold = 0.3)
      case "ngram_prefix_skew" =>
        val c = org.apache.spark.sql.functions
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(c.col("doc_id"), c.concat(c.col("text"),
            c.lit(" terms of service apply to every document in this corpus")).as("text"))
        graft.functions.Dedup.ngramJaccardPairsPrefix(docs,
          c.col("doc_id"), c.col("text"), n = 3, threshold = 0.3)
      // same corpora at the near-dup threshold (0.9): short prefixes,
      // hot tail provably outside every prefix
      case "ngram_uncapped_skew_t9" =>
        val c = org.apache.spark.sql.functions
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(c.col("doc_id"), c.concat(c.col("text"),
            c.lit(" terms of service apply to every document in this corpus")).as("text"))
        graft.functions.Dedup.ngramJaccardPairs(docs,
          c.col("doc_id"), c.col("text"), n = 3, threshold = 0.9)
      case "ngram_prefix_skew_t9" =>
        val c = org.apache.spark.sql.functions
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(c.col("doc_id"), c.concat(c.col("text"),
            c.lit(" terms of service apply to every document in this corpus")).as("text"))
        graft.functions.Dedup.ngramJaccardPairsPrefix(docs,
          c.col("doc_id"), c.col("text"), n = 3, threshold = 0.9)
      // the three EXACT all-pairs Jaccard strategies head-to-head
      case "ngram_uncapped" =>
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Dedup.ngramJaccardPairs(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), n = 3, threshold = 0.5)
      case "ngram_prefix" =>
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Dedup.ngramJaccardPairsPrefix(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), n = 3, threshold = 0.5)
      // full-width signature (63 gradient bits): more selective block
      // keys at unchanged m — the scale lever that DOESN'T multiply
      // keyed rows
      case "assetdup_t64" =>
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text").cast("binary").as("blob"))
        graft.functions.Multimodal.nearDupAssets(docs, "doc_id", "blob",
          target = 64, maxHamming = 6)
      case s if s.startsWith("assetdup_b") =>
        val docs = graft.Tables.load(spark, dir, "documents")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text").cast("binary").as("blob"))
        graft.functions.Multimodal.nearDupAssets(docs, "doc_id", "blob",
          target = 49, maxHamming = 6, blocks = s.stripPrefix("assetdup_b").toInt)
      // production semantic decontam: bits sized to the train side
      // (the gate pins bits=4/tables=2 for DuckDB tractability)
      case "decontam_sem_auto" =>
        val emb = graft.Tables.load(spark, dir, "embeddings")
        val c = org.apache.spark.sql.functions.col _
        graft.functions.Dedup.decontaminateSemanticAuto(
          emb.filter(c("vec_id") % 50 =!= 0), "vec_id", "embedding",
          emb.filter(c("vec_id") % 50 === 0), "vec_id", "embedding",
          threshold = 0.9)
      // the float-only verify the int8 prefilter replaced — kept as a
      // same-machine A/B for the SCALE.md rows
      case "decontam_sem_float" =>
        import org.apache.spark.sql.functions.{col, count, lit, posexplode}
        val emb = graft.Tables.load(spark, dir, "embeddings")
        val S = graft.functions.Similarity
        val t = emb.filter(col("vec_id") % 50 =!= 0)
          .select(col("vec_id").as("id"), col("embedding").as("v"))
        val e = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("eid"), col("embedding").as("ev"))
        val bits = S.autoBits(t.count(), 64)
        def keyed(df: org.apache.spark.sql.DataFrame, id: String, v: String) =
          df.select(col(id), posexplode(S.lshSketch(col(v), bits, 8)).as(Seq("t", "bucket")))
        keyed(t, "id", "v").join(keyed(e, "eid", "ev"), Seq("t", "bucket"))
          .select(col("id"), col("eid")).distinct()
          .join(t, "id").join(e, "eid")
          .filter(S.cosine(col("v"), col("ev")) >= 0.9)
          .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      // simhash with widened pigeonhole blocks — the documented knob
      // once N approaches 2^(r·64/m) per dedup domain (the gate's
      // m=maxHamming+1=8 gives 8-bit keys: saturated at 500k docs)
      // the production winnow configuration: a BINDING df cap (the
      // gate's 1000 is sized as a provable no-op for the oracle, which
      // at sf1+ behaves near-uncapped: 192 s vs ~20 s at cap 100)
      case "winnow_cap100" =>
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Dedup.winnowPairs(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"),
          k = 16, w = 4, minOverlap = 0.5, maxDocFreq = 100)
      // the production packing configuration: auto-sized buckets
      // (the gate pins 8 for the oracle)
      case "pack_auto" =>
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Text.packSequencesAuto(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), budget = 512)
      // the production minhash configuration: auto-sized bucket cap
      case "minhash_auto" =>
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Dedup.minhashLshPairsAuto(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"),
          n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      case s if s.startsWith("pack_b") => // explicit bucket count
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Text.packSequences(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), budget = 512,
          buckets = s.stripPrefix("pack_b").toInt)
      case s if s.startsWith("simhash_m") =>
        val m = s.stripPrefix("simhash_m").toInt
        val docs = graft.Tables.load(spark, dir, "documents")
        graft.functions.Dedup.simhashPairs(docs,
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"), maxHamming = 7, blocks = m)
      case n => graft.SparkEntry.queries(n)(spark, dir)
    }
    // Warm up JVM/codegen/parquet footers before the first timed rep —
    // without this the run's FIRST gate absorbs ~6 s of startup (and
    // median-of-2 reports the max), which round 7 caught inflating a
    // first-listed gate 8×. Embeddings-only scale dirs (sf100e) have
    // no documents table; warm with whatever exists.
    val warmTable =
      if (new java.io.File(s"$dir/documents.parquet").exists()) "documents"
      else "embeddings"
    graft.Tables.load(spark, dir, warmTable).write.format("noop")
      .mode("overwrite").save()
    for (name <- names) {
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        query(name).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = secs(secs.length / 2)
      println(f"""{"gate":"$name","sec":$med%.2f,"reps":$reps,"sf":"$dir"}""")
    }
    spark.stop()
  }
}
