package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity, Text}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("minhash-LSH finds exactly the exact-jaccard near-dup pairs (sf0.001 docs)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("containmentPairs: asymmetric quote detection a jaccard threshold misses") {
    // doc 2 embeds ALL of doc 1 inside a much longer text: containment
    // 1→2 is 1.0 while jaccard is far below 0.5
    val docs = Seq(
      (1L, "the quick brown fox jumps over dogs"),
      (2L, "padding one two three four five six seven eight nine ten " +
        "the quick brown fox jumps over dogs " +
        "more tail padding eleven twelve thirteen fourteen fifteen"),
      (3L, "completely unrelated content about databases and engines")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, $"doc_id", $"text", n = 3,
      threshold = 0.9).select("i", "j").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)), "only the contained direction qualifies")
    val jac = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(jac === Set.empty[(Long, Long)],
      "the jaccard gate must NOT see the quote pair — that asymmetry is the point")
    // exact value: |sh(1)| = 5 trigrams, all shared
    val c = Dedup.containmentPairs(docs, $"doc_id", $"text", 3, 0.9)
      .select("containment").as[Double].collect()
    assert(c.toSeq === Seq(1.0))
  }

  test("collocations: hand-counted lift, min-count pruning, short docs skipped") {
    // corpus: "a b" ×2, "a c", "b" (too short for bigrams)
    // T = 7 tokens; c(a)=3, c(b)=3, c(c)=1
    // bigrams: (a,b)×2, (a,c)×1
    val docs = Seq("a b", "a b", "a c", "b").toDF("text")
    val got = Text.collocations(docs, $"text", minCount = 2)
      .select("x", "y", "n_xy", "n_x", "n_y", "lift")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    // lift(a,b) = floor(1e6 * 2 * 7 / (3*3)) = 1555555
    assert(got === Set(("a", "b", 2L, 3L, 3L, 1555555L)))
    val all = Text.collocations(docs, $"text", minCount = 1)
      .select("x", "y").as[(String, String)].collect().toSet
    assert(all === Set(("a", "b"), ("a", "c")))
  }

  test("cooccurrence: hand-counted ±window pairs, window clipping, direction kept") {
    // "a b c a" with window 2: d=1 → (a,b)(b,c)(c,a); d=2 → (a,c)(b,a)
    val docs = Seq("a b c a", "x").toDF("text")
    val got = graft.functions.Text.cooccurrence(docs, $"text", window = 2)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L),
      ("a", "c", 1L), ("b", "a", 1L)))
    // window larger than every doc: clipped, no error, adjacency kept
    val wide = graft.functions.Text.cooccurrence(docs, $"text", window = 99)
      .as[(String, String, Long)].collect().toSet
    assert(wide.contains(("a", "b", 1L)) && wide.contains(("a", "a", 1L)))
    // minCount prunes
    val pruned = graft.functions.Text.cooccurrence(docs, $"text", 2, minCount = 2L)
    assert(pruned.count() === 0)
  }

  test("prefix-filtered all-pairs equals the uncapped inverted index at multiple thresholds") {
    val docs = Tables.load(spark, sf0001, "documents")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val plain = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", 3, t)
        .select($"i", $"j").as[(Long, Long)].collect().toSet
      val pref = Dedup.ngramJaccardPairsPrefix(docs, $"doc_id", $"text", 3, t)
        .select($"i", $"j").as[(Long, Long)].collect().toSet
      assert(pref === plain, s"threshold $t")
      assert(plain.nonEmpty || t > 0.5)
    }
  }

  test("jaccardPairsAuto dispatches by threshold per the measured matrix") {
    val docs = Tables.load(spark, sf0001, "documents")
    val hi = Dedup.jaccardPairsAuto(docs, $"doc_id", $"text", 3, 0.9)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val hiPrefix = Dedup.ngramJaccardPairsPrefix(docs, $"doc_id", $"text", 3, 0.9)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(hi === hiPrefix)
    val lo = Dedup.jaccardPairsAuto(docs, $"doc_id", $"text", 3, 0.4)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val loCapped = Dedup.ngramJaccardPairsAuto(docs, $"doc_id", $"text", 3, 0.4)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(lo === loCapped)
  }

  test("prefix length is exact at rational boundaries (no double-ceil drift)") {
    // sz=30, t=0.1: ⌈0.1·30⌉ = 3 exactly; a double ceil of
    // 3.0000000000000004 would give 4 and shorten the prefix. Build
    // 30-shingle docs sharing ONLY their last-ordered shingles so the
    // pair survives iff the prefix is the full 28 elements.
    val base = (1 to 32).map(i => s"w$i").mkString(" ") // 30 3-grams
    val docs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairsPrefix(docs, $"doc_id", $"text", 3, 0.1)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 === 1.0)
  }

  test("doc-frequency cap leaves results unchanged when it does not bind") {
    val docs = Tables.load(spark, sf0001, "documents")
    val uncapped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5, maxDocFreq = 100000)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
  }

  test("binding df-cap preserves near-dup recall (capped-space jaccard)") {
    // Every doc gets a boilerplate tail whose shingles reach df = corpus
    // size — far over cap 10, which BINDS. With jaccard computed in the
    // capped shingle space (hot shingles leave numerator and denominator
    // together), the true pair set of the clean corpus survives; under
    // the pre-round-6 lower-bound form (uncapped denominators) the tail
    // inflates |A|+|B| and dilutes every true pair's jaccard instead.
    val docs = Tables.load(spark, sf0001, "documents")
    val truth = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val tail = "terms of service apply to every document in this corpus"
    val tailed = docs.select(col("doc_id"),
      concat(col("text"), lit(" " + tail)).as("text"))
    val capped = Dedup.ngramJaccardPairs(tailed, col("doc_id"), col("text"), 3, 0.45,
        maxDocFreq = 10)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = truth.intersect(capped).size.toDouble / truth.size
    assert(recall >= 0.95, s"capped-space recall $recall; missing ${truth.diff(capped)}")
  }

  test("gate's ngram df-cap (1000) is far above the corpus max shingle df") {
    // q_dedup_ngram runs the capped path with maxDocFreq=1000; this pins
    // the invariant that makes its oracle answer provably identical to
    // the uncapped exact-jaccard SQL: no shingle in the gate corpora
    // comes near the cap (measured max df: 7 at sf0.01, 25 at sf0.1).
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val d = Tables.load(spark, dir, "documents")
      val maxDf = d.select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
        .groupBy("s").count().agg(max("count")).as[Long].head()
      assert(maxDf < 1000, s"$dir max shingle df $maxDf approaches gate cap 1000")
    }
  }

  test("band-bucket cap: recall unchanged when above corpus size, empties when binding") {
    val docs = Tables.load(spark, sf0001, "documents")
    val uncapped = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5,
        maxBucketSize = 1000)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(capped === uncapped)
    // cap=1 drops every bucket that could produce a candidate pair
    val choked = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 3, 64, 16, 0.5,
        maxBucketSize = 1)
      .count()
    assert(choked === 0L)
  }

  test("simhash pairs cover the high-jaccard near-dups") {
    val docs = Tables.load(spark, sf0001, "documents")
    val high = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.9)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhashPairs(docs, col("doc_id"), col("text"), 7)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(high.nonEmpty)
    assert(high.subsetOf(sim))
  }

  test("ANN auto params derive cells from corpus size; ranks stay well-formed") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count()
    // nlist = max(16, ceil(sqrt(N))) and bits = clamp(log2(N/64), 4, 24):
    // both paths must return a dense 1..k rank per query
    for (df <- Seq(
        graft.functions.Similarity.ivfTopKAuto(emb, "vec_id", "embedding", 3),
        graft.functions.Similarity.lshTopKAuto(emb, "vec_id", "embedding", 3))) {
      val ranks = df.groupBy(col("qid"))
        .agg(collect_list(col("rank")).as("rs"))
        .select(col("rs")).as[Seq[Int]].collect()
      assert(ranks.nonEmpty)
      assert(ranks.forall(rs => rs.sorted == (1 to rs.length)))
      assert(ranks.forall(_.length <= 3))
    }
    assert(n > 0)
  }

  test("simhashPairsAuto dispatches the measured block crossover; result invariant") {
    val docs = Tables.load(spark, sf0001, "documents")
    val auto = Dedup.simhashPairsAuto(docs, $"doc_id", $"text", maxHamming = 7)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val m8 = Dedup.simhashPairs(docs, $"doc_id", $"text", 7, blocks = 8)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(auto === m8) // 500 docs < 1M → m = maxHamming+1
  }

  test("simhash pairs are invariant across block counts (pigeonhole recall)") {
    val docs = Tables.load(spark, sf0001, "documents")
    def pairs(blocks: Int) =
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), 7, blocks)
        .select("i", "j", "hamming").as[(Long, Long, Int)].collect().toSet
    val base = pairs(8)
    assert(base.nonEmpty)
    assert(pairs(9) === base)
    assert(pairs(10) === base)
  }

  test("simhash of identical token arrays is identical; distinct texts differ") {
    val df = Seq("a b c a b", "a b c a b", "x y z w q").toDF("text")
      .select(graft.functions.SimHash.simhash64(Text.tokens(col("text"))).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) === hs(1))
    assert(hs(0) !== hs(2))
  }

  test("langId votes by stopword sets with tie priority") {
    val df = Seq(
      "the cat of the house",  // en
      "el gato de la casa y que", // es
      "zzz qqq www").toDF("text")
      .select(Text.langId(col("text")).as("l"))
    assert(df.as[String].collect().toSeq === Seq("en", "es", "unknown"))
  }

  test("fingerprint normalizes whitespace and case") {
    val df = Seq("Hello   World", "hello world", "other").toDF("text")
      .select(Text.fingerprint(col("text")).as("f"))
    val fs = df.as[String].collect()
    assert(fs(0) === fs(1))
    assert(fs(0) !== fs(2))
  }

  test("bruteForceTopK excludes self and ranks by cosine desc") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", "vec_id", "embedding", 3)
    val rows = out.collect()
    assert(rows.length === 15)
    assert(!rows.exists(r => r.getLong(0) === r.getLong(2)))
    // per query, sim non-increasing with rank
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshTopK returns bucket-local neighbors consistent with cosine order") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val out = Similarity.lshTopK(emb, "vec_id", "embedding", 3, 4).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfTopK returns correctly-ranked in-cell neighbors with useful recall") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 1, nlist = 8, nprobe = 3)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getLong(0) === r.getLong(2)))
    // recall@1 vs brute force over all 500 queries
    val bf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = bf.count { case (q, n) => got.get(q).contains(n) }
    val recall = hits.toDouble / bf.size
    assert(recall > 0.3, s"IVF recall@1 too low: $recall")
  }

  test("sign-bucket pairs: perfect precision vs brute force, useful recall") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    // t=0.3 so both sets are non-empty on this corpus (t=0.5 has 0 pairs
    // at sf0.001); the gate query runs t=0.5 where the sole sf0.01+ pair
    // is same-bucket (verified offline with DuckDB)
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.bucketedCosinePairs(emb, "vec_id", "embedding", 0.3, 4)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty && bucketed.nonEmpty)
    assert(bucketed.subsetOf(brute), "bucketed pair not >= threshold")
    val recall = bucketed.size.toDouble / brute.size
    assert(recall > 0.1, s"sign-bucket pair recall too low: $recall")
  }

  test("bucketedCosinePairsAuto: corpus-derived bits, perfect precision, useful recall") {
    // the auto sizing rule itself: bits = clamp(ceil(log2(N/target)), 4, 24)
    assert(Similarity.autoBits(500, 64) === 4)
    assert(Similarity.autoBits(1L << 20, 64) === 14)
    assert(Similarity.autoBits(10, 64) === 4)
    assert(Similarity.autoBits(Long.MaxValue, 64) === 24)
    val emb = Tables.load(spark, sf0001, "embeddings")
    val brute = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val auto = Similarity.bucketedCosinePairsAuto(emb, "vec_id", "embedding", 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty && auto.nonEmpty)
    assert(auto.subsetOf(brute), "auto-bucketed pair below threshold")
    val recall = auto.size.toDouble / brute.size
    assert(recall > 0.1, s"auto-bucketed pair recall too low: $recall")
    // the production SemDeDup composition resolves every pair endpoint
    // to a canonical representative <= itself
    val reps = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.3)
      .as[(Long, Long)].collect()
    assert(reps.nonEmpty)
    assert(reps.forall { case (id, rep) => rep <= id })
    assert(reps.map(_._1).distinct.length === reps.length)
  }

  test("sign-bucket topK agrees with brute force on bucket-colocated neighbors") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val bf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sb = Similarity.bucketTopK(emb, "vec_id", "embedding", 1,
        Similarity.signBucket(col("embedding"), 4))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // recall@1: fraction of true nearest neighbors that share the bucket
    val hits = bf.count { case (q, n) => sb.get(q).contains(n) }
    val recall = hits.toDouble / bf.size
    assert(recall > 0.1, s"sign-bucket recall@1 too low: $recall")
    // exactness within bucket: where they agree on candidates, ranks are
    // cosine-ordered (inherited from bucketTopK's window rank)
    val out = Similarity.bucketTopK(emb, "vec_id", "embedding", 3,
      Similarity.signBucket(col("embedding"), 4)).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dhash: hand-computed gradient bits; nearDupAssets equals brute-force xor-popcount") {
    import graft.functions.{Multimodal, MultimodalImpl}
    // bytes 1,3,2,2 at target>=4 → stride 1, bits: 3>1 → bit0, 2>3 no,
    // 2>2 no (strict) → h = 1
    assert(MultimodalImpl.dhash(Array[Byte](1, 3, 2, 2), 49) === 1L)
    // unsigned compare: 0x80 (128) > 0x7f (127)
    assert(MultimodalImpl.dhash(Array[Byte](127, -128), 49) === 1L)
    assert(MultimodalImpl.dhash(Array.empty[Byte], 49) === 0L)
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text".cast("binary").as("blob"))
    val got = Multimodal.nearDupAssets(docs, "doc_id", "blob", 49, 6)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val sigs = docs.select($"doc_id", Multimodal.dhash($"blob", 49).as("dh"))
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.dh".bitwiseXOR($"b.dh")) <= 6)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty, "corpus should contain near-dup assets")
    // grouped path ≡ ungrouped pigeonhole, including hamming values
    val grouped = graft.functions.Dedup.hammingPairsGrouped(
        sigs, $"doc_id", $"dh", 6, sigBits = 48)
      .as[(Long, Long, Int)].collect().toSet
    val plain = graft.functions.Dedup.hammingPairs(
        sigs, $"doc_id", $"dh", 6, sigBits = 48)
      .as[(Long, Long, Int)].collect().toSet
    assert(grouped === plain)
    // exact-equal sigs appear with hamming 0
    assert(grouped.exists(_._3 == 0))
  }

  test("multimodal featurize matches byte-level ground truth") {
    val df = Seq((1L, "abc"), (2L, "")).toDF("id", "t")
      .select(col("id"), col("t").cast("binary").as("blob"))
    val out = graft.functions.Multimodal.featurize(df, "id", "blob")
      .collect().map(f => (f.asset_id, f.n_bytes, f.first_byte, f.byte_sum)).toSet
    assert(out === Set((1L, 3L, 97, 294L), (2L, 0L, -1, 0L)))
  }

  test("multimodal resize strides to the target; frameSample fans out frames") {
    import graft.functions.Multimodal
    // 10 bytes 'a'..'j', target 4 → stride 2, picks offsets 0,2,4,6
    val df = Seq((1L, "abcdefghij".getBytes), (2L, Array.empty[Byte]))
      .toDF("id", "blob")
    val rz = Multimodal.resize(df, "id", "blob", target = 4)
      .collect().map(r => r.asset_id -> ((r.in_bytes, r.out_bytes, r.byte_sum, r.first_byte, r.last_byte))).toMap
    assert(rz(1L) === ((10L, 4L, ('a' + 'c' + 'e' + 'g').toLong, 'a'.toInt, 'g'.toInt)))
    assert(rz(2L) === ((0L, 0L, 0L, -1, -1)))
    // 10 bytes, frame size 3 → frames 0..3 (3,3,3,1 bytes), keep every 2nd: 0 and 2
    val fr = Multimodal.frameSample(df, "id", "blob", frameSize = 3, everyNth = 2)
      .collect().map(f => (f.asset_id, f.frame_idx) -> ((f.frame_bytes, f.byte_sum))).toMap
    assert(fr((1L, 0L)) === ((3L, ('a' + 'b' + 'c').toLong)))
    assert(fr((1L, 2L)) === ((3L, ('g' + 'h' + 'i').toLong)))
    assert(fr.size === 2) // empty blob fans out to nothing
  }

  test("ngramStats: one-pass totals, distincts, and top frequency") {
    val df = Seq(
      "a b a b a",   // 2-grams: "a b","b a","a b","b a" → (4, 2, 2)
      "x",           // fewer tokens than n → all zero
      "",
      "w w w w",     // "w w" ×3 → (3, 1, 3)
      "p q r"        // all distinct → (2, 2, 1)
    ).toDF("text")
    val got = df.select(
        Text.ngramStats(col("text"), 2).getField("n_grams"),
        Text.ngramStats(col("text"), 2).getField("n_distinct"),
        Text.ngramStats(col("text"), 2).getField("top_count"))
      .as[(Int, Int, Int)].collect().toSeq
    assert(got === Seq((4, 2, 2), (0, 0, 0), (0, 0, 0), (3, 1, 3), (2, 2, 1)))
  }

  test("repetition ratios: degenerate text scores high, varied text low") {
    val df = Seq(("loop", "spam spam spam spam spam"), ("ok", "the quick brown fox jumps"))
      .toDF("id", "text")
    val m = df.select(col("id"), Text.dupNgramRatio(col("text"), 2).as("dup"),
        Text.topNgramFraction(col("text"), 2).as("top"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(m("loop") === ((0.75, 1.0)))  // 4 grams, 1 distinct
    assert(m("ok") === ((0.0, 0.25)))    // 4 grams, all distinct
  }

  test("lmScore: stupid backoff hand-computed on a tiny corpus; OOV takes the add-one floor") {
    val train = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val model = Text.lmTrain(train, col("text"))
    // counts: a=3, b=2, c=1, N=6; bigrams: (a,b)=2, (b,a)=2, (a,c)=1
    assert(model.totalTokens === 6L)
    val score = Text.lmScore(Seq((1L, "a b a"), (2L, "a z")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), model, alpha = 0.4)
      .select(col("id"), col("n_scored"), col("n_backoff"), col("ll"))
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: (a,b): ln(2/3); (b,a): ln(2/2) — both hits
    val exp1 = math.log(2.0 / 3.0) + math.log(1.0)
    assert(score(1L)._1 === 2L && score(1L)._2 === 0L)
    assert(math.abs(score(1L)._3 - exp1) < 1e-12)
    // doc 2: (a,z) unseen, z OOV → ln(0.4) + ln(max(0,1)) − ln(6)
    val exp2 = math.log(0.4) + math.log(1.0) - math.log(6.0)
    assert(score(2L)._1 === 1L && score(2L)._2 === 1L)
    assert(math.abs(score(2L)._3 - exp2) < 1e-12)
  }

  test("lmScore: perplexity ranks natural continuation below scrambled text") {
    val docs = Tables.load(spark, sf0001, "documents")
    val model = Text.lmTrain(docs, $"text")
    // natural = real corpus docs; scrambled = same tokens reversed THEN
    // interleaved across a stride, destroying bigram structure while
    // keeping the unigram distribution identical
    val scrambled = docs.select($"doc_id",
      concat_ws(" ", reverse(Text.tokens($"text"))).as("text"))
    val nat = Text.lmScore(docs, $"doc_id", $"text", model)
      .agg(avg($"ppl")).as[Double].collect().head
    val scr = Text.lmScore(scrambled, $"doc_id", $"text", model)
      .agg(avg($"ppl")).as[Double].collect().head
    assert(nat < scr, s"natural ppl $nat should be below scrambled $scr")
  }

  test("perplexityPartitions: per-language tertiles, head = cleanest, unscorable docs absent") {
    // train on pure bigram chains so doc ppl is controlled by how
    // much of the doc walks trained bigrams vs OOV noise
    val train = Seq((0L, "a b a b a b a b", "en"), (1L, "x y x y x y x y", "fr"))
      .toDF("doc_id", "text", "lang")
    val model = Text.lmTrain(train, col("text"))
    val docs = Seq(
      // en: clean → noisy
      (10L, "a b a b a b", "en"), (11L, "a b a b q q", "en"),
      (12L, "q q q q q q", "en"),
      // fr: same construction on the other chain
      (20L, "x y x y x y", "fr"), (21L, "x y x y q q", "fr"),
      (22L, "q q q q q q", "fr"),
      // unscorable single-token doc
      (30L, "a", "en")
    ).toDF("doc_id", "text", "lang")
    val p = Text.perplexityPartitions(docs, col("doc_id"), col("text"),
        col("lang"), model)
      .select(col("id"), col("lang"), col("part"))
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(p === Map(10L -> "head", 11L -> "middle", 12L -> "tail",
      20L -> "head", 21L -> "middle", 22L -> "tail"))
    // custom binary split
    val p2 = Text.perplexityPartitions(docs, col("doc_id"), col("text"),
        col("lang"), model, labels = Seq("keep", "drop"))
      .select(col("id"), col("part")).as[(Long, String)].collect().toMap
    assert(p2(10L) === "keep" && p2(12L) === "drop")
  }

  test("gopherRules: each rule rejects its designed failure and keep is the conjunction") {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val good = "the quick brown fox jumps over a lazy dog and runs far into " +
      "the deep green forest to find food and water is near the old mill"
    val rows = Seq(
      ("good", good),
      ("short", "the cat is here and now"),                      // < minTokens
      ("longwords", ("the is " + Seq.fill(28)("extraordinarily").mkString(" "))), // mean len > 10
      ("symbols", "the @@ ## $$ %% ^^ && ** (( )) __ ++ == {{ }} [[ ]] :: ;; << >> ?? // \\\\ || ~~ `` '' \"\" ,, .. !! @@ ## $$ %%"), // alpha share low
      ("nostop", good.split(" ").filterNot(stop.contains).mkString(" ") + " " +
        good.split(" ").filterNot(stop.contains).reverse.mkString(" ")), // no stopwords (still long)
      ("loop", Seq.fill(8)("the spam and spam the spam and spam").mkString(" ") +
        " the end is here and now ok")) // repetition
      .toDF("id", "text")
    val t = Text.GopherThresholds(minTokens = 10, maxTokens = 100000,
      meanLenMinPm = 3000L, meanLenMaxPm = 10000L, alphaMinPm = 800L,
      minStopwordHits = 2, dup2MaxPm = 300L, top2MaxPm = 200L)
    val r = rows.select(col("id"), Text.gopherRules(col("text"), stop, t).as("r"))
      .select(col("id"), col("r.*"))
      .collect().map(x => x.getString(0) ->
        (x.getBoolean(1), x.getBoolean(2), x.getBoolean(3), x.getBoolean(4),
          x.getBoolean(5), x.getBoolean(6), x.getBoolean(7))).toMap
    assert(r("good") === ((true, true, true, true, true, true, true)))
    assert(!r("short")._1 && !r("short")._7)       // word count
    assert(!r("longwords")._2 && !r("longwords")._7) // mean word length
    assert(!r("symbols")._3 && !r("symbols")._7)   // alpha share
    assert(!r("nostop")._4 && !r("nostop")._7)     // stopword hits
    assert((!r("loop")._5 || !r("loop")._6) && !r("loop")._7) // repetition
    // keep ≡ conjunction on every row
    r.values.foreach { case (a, b, c, d, e, f, k) => assert(k === (a && b && c && d && e && f)) }
  }

  test("gopherFilter is the keep-flag filter and a pure scan predicate (no exchange)") {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = Text.GopherThresholds(minTokens = 20, meanLenMinPm = 4000L,
      dup2MaxPm = 100L, top2MaxPm = 100L)
    val kept = Text.gopherFilter(docs, col("text"), stop, t)
    val viaFlags = docs.filter(Text.gopherRules(col("text"), stop, t).getField("keep"))
    assert(kept.count() === viaFlags.count())
    val n = kept.count()
    assert(n > 0 && n < docs.count()) // differentially live on the corpus
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherFilter should not shuffle:\n$plan")
  }

  test("winnow matches a naive rolling-hash + sliding-min reference") {
    import graft.functions.WinnowImpl
    def naive(s: String, k: Int, w: Int): Set[Long] = {
      if (s.length < k) return Set.empty
      val hs = (0 to s.length - k).map { i =>
        s.substring(i, i + k).foldLeft(0L)((h, c) => h * WinnowImpl.Base + c)
      }
      def minU(xs: Seq[Long]): Long = xs.minBy(_ ^ Long.MinValue) // unsigned order
      if (hs.length <= w) Set(minU(hs))
      else hs.sliding(w).map(minU).toSet
    }
    def got(s: String, k: Int, w: Int): Set[Long] =
      WinnowImpl.winnow(org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
        .toLongArray().toSet
    val rnd = new scala.util.Random(11)
    val samples = Seq("", "ab", "abcdefgh", "aaaaaaaaaaaaaaa", "abababababab") ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(60))("abcd".charAt(rnd.nextInt(4))).mkString)
    for (s <- samples; (k, w) <- Seq((3, 4), (8, 4), (5, 1)))
      assert(got(s, k, w) === naive(s, k, w), s"k=$k w=$w text='$s'")
  }

  test("winnowing guarantee: shared run of k+w-1 chars shares a fingerprint") {
    val shared = "qwertyuiopa" // k + w - 1 = 11 chars
    val df = Seq((1L, s"zzz ${shared} mmmm"), (2L, s"foo bar ${shared} baz"))
      .toDF("id", "text")
    val fps = df.select(col("id"),
        explode(graft.functions.Winnow.winnow(col("text"), 8, 4)).as("fp"))
    val both = fps.groupBy("fp").agg(countDistinct(col("id")).as("n"))
      .filter(col("n") === 2).count()
    assert(both >= 1)
  }

  test("bpe tokens follow the pattern's alternation order") {
    val got = Seq("it's 42 well-known!").toDF("text")
      .select(Text.bpeTokens(col("text"))).as[Seq[String]].head()
    assert(got === Seq("it", "'s", " 42", " well", "-", "known", "!"))
    val empty = Seq("   ").toDF("text")
      .select(Text.bpeTokenCount(col("text"))).as[Int].head()
    assert(empty === 0)
  }

  test("packSequences: streaming-pack invariants hold on the documents corpus") {
    val docs = Tables.load(spark, sf0001, "documents")
    val budget = 512
    val out = Text.packSequences(docs, col("doc_id"), col("text"), budget, buckets = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === docs.count())
    val byPack = out.groupBy(r => (r._2, r._3))
    byPack.foreach { case ((bucket, pack), members) =>
      // a doc joins the pack open when it starts: every member's
      // cumulative start lies inside the pack's budget window, so the
      // pack total minus its LAST member stays under budget
      val sorted = members.sortBy(_._1)
      val total = sorted.map(_._4).sum
      assert(total - sorted.last._4 < budget,
        s"pack ($bucket,$pack) pre-overflow total ${total - sorted.last._4} >= $budget")
    }
    // pack ids are monotone non-decreasing in doc order within a
    // bucket (the always-true invariant). Density — no skipped pack
    // index — additionally requires every doc to fit under the
    // budget: a doc with >= budget tokens legally jumps
    // floor(cum_before/budget) by more than 1. Assert density only
    // when the corpus satisfies that precondition.
    out.groupBy(_._2).foreach { case (_, members) =>
      val packsInOrder = members.sortBy(_._1).map(_._3)
      assert(packsInOrder.zip(packsInOrder.drop(1)).forall { case (a, b) => a <= b })
    }
    if (out.map(_._4).max < budget)
      byPack.keys.groupBy(_._1).foreach { case (_, packs) =>
        val ids = packs.map(_._2).toSeq.sorted
        assert(ids === (0L until ids.length.toLong))
      }
  }

  test("assemblePacks concatenates each pack id-ordered and agrees with the assignment") {
    val docs = Tables.load(spark, sf0001, "documents")
    val budget = 512
    val assign = Text.packSequences(docs, col("doc_id"), col("text"), budget, buckets = 8)
      .as[(Long, Long, Long, Long)].collect()
    val asm = Text.assemblePacks(docs, col("doc_id"), col("text"), budget, buckets = 8)
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val grouped = assign.groupBy(r => (r._2, r._3))
    assert(asm.keySet === grouped.keySet)
    grouped.foreach { case (k, members) =>
      val (seq, nDocs, nTokens) = asm(k)
      assert(nDocs === members.length)
      assert(nTokens === members.map(_._4).sum)
      // id-ordered, space-joined member texts
      assert(seq === members.sortBy(_._1).map(m => texts(m._1)).mkString(" "))
    }
  }

  test("hashSample is partition-invariant, salt-independent, and rate-accurate") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents")
    val n = docs.count()
    val a = Sampling.hashSample(docs, col("doc_id"), 0.25, salt = 7L)
      .select("doc_id").as[Long].collect().toSet
    // partition-invariance — THE property rand(seed) lacks (per-partition
    // seeding changes membership under repartitioning and task retry)
    val b = Sampling.hashSample(docs.repartition(17), col("doc_id"), 0.25, salt = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    // rate accuracy: binomial(500, 0.25) stays within 5 sigma of 125
    assert(math.abs(a.size - 0.25 * n) < 5 * math.sqrt(n * 0.25 * 0.75), a.size.toString)
    // different salts draw near-independent samples
    val c = Sampling.hashSample(docs, col("doc_id"), 0.25, salt = 8L)
      .select("doc_id").as[Long].collect().toSet
    assert(a !== c)
    val overlap = a.intersect(c).size.toDouble
    assert(math.abs(overlap - 0.0625 * n) < 5 * math.sqrt(n * 0.0625), overlap.toString)
  }

  test("weightedSample: P(keep)=w/maxW, partition-invariant, exact edges") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents")
    val a = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"), 8192L, salt = 7L)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.weightedSample(docs.repartition(17), col("doc_id"), col("n_chars"),
        8192L, salt = 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    // expected keep count = sum(w/maxW); 5-sigma Poisson-binomial bound
    val exp = docs.select((least(greatest(col("n_chars"), lit(0L)), lit(8192L))
        .cast("double") / 8192.0).as("p"))
      .agg(sum(col("p")), sum(col("p") * (lit(1.0) - col("p")))).head()
    val (mu, varSum) = (exp.getDouble(0), exp.getDouble(1))
    assert(math.abs(a.size - mu) < 5 * math.sqrt(varSum), s"got ${a.size}, want ~$mu")
    // exact edges: weight 0 never keeps, weight >= maxW always keeps
    val edges = Seq((1L, 0L), (2L, 8192L), (3L, 999999L)).toDF("id", "w")
    val kept = Sampling.weightedSample(edges, col("id"), col("w"), 8192L)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("importanceResample shifts the kept distribution toward the target domain") {
    import graft.functions.Sampling
    // two synthetic domains with disjoint vocabularies; the target
    // corpus draws ONLY from domain A — DSIR weights must score
    // A-docs above the neutral unit and B-docs below, so the kept
    // sample over-represents A relative to the raw 50/50 mix
    def doc(words: Seq[String], i: Long): String =
      (0 until 30).map(j => words(((i + j) % words.size).toInt)).mkString(" ")
    val vocabA = Seq("alpha", "beta", "gamma", "delta", "eps")
    val vocabB = Seq("zeta", "eta", "theta", "iota", "kappa")
    val raw = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) doc(vocabA, i) else doc(vocabB, i),
        if (i % 2 == 0) "A" else "B")).toDF("id", "text", "dom")
    val target = (0L until 100L).map(i => (i, doc(vocabA, i))).toDF("tid", "ttext")
    val ratios = Sampling.importanceRatios(raw, $"text", target, $"ttext",
      numBuckets = 256, n = 2)
    val w = raw.select($"dom",
        Sampling.importanceWeightCol($"text", ratios, n = 2).as("w"))
      .groupBy($"dom").agg(avg($"w")).as[(String, Double)].collect().toMap
    assert(w("A") > 1000000.0 && w("B") < 1000000.0,
      s"A-docs must weigh above unit, B below: $w")
    val kept = Sampling.importanceResample(raw, $"id", $"text", target,
        $"ttext", numBuckets = 256, n = 2, maxRatio = 2L, salt = 3L)
      .groupBy($"dom").agg(count(lit(1))).as[(String, Long)].collect().toMap
    assert(kept.getOrElse("A", 0L) > 4 * kept.getOrElse("B", 0L),
      s"kept sample must over-represent the target domain: $kept")
    // membership is retry-stable: identical under repartitioning
    val re = Sampling.importanceResample(raw.repartition(13), $"id", $"text",
        target, $"ttext", numBuckets = 256, n = 2, maxRatio = 2L, salt = 3L)
      .select($"id").as[Long].collect().sorted.toSeq
    val orig = Sampling.importanceResample(raw, $"id", $"text", target,
        $"ttext", numBuckets = 256, n = 2, maxRatio = 2L, salt = 3L)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(re === orig)
    // docs too short for a bigram carry the neutral unit weight
    val short = Seq((1L, "single")).toDF("id", "text")
    val sw = short.select(
      Sampling.importanceWeightCol($"text", ratios, n = 2)).as[Long].head()
    assert(sw === 1000000L)
  }

  test("importanceResampleLlr: same selection direction as the arithmetic face, harsher on mixed docs") {
    import graft.functions.Sampling
    def doc(words: Seq[String], i: Long): String =
      (0 until 30).map(j => words(((i + j) % words.size).toInt)).mkString(" ")
    val vocabA = Seq("alpha", "beta", "gamma", "delta", "eps")
    val vocabB = Seq("zeta", "eta", "theta", "iota", "kappa")
    val raw = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) doc(vocabA, i) else doc(vocabB, i),
        if (i % 2 == 0) "A" else "B")).toDF("id", "text", "dom")
    val target = (0L until 100L).map(i => (i, doc(vocabA, i))).toDF("tid", "ttext")
    val llr = Sampling.importanceLlrModel(raw, $"text", target, $"ttext",
      numBuckets = 256, n = 2)
    // mean log ratio: positive on target-domain docs, negative off it
    val m = raw.select($"dom",
        Sampling.importanceLlrCol($"text", llr, n = 2).as("l"))
      .groupBy($"dom").agg(avg($"l")).as[(String, Double)].collect().toMap
    assert(m("A") > 0.0 && m("B") < 0.0,
      s"A-docs must carry positive mean llr, B negative: $m")
    // kept sample over-represents the target domain, like the
    // arithmetic face on the same fixture
    val kept = Sampling.importanceResampleLlr(raw, $"id", $"text", target,
        $"ttext", numBuckets = 256, n = 2, maxRatio = 2L, salt = 3L)
      .groupBy($"dom").agg(count(lit(1))).as[(String, Long)].collect().toMap
    assert(kept.getOrElse("A", 0L) > 4 * kept.getOrElse("B", 0L),
      s"kept sample must over-represent the target domain: $kept")
    // membership is retry-stable under repartitioning
    val re = Sampling.importanceResampleLlr(raw.repartition(13), $"id",
        $"text", target, $"ttext", numBuckets = 256, n = 2,
        maxRatio = 2L, salt = 3L)
      .select($"id").as[Long].collect().sorted.toSeq
    val orig = Sampling.importanceResampleLlr(raw, $"id", $"text", target,
        $"ttext", numBuckets = 256, n = 2, maxRatio = 2L, salt = 3L)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(re === orig)
    // the documented divergence: on a MIXED-domain doc the geometric
    // mean (dominated by the worst grams) sits strictly below the
    // arithmetic mean (lifted by the best) — AM–GM made operational
    val ratios = Sampling.importanceRatios(raw, $"text", target, $"ttext",
      numBuckets = 256, n = 2)
    val mixed = Seq((1L, doc(vocabA, 0L) + " " + doc(vocabB, 1L)))
      .toDF("id", "text")
    val pair = mixed.select(
      Sampling.importanceWeightCol($"text", ratios, n = 2).as("wa"),
      (exp(Sampling.importanceLlrCol($"text", llr, n = 2)) *
        lit(1000000.0)).cast("long").as("wg")).head()
    assert(pair.getLong(1) < pair.getLong(0),
      s"geometric weight must undercut arithmetic on a mixed doc: $pair")
    // gram-less docs are neutral: llr 0, weight = unit
    val short = Seq((1L, "single")).toDF("id", "text")
    assert(short.select(
      Sampling.importanceLlrCol($"text", llr, n = 2)).as[Double].head() === 0.0)
  }

  test("mixToBudget: kept token mass tracks the per-stratum budget; saturation keeps all") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents")
    val target = 50000L
    val mixed = Sampling.mixToBudget(docs, $"doc_id", $"source", $"n_chars",
      target, Map("src0" -> 400L, "src1" -> 100L), defaultSharePm = 20L, salt = 11L)
    val kept = mixed.groupBy($"source").agg(sum($"n_chars").as("kt"))
      .as[(String, Long)].collect().toMap
    val totals = docs.groupBy($"source").agg(sum($"n_chars"))
      .as[(String, Long)].collect().toMap
    // src0: share 0.4 → budget 20000 > T_src0 → saturates, keeps ALL
    assert(kept("src0") === totals("src0"))
    // src1: budget 5000 of ~8570 — kept mass within a loose binomial
    // band (25 docs only, so wide)
    assert(kept("src1") > 1000L && kept("src1") < totals("src1"))
    // default strata: budget 1000 of ~7300 — sparse but present in
    // aggregate across the 18 default sources
    val defaultKept = kept.filterNot(k => k._1 == "src0" || k._1 == "src1").values.sum
    assert(defaultKept > 0L && defaultKept < 18 * 3000L)
    // partition invariance: same membership after a repartition
    val re = Sampling.mixToBudget(docs.repartition(7), $"doc_id", $"source",
        $"n_chars", target, Map("src0" -> 400L, "src1" -> 100L), 20L, 11L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(re === mixed.select($"doc_id").as[Long].collect().sorted.toSeq)
  }

  test("stratifiedSample applies per-stratum rates with a default") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents")
      .withColumn("stratum", pmod(col("doc_id"), lit(3L)).cast("string"))
    val got = Sampling.stratifiedSample(docs, col("doc_id"), col("stratum"),
        rates = Map("0" -> 0.0, "1" -> 0.5), defaultRate = 1.0, salt = 7L)
      .groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    val per = docs.groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(!got.contains("0"))                      // rate 0 drops the stratum
    assert(got("2") === per("2"))                   // default 1.0 keeps all
    val n1 = per("1").toDouble
    assert(math.abs(got("1") - 0.5 * n1) < 5 * math.sqrt(n1 * 0.25), got("1").toString)
  }

  test("PQ: trained codebooks recover exact top-k on clustered embeddings") {
    import graft.functions.{PqModel, SamplingImpl, Similarity}
    // deterministic planted corpus: 16 cluster centers, 10 members
    // each, members = center + small perturbation; L2-normalized so
    // inner product (PQ's metric) and cosine (the baseline's) agree
    val dim = 16
    def u(h: Long): Double = (SamplingImpl.splitmix64(h) >>> 11).toDouble / (1L << 53).toDouble * 2 - 1
    val vecs = for (c <- 0 until 16; j <- 0 until 10) yield {
      val raw = Array.tabulate(dim)(d => u(c.toLong * 131 + d) + 0.05 * u((c * 10 + j).toLong * 977 + d))
      val n = math.sqrt(raw.map(x => x * x).sum)
      ((c * 10 + j).toLong, raw.map(x => (x / n).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = PqModel.train(df, col("vec_id"), col("embedding"), m = 4, ksub = 16)
    assert(model.dim === dim && model.subdim === 4)
    // exhaustive ADC scan (single bucket): every neighbor PQ returns
    // should be a cluster-mate (exact-rank recall WITHIN a cluster is
    // not PQ's contract — mates quantize to the same code, ADC ties,
    // and the id tie-break diverges from the exact float ordering)
    val got = Similarity.pqTopK(df, "vec_id", "embedding", k = 5, model, lit(0L))
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(got.length === 160 * 5)
    val mates = got.count { case (q, n) => q / 10 == n / 10 }
    assert(mates.toDouble / got.length >= 0.95,
      s"cluster-mate precision ${mates.toDouble / got.length}")
    // the compression contract: corpus-side state is m bytes per vector
    val lens = df.select(octet_length(
        graft.functions.Pq.pq_encode(col("embedding"), model)))
      .as[Int].collect().toSet
    assert(lens === Set(4))
  }

  test("TopKByAgg equals the row_number window, including ties and NaN ordering") {
    import graft.functions.TopK
    import org.apache.spark.sql.expressions.Window
    // adversarial scores: duplicates (tie-break by id), NaN (Spark
    // total order: greatest), negative zero
    val rows = for (q <- 0L until 7L; n <- 0L until 23L) yield {
      val sim = (n % 5) match {
        case 0 => 0.5
        case 1 => 0.5 // tie
        case 2 => Double.NaN
        case 3 => -0.0
        case _ => (q * 31 + n * 17 % 13).toDouble / 13.0
      }
      (q, n, sim)
    }
    val df = rows.toDF("qid", "nid", "sim")
    val win = df.withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"nid".asc)))
      .filter($"rank" <= 4)
      .select($"qid", $"rank", $"nid", $"sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val agg = df.groupBy($"qid").agg(TopK.topKBy($"sim", $"nid", 4).as("tk"))
      .select($"qid", posexplode($"tk").as(Seq("p", "e")))
      .select($"qid", ($"p" + 1).cast("int").as("rank"),
        $"e.id".as("nid"), $"e.sim".as("sim"))
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // NaN-safe comparison: compare bit patterns for sims
    def key(r: (Long, Int, Long, Double)) =
      (r._1, r._2, r._3, java.lang.Double.doubleToLongBits(r._4))
    assert(agg.map(key) === win.map(key))
    // partial-aggregation plan shape: buffers cross the exchange
    val plan = df.groupBy($"qid").agg(TopK.topKBy($"sim", $"nid", 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("persisted IVF index: parquet round-trip serves bit-identical results to the fused path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fused = Similarity.ivfTopK(emb, "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 2, iterations = 1)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iterations = 1)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
    // a LATER JOB: read the index back, never touching the build path
    val c2 = spark.read.parquet(s"$dir/centroids")
    val cells2 = spark.read.parquet(s"$dir/cells")
    val served = Similarity.ivfQueryIndex(emb, "vec_id", "embedding",
        c2, cells2, nprobe = 2, k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(served === fused)
    // incremental drop assigns against the FROZEN centroids: cell ids
    // stay within the persisted centroid set
    val drop = emb.limit(20)
    val dropCells = Similarity.ivfAssign(drop, "vec_id", "embedding", c2)
    val validCids = c2.select($"cid").as[Long].collect().toSet
    dropCells.select($"cid").as[Long].collect().foreach(c => assert(validCids(c)))
  }

  test("persisted IVF-PQ index: parquet round-trip (cells + model) serves bit-identical ADC results") {
    import graft.functions.{Pq, PqModel}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = PqModel.train(emb, $"vec_id", $"embedding", m = 4, ksub = 16)
    val oneShot = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        k = 3, model, nlist = 16, nprobe = 2, iterations = 1)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iterations = 1)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    PqModel.toDF(model, spark).write.mode("overwrite").parquet(s"$dir/model")
    Similarity.ivfPqAssign(emb, "vec_id", "embedding", centroids, model)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
    // a LATER JOB: read everything back — codes, codebook, centroids
    val c2 = spark.read.parquet(s"$dir/centroids")
    val m2 = PqModel.fromDF(spark.read.parquet(s"$dir/model"))
    assert((m2.m, m2.ksub, m2.dim) === ((model.m, model.ksub, model.dim)))
    assert(m2.centroids.toSeq === model.centroids.toSeq,
      "PqModel centroids did not round-trip bit-exactly")
    val cells2 = spark.read.parquet(s"$dir/cells")
    val served = Similarity.ivfPqQueryIndex(emb, "vec_id", "embedding",
        c2, cells2, m2, nprobe = 2, k = 3)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(served === oneShot)
    // incremental drop: encode against the FROZEN model + centroids
    val dropCells = Similarity.ivfPqAssign(emb.limit(20), "vec_id", "embedding", c2, m2)
    assert(dropCells.columns.toSeq === Seq("cid", "id", "codes"))
    assert(dropCells.count() === 20)
  }

  test("persisted int8 index: parquet round-trip serves bit-identical results") {
    import graft.functions.Int8
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val oneShot = Int8.int8TopK(emb, "vec_id", "embedding", k = 3, bits = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val dir = java.nio.file.Files.createTempDirectory("int8_idx").toString
    Int8.int8Index(emb, "vec_id", "embedding", bits = 3)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/codes")
    val idx = spark.read.parquet(s"$dir/codes")
    val served = Int8.int8QueryIndex(emb, "vec_id", "embedding", bits = 3, idx, k = 3)
      .select($"qid", $"nid", $"sim", $"rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(served === oneShot)
  }

  test("int8: quantization round-trips within one step; cosine near-exact; topK recall high") {
    import graft.functions.Int8
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val coded = emb.select($"vec_id", $"embedding",
      Int8.int8Codes($"embedding").as("c"), Int8.int8Scale($"embedding").as("s"))
    // round-to-nearest contract: |v_i − c_i·scale| <= scale/2
    val worst = coded.select(
        expr("aggregate(zip_with(embedding, c, (v, q) -> abs(cast(v as double) - q * s)), 0D, (a, x) -> greatest(a, x))").as("e"),
        $"s")
      .agg(max($"e" / $"s")).as[Double].collect().head
    assert(worst <= 0.5 + 1e-6, s"worst |v - q·s|/s = $worst exceeds half a step")
    // int8 cosine tracks float cosine closely on real vectors
    val simCheck = coded.as("x").crossJoin(coded.as("y"))
      .filter($"x.vec_id" < $"y.vec_id").limit(500)
      .select(
        graft.functions.Similarity.cosine($"x.embedding", $"y.embedding").as("cf"),
        Int8.int8Cosine($"x.c", $"y.c").as("ci"))
      .agg(max(abs($"cf" - $"ci"))).as[Double].collect().head
    assert(simCheck <= 0.02, s"int8 cosine deviates by $simCheck")
    // brute-force int8 top-3 matches exact float top-3 on most slots
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", 3)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val i8 = Int8.bruteForceInt8TopK(emb, "vec_id", "embedding", 3)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val overlap = (exact & i8).size.toDouble / exact.size
    assert(overlap >= 0.9, s"int8 top-k overlap $overlap below 0.9")
  }

  test("int8TopK: bucketed path agrees with brute force on colocated neighbors; auto sizes bits") {
    import graft.functions.Int8
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bits = Similarity.autoBits(emb.count(), 64)
    val bucketed = Int8.int8TopK(emb, "vec_id", "embedding", 3, bits)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect()
    assert(bucketed.nonEmpty)
    // every returned neighbor shares the query's bucket and ranks are
    // contiguous from 1
    bucketed.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    val auto = Int8.int8TopKAuto(emb, "vec_id", "embedding", 3)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect()
    assert(auto.sortBy(r => (r._1, r._3)).toSeq === bucketed.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("IVF-PQ: nlist=1 degenerates bit-exactly to the exhaustive ADC scan; auto path keeps cluster-mates") {
    import graft.functions.{PqModel, SamplingImpl, Similarity}
    val dim = 16
    def u(h: Long): Double = (SamplingImpl.splitmix64(h) >>> 11).toDouble / (1L << 53).toDouble * 2 - 1
    val vecs = for (c <- 0 until 16; j <- 0 until 10) yield {
      val raw = Array.tabulate(dim)(d => u(c.toLong * 131 + d) + 0.05 * u((c * 10 + j).toLong * 977 + d))
      val n = math.sqrt(raw.map(x => x * x).sum)
      ((c * 10 + j).toLong, raw.map(x => (x / n).toFloat).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = PqModel.train(df, col("vec_id"), col("embedding"), m = 4, ksub = 16)
    // one cell = no coarse pruning: candidate set and ADC scores match
    // the single-bucket pqTopK row-for-row (shared fold shapes)
    val viaIvf = Similarity.ivfPqTopK(df, "vec_id", "embedding", k = 5, model,
        nlist = 1, nprobe = 1, iterations = 0)
      .select("qid", "rank", "nid", "adc").as[(Long, Int, Long, Double)].collect().toSet
    val viaBucket = Similarity.pqTopK(df, "vec_id", "embedding", k = 5, model, lit(0L))
      .select("qid", "rank", "nid", "adc").as[(Long, Int, Long, Double)].collect().toSet
    assert(viaIvf === viaBucket)
    // auto path (√N cells ≈ the 16 planted clusters, trained codebook):
    // coarse quantizer + ADC together still return cluster-mates
    val got = Similarity.ivfPqTopKAuto(df, "vec_id", "embedding", k = 3,
        m = 4, ksub = 16, nprobe = 2)
      .select("qid", "nid").as[(Long, Long)].collect()
    assert(got.nonEmpty && got.length <= 160 * 3)
    val mates = got.count { case (q, n) => q / 10 == n / 10 }
    assert(mates.toDouble / got.length >= 0.9,
      s"cluster-mate precision ${mates.toDouble / got.length} over ${got.length}")
  }

  test("PQ: ADC is exact on zero-quantization-error vectors, codes are layout-stable") {
    import graft.functions.{Pq, PqModel}
    val model = PqModel.fixed(dim = 8, m = 4, ksub = 4, seed = 7L)
    // vectors that ARE per-subspace centroids quantize losslessly, so
    // ADC(q, code(x)) == dot(q, x) exactly up to regrouping (per-
    // subspace partial sums vs one left-to-right fold)
    val x = Array.tabulate(8) { d => model.centroid(d / 2, 1, d % 2) } // code (1,1,1,1)
    val q = Array.tabulate(8)(d => (d + 1) * 0.25)
    val df = Seq((1L, x.toSeq, q.toSeq)).toDF("id", "x", "q")
    val adc = df.select(Pq.adc_dot(Pq.pq_lut(col("q"), model),
      Pq.pq_encode(col("x"), model), model.ksub)).as[Double].head()
    val exact = x.zip(q).map { case (a, b) => a * b }.sum
    assert(math.abs(adc - exact) < 1e-12, s"adc $adc vs exact $exact")
    // the join path's fused direct ADC is bit-identical to LUT+lookup
    // (same per-subspace fold shape) — it exists because a per-query
    // LUT column is copied per candidate in the join shuffle
    val big = graft.functions.PqModel.fixed(64, 8, 16, seed = 7L)
    val embAll = Tables.load(spark, sf001, "embeddings").limit(50)
    val pair = embAll.select(col("vec_id"), col("embedding"))
      .crossJoin(embAll.select(col("vec_id").as("nid"), col("embedding").as("nv")))
    val diffs = pair.select(
        Pq.adc_score(col("embedding"), Pq.pq_encode(col("nv"), big), big).as("direct"),
        Pq.adc_dot(Pq.pq_lut(col("embedding"), big),
          Pq.pq_encode(col("nv"), big), big.ksub).as("viaLut"))
      .filter(col("direct") =!= col("viaLut")).count()
    assert(diffs === 0)
    // codes are a pure function of the value: identical under repartition
    val emb = Tables.load(spark, sf001, "embeddings")
    val a = emb.select(col("vec_id"), hex(Pq.pq_encode(col("embedding"),
        PqModel.fixed(64, 8, 16, seed = 7L))).as("c"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = emb.repartition(13).select(col("vec_id"), hex(Pq.pq_encode(col("embedding"),
        PqModel.fixed(64, 8, 16, seed = 7L))).as("c"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("shuffleShards is a total permutation, stable under repartitioning") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents").select(col("doc_id"))
    def run(d: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.shuffleShards(d, col("doc_id"), 8, seed)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(docs, 7L)
    // (shard, pos) is a pure function of (id, seed): physical layout
    // must not matter — THE property a sort(rand()) shuffle lacks
    assert(a === run(docs.repartition(17), 7L))
    // within every shard, pos is exactly 0..count-1: no gaps, no dups
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted === (0L until rows.length).toSeq, s"shard $shard")
    }
    assert(a.map(_._2).distinct.sorted === (0L to 7L).toSeq)
    // a different seed draws a different permutation of the same rows
    val c = run(docs, 8L)
    assert(a.map(_._1) === c.map(_._1))
    assert(a !== c)
  }

  test("noveltyStats: exact per-doc seen counts via bloom + verify; empty-ref edge") {
    import graft.functions.Dedup
    // ref contains "a b c" and "c d e"; n=2 ref grams: {a b, b c, c d, d e}
    val ref = Seq((100L, "a b c"), (101L, "c d e")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d"),   // grams {a b, b c, c d} all seen → 3/3
      (2L, "x y z"),     // {x y, y z} none seen → 0/2
      (3L, "d e q a b")) // {d e, e q, q a, a b} → 2/4
      .toDF("doc_id", "text")
    val got = Dedup.noveltyStats(train, $"doc_id", $"text", ref, $"text", n = 2)
      .select($"id", $"n_grams", $"n_seen").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 3L, 3L), (2L, 2L, 0L), (3L, 4L, 2L)))
    // empty reference: every gram novel, nothing throws
    val emptyRef = ref.filter(lit(false))
    val none = Dedup.noveltyStats(train, $"doc_id", $"text", emptyRef, $"text", n = 2)
      .select($"id", $"n_seen").as[(Long, Long)].collect().toMap
    assert(none.values.forall(_ === 0L))
    // real-table smoke: seen counts never exceed gram counts
    val docs = Tables.load(spark, sf001, "documents")
    val stats = Dedup.noveltyStats(docs.filter($"doc_id" % 50 =!= 0),
        $"doc_id", $"text", docs.filter($"doc_id" % 50 === 0), $"text", n = 5)
      .select($"n_grams", $"n_seen").as[(Long, Long)].collect()
    assert(stats.nonEmpty && stats.forall { case (g, s) => s >= 0 && s <= g })
  }

  test("groupSplit: exact thresholds vs the JVM reference, catch-all and open forms") {
    import graft.functions.{Sampling, SamplingImpl}
    val ids = (0L until 1000L).toDF("g")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.groupSplit(ids, col("g"), fr, salt = 13L)
      .select($"g", $"split").as[(Long, String)].collect().toMap
    val t1 = Sampling.threshold(0.8); val t2 = Sampling.threshold(0.8 + 0.1)
    (0L until 1000L).foreach { g =>
      val h = SamplingImpl.splitmix64(13L ^ g) >>> 1
      val exp = if (h < t1) "train" else if (h < t2) "val" else "test"
      assert(got(g) === exp, s"group $g")
    }
    assert(got.values.toSet === Set("train", "val", "test"))
    // OPEN split (sum < 1): rows past the last threshold are held out (null)
    val open = Sampling.groupSplit(ids, col("g"), Seq("a" -> 0.3, "b" -> 0.2), salt = 13L)
      .select($"g", $"split").as[(Long, Option[String])].collect().toMap
    val ta = Sampling.threshold(0.3); val tb = Sampling.threshold(0.3 + 0.2)
    (0L until 1000L).foreach { g =>
      val h = SamplingImpl.splitmix64(13L ^ g) >>> 1
      val exp = if (h < ta) Some("a") else if (h < tb) Some("b") else None
      assert(open(g) === exp, s"group $g")
    }
    assert(open.values.exists(_.isEmpty))
    // a NULL group gets a NULL split in BOTH forms (never the catch-all)
    val nulls = Seq(Option(1L), Option.empty[Long]).toDF("g")
    val closedNull = Sampling.groupSplit(nulls, col("g"), fr, salt = 13L)
      .select($"g", $"split").as[(Option[Long], Option[String])].collect().toMap
    assert(closedNull(None) === None && closedNull(Some(1L)).nonEmpty)
    val openNull = Sampling.groupSplit(nulls, col("g"), Seq("a" -> 0.3), salt = 13L)
      .select($"g", $"split").as[(Option[Long], Option[String])].collect().toMap
    assert(openNull(None) === None)
    // validation: duplicate names, non-positive fraction, sum > 1
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(col("g"), Seq("a" -> 0.5, "a" -> 0.5)) }
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(col("g"), Seq("a" -> 0.0)) }
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(col("g"), Seq("a" -> 0.7, "b" -> 0.4)) }
  }

  test("groupSplit is leakage-safe: near-dup cluster members never straddle splits") {
    import graft.functions.{Dedup, Sampling}
    val docs = Tables.load(spark, sf001, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, $"doc_id", $"text", n = 3,
      threshold = 0.5, maxDocFreq = 1000)
    val cc = Dedup.connectedComponents(pairs.select($"i", $"j"))
    val grouped = docs.select($"doc_id")
      .join(cc, docs("doc_id") === cc("id"), "left")
      .select($"doc_id", coalesce($"rep", $"doc_id").as("grp"))
    val split = Sampling.groupSplit(grouped, $"grp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 13L)
    // every near-dup pair lands on one side — zero straddlers
    val straddle = pairs.select($"i", $"j")
      .join(split.select($"doc_id".as("i"), $"split".as("si")), Seq("i"))
      .join(split.select($"doc_id".as("j"), $"split".as("sj")), Seq("j"))
      .filter($"si" =!= $"sj").count()
    assert(straddle === 0L)
    assert(pairs.count() > 0L) // the property is not vacuous
    // and the row-level split DOES straddle (the failure groupSplit prevents)
    val rowSplit = Sampling.groupSplit(grouped, $"doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 13L)
    val rowStraddle = pairs.select($"i", $"j")
      .join(rowSplit.select($"doc_id".as("i"), $"split".as("si")), Seq("i"))
      .join(rowSplit.select($"doc_id".as("j"), $"split".as("sj")), Seq("j"))
      .filter($"si" =!= $"sj").count()
    assert(rowStraddle > 0L)
  }

  test("takePerStratum draws an exact per-stratum quota, stable and uniform-ish") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents")
      .withColumn("stratum", pmod(col("doc_id"), lit(4L)).cast("string"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.takePerStratum(d, col("doc_id"), col("stratum"), k = 25, seed = 7L)
        .select("doc_id").as[Long].collect().toSet
    val a = run(docs)
    // exact quota per stratum (corpus has >= 25 docs in each)
    assert(a.size === 100)
    assert(a.groupBy(_ % 4).values.forall(_.size == 25))
    // membership is a pure function of (id, seed) — layout-stable
    assert(a === run(docs.repartition(11)))
    // helper column dropped, input schema preserved
    val cols = Sampling.takePerStratum(docs, col("doc_id"), col("stratum"), 1).columns
    assert(cols.toSeq === docs.columns.toSeq)
    // a fresh seed draws a (near-certainly) different quota
    assert(a !== Sampling.takePerStratum(docs, col("doc_id"), col("stratum"),
      k = 25, seed = 8L).select("doc_id").as[Long].collect().toSet)
  }

  test("clusterBalancedSample: exact per-cluster quota over frozen centroids, layout-stable") {
    import graft.functions.Sampling
    val emb = Tables.load(spark, sf001, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 0)
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.clusterBalancedSample(d, "vec_id", "embedding", cents,
        perCluster = 3, seed = 7L)
    val a = run(emb).select($"id", $"cid").as[(Long, Long)].collect()
    // every sampled id carries its argmax-cosine assignment
    val asg = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .select($"id", $"cid").as[(Long, Long)].collect()
    val asgMap = asg.toMap
    assert(a.forall { case (id, cid) => asgMap(id) == cid })
    // exactly min(3, |cluster|) per non-empty cluster
    val cellSizes = asg.groupBy(_._2).map { case (c, m) => c -> m.length }
    a.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.length === math.min(3, cellSizes(c)), s"cluster $c")
    }
    // membership is a pure function of (id, centroids, seed)
    assert(run(emb.repartition(5)).select($"id").as[Long].collect().toSet ===
      a.map(_._1).toSet)
  }

  test("temperatureRates/temperatureMix: alpha endpoints, clamping, determinism") {
    import graft.functions.Sampling
    val counts = Map(0L -> 400L, 1L -> 80L, 2L -> 20L)
    // alpha=0: per-stratum budget target/k, clamped where the stratum
    // is smaller than its allocation
    val r0 = Sampling.temperatureRates(counts, 0.0, 90L)
    assert(math.abs(r0(0L) - 30.0 / 400) < 1e-12)
    assert(math.abs(r0(1L) - 30.0 / 80) < 1e-12)
    assert(r0(2L) === 1.0)
    // alpha=1: proportional — one uniform rate target/N
    val r1 = Sampling.temperatureRates(counts, 1.0, 100L)
    assert(r1.values.forall(r => math.abs(r - 100.0 / 500) < 1e-12))
    val rows = (0 until 400).map(i => (i.toLong, 0L)) ++
      (0 until 80).map(i => (1000L + i, 1L)) ++
      (0 until 20).map(i => (2000L + i, 2L))
    val df = rows.toDF("id", "c")
    val kept = Sampling.temperatureMix(df, $"id", $"c", 0.0, 90L, salt = 3L)
      .select($"id").as[Long].collect().toSet
    // retry/partition stability
    assert(Sampling.temperatureMix(df.repartition(7), $"id", $"c", 0.0, 90L, salt = 3L)
      .select($"id").as[Long].collect().toSet === kept)
    // the clamped stratum keeps everything; the head stratum is cut hard
    assert(kept.count(_ >= 2000L) === 20)
    assert(kept.count(_ < 400L) < 100)
  }

  test("shuffleShardsAuto sizes the shard count from the session parallelism") {
    import graft.functions.Sampling
    val docs = Tables.load(spark, sf001, "documents").select(col("doc_id"))
    val out = Sampling.shuffleShardsAuto(docs, col("doc_id"))
      .select("shard").as[Long].collect()
    val expected = math.max(1, spark.sparkContext.defaultParallelism * 2)
    assert(out.forall(s => s >= 0 && s < expected))
  }

  test("sampling endpoints: rate 1.0 keeps even the ids whose hash tops out") {
    import graft.functions.{Sampling, SamplingImpl}
    // splitmix64 (gamma add + finalizer) is bijective on Long, so the
    // two ids with (splitmix64(id) >>> 1) == Long.MaxValue — the ids a
    // strict `< threshold(1.0)` comparison deterministically drops —
    // can be constructed exactly by inverting it for outputs -1 and -2
    val M = BigInt(2).pow(64)
    def minv(c: Long): Long = (BigInt(c) & (M - 1)).modInverse(M).toLong
    def unxs(y: Long, s: Int): Long = {
      var x = y; (0 until 64 / s + 1).foreach(_ => x = y ^ (x >>> s)); x
    }
    def inv(z: Long): Long = {
      var v = unxs(z, 31)
      v *= minv(0x94d049bb133111ebL)
      v = unxs(v, 27)
      v *= minv(0xbf58476d1ce4e5b9L)
      v = unxs(v, 30)
      v - 0x9e3779b97f4a7c15L
    }
    val tops = Seq(inv(-1L), inv(-2L)) // salt 0: hash input IS the id
    tops.foreach(id => assert(SamplingImpl.splitmix64(id) >>> 1 === Long.MaxValue))
    val ids = (tops ++ Seq(0L, 1L, 42L)).toDF("id")
    // rate 1.0 keeps ALL rows (pre-fix: all-but-the-two-tops); 0.0 none
    assert(Sampling.hashSample(ids, col("id"), 1.0).count() === 5)
    assert(Sampling.hashSample(ids, col("id"), 0.0).count() === 0)
    // same endpoint folding inside a stratified CASE branch: the 1.0
    // stratum holds exactly the two top ids, the 0.0 default the rest
    val strat = ids.withColumn("s",
      when(col("id").isin(tops: _*), "hot").otherwise("cold"))
    val kept = Sampling.stratifiedSample(strat, col("id"), col("s"),
      rates = Map("hot" -> 1.0), defaultRate = 0.0).select("id").as[Long].collect().toSet
    assert(kept === tops.toSet, kept.toString)
  }

  test("packSequencesAuto sizes buckets from the session parallelism") {
    val docs = Tables.load(spark, sf0001, "documents")
    val out = Text.packSequencesAuto(docs, col("doc_id"), col("text"), 512)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === docs.count())
    val expected = math.max(1, spark.sparkContext.defaultParallelism * 2)
    val buckets = out.map(_._2).distinct
    // pmod(id, buckets): every bucket index is in range, and (on a
    // corpus much larger than the bucket count) all are populated
    assert(buckets.forall(b => b >= 0 && b < expected))
    assert(buckets.length === math.min(expected.toLong, docs.count()).toInt)
  }

  test("tfidf computes exact tf/df and the smoothed idf weighting") {
    val df = Seq((1L, "cat dog cat"), (2L, "dog fish"), (3L, "cat")).toDF("id", "text")
    val got = Text.tfidf(df, col("id"), col("text"))
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((1L, "cat"))._1 === 2L) // tf
    assert(got((1L, "cat"))._2 === 2L) // df: docs 1 and 3
    assert(got((2L, "fish"))._2 === 1L)
    // smoothed idf: ln((3+1)/(df+1)) + 1
    val idfCat = math.log(4.0 / 3.0) + 1.0
    assert(got((1L, "cat"))._3 === 2.0 * idfCat)
    val idfFish = math.log(4.0 / 2.0) + 1.0
    assert(got((2L, "fish"))._3 === 1.0 * idfFish)
    assert(got.keySet.map(_._2) === Set("cat", "dog", "fish"))
  }

  test("redactPii replaces emails, IPv4s, and long digit runs with placeholders") {
    val got = Seq(
      "mail a.b+c@ex-1.co now",
      "host 10.0.255.7 up",
      "acct 12345678 ok but 123456 stays",
      "x@y.io at 1.2.3.4 ref 99887766").toDF("text")
      .select(Text.redactPii(col("text"))).as[String].collect().toSeq
    assert(got === Seq(
      "mail <EMAIL> now",
      "host <IP> up",
      "acct <NUM> ok but 123456 stays",
      "<EMAIL> at <IP> ref <NUM>"))
  }

  test("urlHost/urlDomain: heuristic branches, userinfo, non-URL null") {
    val cases = Seq(
      "https://WWW.Example.COM/x" -> (("www.example.com", "example.com")),
      "http://Shop.Amazon.co.uk:8080/p" ->
        (("shop.amazon.co.uk", "amazon.co.uk")),
      "https://a.b.GOV.cn/" -> (("a.b.gov.cn", "b.gov.cn")),
      "http://localhost:8080/" -> (("localhost", "localhost")),
      "https://u:p@x.example.org?q=1" ->
        (("x.example.org", "example.org")),
      // 3 labels with a NON-generic second level: last-2 only
      "http://sub.example.org/" -> (("sub.example.org", "example.org")),
      // generic slot but 3-letter TLD: NOT the ccTLD form → last-2
      "http://a.co.xyz/" -> (("a.co.xyz", "co.xyz")),
      "https://example.com" -> (("example.com", "example.com")))
    val got = cases.map(_._1).toDF("u")
      .select(Text.urlHost(col("u")), Text.urlDomain(col("u")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === cases.map(_._2))
    // non-URLs AND hostless-but-schemed malformations both null —
    // neither may collapse onto an empty-string host key
    for (bad <- Seq("not a url", "https:///x", "http://?a=1",
        "http://user@:8080/p")) {
      val nul = Seq(bad).toDF("u")
        .select(Text.urlHost(col("u")), Text.urlDomain(col("u"))).head()
      assert(nul.isNullAt(0) && nul.isNullAt(1), s"for input: $bad")
    }
  }

  test("urlDomainPsl: longest suffix wins, PSL beats heuristic, miss falls back") {
    // mini-PSL with a heuristic-vs-PSL disagreement: github.io is a
    // public suffix, so foo.github.io's registrable domain is the
    // whole host — the heuristic would answer github.io. Includes a
    // wildcard rule (*.ck: every LABEL.ck is a public suffix) and
    // its exception (!www.ck), the real PSL's ck shape.
    val psl = Seq("com", "co.uk", "io", "github.io", "*.ck", "!www.ck")
      .toDF("suffix")
    val cases = Seq(
      "https://foo.GitHub.io/p" -> "foo.github.io", // PSL: suffix+1
      "https://github.io/" -> null, // host IS a suffix → no registrant
      "http://a.b.example.com/" -> "example.com", // longest = com
      "http://Shop.Amazon.co.uk:8080/p" -> "amazon.co.uk", // co.uk > uk-miss
      "http://localhost:1234/" -> "localhost", // no match → heuristic
      "https://a.b.GOV.cn/" -> "b.gov.cn", // miss → heuristic ccSLD form
      "http://x.a.b.ck/" -> "a.b.ck", // wildcard: b.ck is the suffix
      "http://a.b.ck/" -> "a.b.ck", // wildcard suffix b.ck + 1 label
      "http://b.ck/" -> null, // host IS a wildcard public suffix
      "http://WWW.ck/" -> "www.ck", // exception beats the wildcard
      "http://x.www.ck/" -> "www.ck", // exception tail wins above too
      "doc 7" -> null, // non-URL stays null
      "https:///x" -> null) // hostless stays null
    val got = Text.urlDomainPsl(
        cases.map(_._1).toDF("u"), col("u"), psl, out = "dom")
      .select(col("u"), col("dom")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
        else r.getString(1))).toMap
    for ((u, want) <- cases) assert(got(u) === want, s"for input: $u")
    // original columns survive untouched and the row count is stable
    assert(got.size === cases.size)
  }

  test("urlDomainPsl: 5-label private-section rules match; depth audit signals; temp names guarded") {
    // the real PSL's deepest private-section shape: a 5-label exact
    // rule (s3.dualstack.<region>.amazonaws.com) must match — the
    // old 4-label bound silently fell back to the heuristic here
    val psl = Seq("com", "s3.dualstack.ap-northeast-1.amazonaws.com")
      .toDF("suffix")
    val cases = Seq(
      // suffix + 1 label → the registrable bucket domain (6 labels)
      "https://B1.s3.dualstack.ap-northeast-1.amazonaws.com/k" ->
        "b1.s3.dualstack.ap-northeast-1.amazonaws.com",
      // the 5-label suffix itself names a registry slot → NULL
      "https://s3.dualstack.ap-northeast-1.amazonaws.com/" -> null,
      // longest rule wins over the co-matching 'com'
      "https://x.y.amazonaws.com/" -> "amazonaws.com")
    val got = Text.urlDomainPsl(
        cases.map(_._1).toDF("u"), col("u"), psl, out = "dom")
      .select(col("u"), col("dom")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null
        else r.getString(1))).toMap
    for ((u, want) <- cases) assert(got(u) === want, s"for input: $u")
    // a rule BEYOND the 5-label bound is ignored (heuristic fallback
    // for its hosts) — and strictDepth turns the warning into a raise
    val deep = Seq("com", "a.b.c.d.e.f").toDF("suffix")
    val fb = Text.urlDomainPsl(
        Seq("https://x.a.b.c.d.e.f/").toDF("u"), col("u"), deep,
        out = "dom")
      .select(col("dom")).head().getString(0)
    assert(fb === "e.f") // heuristic last-2, not the deep rule
    val e1 = intercept[IllegalArgumentException] {
      Text.urlDomainPsl(Seq("https://x.com/").toDF("u"), col("u"),
        deep, out = "dom", strictDepth = true)
    }
    assert(e1.getMessage.contains("a.b.c.d.e.f"))
    // input columns colliding with reserved temp names are refused —
    // a silent overwrite would corrupt pass-through data
    val e2 = intercept[IllegalArgumentException] {
      Text.urlDomainPsl(
        Seq(("https://x.com/", 1L)).toDF("u", "__n"), col("u"),
        psl, out = "dom")
    }
    assert(e2.getMessage.contains("__n"))
  }

  test("readability: hand-computed counts and FK micro-grades") {
    val got = Seq(
      "Hello world. How are you?", // w 5, s 2, syl 2+1+1+2+1 = 7
      "no punct here",             // w 3, s 0→1, syl 1+1+2 = 4
      "   ",                       // w 0 → fk NULL
      "Try!!  Stop?!"              // w 2, s 2 (runs), syl 1+1
    ).toDF("text")
      .select(Text.readability(col("text")).as("r"))
      .select(col("r.words"), col("r.sentences"), col("r.syllables"),
        col("r.fk_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    // fk(5,2,7) = 975000 + 16520000 − 15590000 = 1905000
    // fk(3,1,4) = 1170000 + 15733333 − 15590000 = 1313333
    // fk(2,2,2) = 390000 + 11800000 − 15590000 = −3400000 (negative
    // on trivial fragments, as the formula behaves)
    assert(got === Seq(
      (5L, 2L, 7L, 1905000L),
      (3L, 0L, 4L, 1313333L),
      (0L, 0L, 0L, null),
      (2L, 2L, 2L, -3400000L)))
  }

  test("urlNormalize canonicalizes scheme/host/port/query and nulls non-URLs") {
    val got = Seq(
      "HTTP://WWW.Example.COM:80/a/7?utm_source=x&b=2&a=1#frag",
      "https://User:Pw@Example.com:443/p/9",
      "https://CDN.example.com:8443/img?z=9&y=2&fbclid=11&y=10",
      "http://example.com/s/x?q=3&",
      "ftp://Files.example.org:2121#top",
      "http://example.com",
      "doc 5",
      "https:///x/5",
      "http://?a=1",
      "https://a.io/?utm_source=x&utm_medium=y").toDF("text")
      .select(Text.urlNormalize(col("text"))).as[String].collect().toSeq
    assert(got === Seq(
      "http://www.example.com/a/7?a=1&b=2",
      "https://example.com/p/9",
      "https://cdn.example.com:8443/img?y=10&y=2&z=9",
      "http://example.com/s/x?q=3",
      "ftp://files.example.org:2121/",
      "http://example.com/",
      null,
      null, // hostless-but-schemed: malformed, never 'https:///…'
      null, // ditto with a query and no authority at all
      "https://a.io/"))
    // stripTracking=false keeps the click-id family, still sorted
    val kept = Seq("http://A.io/p?utm_b=2&utm_a=1").toDF("text")
      .select(Text.urlNormalize(col("text"), stripTracking = false))
      .as[String].collect().toSeq
    assert(kept === Seq("http://a.io/p?utm_a=1&utm_b=2"))
    // the click-id names are ANCHORED: gclid_backup is a distinct
    // resource key and must survive where gclid (with or without a
    // value) is stripped
    val anchored = Seq("http://a.io/p?gclid_backup=1&gclid=2&gclid")
      .toDF("text")
      .select(Text.urlNormalize(col("text"))).as[String].collect().toSeq
    assert(anchored === Seq("http://a.io/p?gclid_backup=1"))
  }

  test("decontaminate flags only train docs overlapping the eval set") {
    val evalSet = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"), // shares 2 distinct 5-grams + own
      (2L, "totally different words here entirely now"),
      (3L, "alpha beta gamma delta epsilon other tail")).toDF("id", "text")
    val flagged = Dedup.decontaminate(train, col("id"), col("text"),
        evalSet, col("text"), n = 5, minShared = 1)
      .as[(Long, Long)].collect().toMap
    assert(flagged === Map(1L -> 2L, 3L -> 1L))
    val strict = Dedup.decontaminate(train, col("id"), col("text"),
        evalSet, col("text"), n = 5, minShared = 2)
      .as[(Long, Long)].collect().toMap
    assert(strict === Map(1L -> 2L))
  }

  /** Driver-side union-find ground truth for connectedComponents. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("i", "j"))
      .as[(Long, Long)].collect().toMap

  test("connectedComponents: path graph collapses to its minimum (log rounds)") {
    // a 64-node path is the worst case for plain label propagation
    // (diameter rounds); the alternating algorithm must finish far
    // inside maxIter=50 or the require trips
    val path = (0L until 63L).map(i => (i, i + 1))
    val got = ccOf(path)
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
  }

  test("connectedComponents: disjoint cliques, bridges, self-pairs, duplicates") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),            // clique {1,2,3}
      (10L, 11L), (11L, 10L), (10L, 10L),      // dup + self-pair noise
      (20L, 21L), (21L, 22L), (5L, 3L))        // chain + bridge into clique
    val got = ccOf(edges)
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: random graphs match union-find ground truth") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val want = unionFind(edges)
      assert(ccOf(edges) === want, s"trial $trial")
    }
  }

  test("Rounds operators: reliable checkpoints match local, superseded rounds freed") {
    import graft.functions.{Events, Graph}
    import org.apache.spark.sql.DataFrame
    import scala.jdk.CollectionConverters._
    // a triangle with a tail: every operator runs a few rounds
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val wg = g.withColumn("w", col("src") + col("dst"))
    val seeds = Seq(1L).toDF("id")
    // a light chain beside heavy shortcuts (GraphSpec's relaxation
    // fixture) and a plain chain, both from node 0
    val relax = ((0L until 12L).map(i => (i, i + 1, 1L)) ++
      (for (j <- 0L until 12L; i <- j + 2 to 12L) yield (j, i, 2 * (i - j))))
      .toDF("src", "dst", "w")
    val chain = (0L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds0 = Seq(0L).toDF("id")
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (2L, 1L, "a"),
      (2L, 5L, "c"), (3L, 2L, "b")).toDF("user", "us", "type")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "cc" -> (() => Dedup.connectedComponents(g)),
      "sssp" -> (() => Graph.sssp(wg, seeds)),
      "bfs" -> (() => Graph.bfsDistance(g, seeds, 5)),
      // many improving rounds and a long chain: the fixpoint state
      // compacts mid-loop, freeing the deltas it folded
      "sssp-relax" -> (() => Graph.sssp(relax, seeds0)),
      "bfs-chain" -> (() => Graph.bfsDistance(chain, seeds0, 30)),
      "hits" -> (() => Graph.hits(g, 1)),
      "kcore" -> (() => Graph.kcore(g, 2, 5)),
      "ktruss" -> (() => Graph.ktruss(g, 3, 5)),
      "scc" -> (() => Graph.stronglyConnectedComponents(g)),
      "betweenness" -> (() => Graph.betweenness(g, seeds)),
      "funnel" -> (() => Events.funnel(ev, "user", "us", "type",
        Seq("a", "b", "c"))))
    def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // the checkpoints a result's plan reads through
    def readRdds(df: DataFrame) = df.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    def readFiles(df: DataFrame): Set[String] = readRdds(df).flatMap(_.getCheckpointFile)
      .map(f => new java.io.File(new java.net.URI(f)).getCanonicalPath).toSet
    // the cases are independent: run them concurrently (each is a
    // chain of small driver-bound jobs) to keep the spec short
    def all[A](f: (() => DataFrame) => A): Seq[A] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(cases.map(c => Future(f(c._2)))),
        scala.concurrent.duration.Duration(5, "min"))
    }
    // local checkpoints, one case at a time (Spark's CacheManager
    // re-caches the cached plans that contain an unpersisted one, which
    // races with other threads' unpersists): no pin stays cached, and
    // the only blocks left are the checkpoints the results read
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val localRes = cases.map(_._2())
    assert(spark.sharedState.cacheManager.isEmpty, "pinned relations left cached")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val localRead = localRes.flatMap(readRdds).map(_.id).toSet
    assert(added === localRead, s"local rounds left behind: ${(added -- localRead).toSeq.sorted}")
    val local = localRes.map(rowsOf)
    val dir = java.nio.file.Files.createTempDirectory("rounds-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val res = all(run => run())
      val kept = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .map(_.toFile.getCanonicalPath).toSet
      for (((name, _), r) <- cases.zip(res))
        assert(readFiles(r).nonEmpty, s"$name: result reads no reliable checkpoint")
      val read = res.flatMap(readFiles).toSet
      assert(read.subsetOf(kept))
      assert((kept -- read).isEmpty,
        s"round files left behind: ${(kept -- read).toSeq.sorted}")
      for ((((name, _), r), l) <- cases.zip(res).zip(local))
        assert(rowsOf(r) === l, s"$name: reliable result differs")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("Rounds operators that throw free every pin and mark") {
    import graft.functions.Graph
    import scala.jdk.CollectionConverters._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // each fails mid-operator: sssp inside its first relaxation round
    // (the weight guard), SCC at its color guard with the edge layouts
    // pinned, coreness at its convergence check with every layer marked
    // (a 1->2->3->4 chain from a range, not a local Seq: the optimizer
    // folds the guard over local rows, so it would fail at planning)
    val neg = spark.range(1, 4).select(col("id").as("src"),
      (col("id") + 1).as("dst"), when(col("id") === 2, -1L).otherwise(2L).as("w"))
    val cycle = (0L until 64L).map(i => (i, (i + 1) % 64)).toDF("src", "dst")
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val cases: Seq[(String, String, () => Any)] = Seq(
      ("sssp", "negative- or null-weight edge 2->3",
        () => Graph.sssp(neg, Seq(1L).toDF("id"))),
      ("scc", "maxPropRounds",
        () => Graph.stronglyConnectedComponents(cycle, maxPropRounds = 1)),
      ("coreness", "maxRoundsPerK",
        () => Graph.coreness(path, maxK = 2, maxRoundsPerK = 1,
          requireConverged = true)))
    def check(mode: String): Unit = {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      for ((name, msg, run) <- cases) {
        val e = intercept[Exception](run())
        assert(msgs(e).exists(_.contains(msg)), s"$mode $name: ${msgs(e)}")
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$mode $name: pinned relations left cached")
        val added = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(added.isEmpty, s"$mode $name: persistent RDDs left: $added")
      }
    }
    check("local")
    val dir = java.nio.file.Files.createTempDirectory("rounds-err")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      check("reliable")
      val left = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .map(_.getFileName.toString).toSeq
      assert(left.isEmpty, s"round files left behind: $left")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("Rounds frees superseded local rounds without Spark's lineage WARN") {
    import graft.functions.Graph
    // a 24-hop chain: every bfs round releases a local checkpoint
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("src", "dst")
    val (n, lines) = Observe.log("org.apache.spark",
        org.apache.logging.log4j.Level.WARN) {
      Graph.bfsDistance(chain, Seq(0L).toDF("id"), 40).count()
    }
    assert(n === 25L)
    val warned = lines.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, s"${warned.size} lineage WARNs, e.g. ${warned.headOption}")
  }

  test("Rounds folds equal the aggregates they replace, empty relations included") {
    import graft.functions.{Graph, Rounds}
    Rounds.run(spark.range(1).toDF(), "spec") { rounds =>
      // connectedComponents signature: count + exact sum of xxhash64
      val pairs = Seq((5L, 1L), (9L, 2L), (9L, 5L), (Long.MaxValue, 3L),
        (-7L, Long.MinValue)).toDF("u", "v")
      for (e <- Seq(pairs, pairs.limit(0))) {
        val r = e.agg(count(lit(1)),
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
        val want = (r.getLong(0),
          if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger))
        val (ck, got) = rounds.markWith(e)(Dedup.ccSignature)
        assert(got === want)
        rounds.release(ck)
      }
      assert(rounds.markWith(pairs.limit(0))(Dedup.ccSignature)._2 === ((0L, BigInt(0))))
      // betweenness forward layer: rows + max σ, σ = 1 on an empty layer
      val layer = Seq((1L, 2L, "123456789012345678901234567890"), (1L, 3L, "7"),
          (2L, 3L, "1")).toDF("s", "id", "sigma")
        .withColumn("sigma", col("sigma").cast("decimal(38,0)"))
      for (l <- Seq(layer, layer.limit(0))) {
        val r = l.agg(count(lit(1)), max(col("sigma"))).head()
        val want = (r.getLong(0),
          if (r.isNullAt(1)) BigDecimal(1) else BigDecimal(r.getDecimal(1)))
        val (ck, got) = Graph.markLayer(rounds, l)
        assert(got === want)
        rounds.release(ck)
      }
    }
    // a betweenness run whose forward phase finds no layer (the seed
    // has no out-edge): maxσ stays 1 and every score is 0
    val noLayer = Graph.betweenness(Seq((2L, 1L), (3L, 1L)).toDF("src", "dst"),
        Seq(1L).toDF("id"))
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(noLayer === Map(1L -> BigDecimal(0), 2L -> BigDecimal(0),
      3L -> BigDecimal(0)))
  }

  test("only Rounds.scala decides the checkpoint policy") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val calls = "localCheckpoint\\(|\\.checkpoint\\(|getCheckpointFile".r
    def text(f: String) =
      new String(java.nio.file.Files.readAllBytes(root.resolve(f)), "UTF-8")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString)
      .filterNot(_ == "functions/Rounds.scala")
      .filter(f => calls.findFirstIn(text(f)).isDefined)
      .toSeq.sorted
    assert(offenders.isEmpty, s"checkpoint calls outside Rounds: $offenders")
    // the round operators pin through Rounds.pin, never persist themselves
    val storage = "StorageLevel|persist\\(".r
    val pinners = Seq("functions/Graph.scala", "functions/Events.scala")
      .filter(f => storage.findFirstIn(text(f)).isDefined)
    assert(pinners.isEmpty, s"storage calls outside Rounds: $pinners")
  }

  test("connectedComponents: empty pair set yields empty mapping") {
    assert(ccOf(Seq.empty[(Long, Long)]).isEmpty)
    // self-pairs only: no genuine edges
    assert(ccOf(Seq((4L, 4L))).isEmpty)
  }

  test("pipelines own their caches: nothing stays pinned across consecutive curateFull runs") {
    // the CacheScope contract: curateFull/curateClustered release their
    // pair-generation caches before returning (connectedComponents has
    // already materialized everything downstream), and superseded CC
    // rounds release their local-checkpoint blocks — so a user
    // composing pipelines repeatedly in one session accumulates
    // nothing but the final star edge set per call
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Tables.load(spark, sf0001, "documents")
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    for (_ <- 1 to 2) {
      val out = Dedup.curateFull(train, col("doc_id"), col("text"),
        evalSet, col("text"), Text.langStopwords.head._2, minQuality = 0.4,
        n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        decontamN = 5, decontamMinShared = 3)
      assert(out.count() > 0)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline leaked cached relations into the cache manager")
    // two checkpoints legitimately outlive each call because the
    // returned plan READS THROUGH them (the documented final-round
    // contract; callers/benches unpersist when done): the CC final
    // star set, and (r16) the scrub+score `uniq` checkpoint that
    // runs the PII/quality scan once instead of once per consumer.
    // The superseded intermediates (kept, CC rounds, pair caches)
    // must still all be released — that is what this bound pins.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.size <= 4, s"leaked ${leaked.size} checkpoint RDDs (expected <= 2 per call: final star set + uniq scrub checkpoint)")
  }

  test("int8-prefiltered verify is exactly the float-only verify (both pair engines)") {
    // the prefilter may only REJECT pairs whose int8 cosine sits below
    // threshold - margin; with margin ~9x the measured quantization
    // envelope no true pair can be lost — pinned here against the
    // direct float formulations at a mid and a high threshold, on the
    // sf0.1 corpus (2000 dim-64 vectors, the widest-error regime)
    val emb = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    def floatBucketPairs(threshold: Double, bucket: org.apache.spark.sql.Column) = {
      val bucketed = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        bucket.as("bucket"))
      bucketed.select(col("bucket"), col("id").as("i"), col("v").as("vi"))
        .join(bucketed.select(col("bucket"), col("id").as("j"), col("v").as("vj")),
          Seq("bucket"))
        .filter(col("i") < col("j"))
        .filter(Similarity.cosine(col("vi"), col("vj")) >= threshold)
        .select("i", "j").as[(Long, Long)].collect().toSet
    }
    for (th <- Seq(0.3, 0.9)) {
      val got = Similarity.bucketedCosinePairs(emb, "vec_id", "embedding", th,
          Similarity.signBucket(col("embedding"), 4))
        .select("i", "j").as[(Long, Long)].collect().toSet
      assert(got === floatBucketPairs(th, Similarity.signBucket(col("embedding"), 4)),
        s"threshold $th")
      assert(got.nonEmpty || th > 0.5, s"vacuous at $th")
    }
    // the cross-corpus decontam verify: prefiltered operator vs an
    // inline float-only recomputation of the same candidate set
    val train = emb.filter(col("vec_id") % 50 =!= 0)
    val eval = emb.filter(col("vec_id") % 50 === 0)
    val got = graft.functions.Dedup.decontaminateSemantic(
        train, "vec_id", "embedding", eval, "vec_id", "embedding",
        threshold = 0.3, bits = 4, tables = 2)
      .select("id", "n_hits").as[(Long, Long)].collect().toSet
    val t = train.select(col("vec_id").as("id"), col("embedding").as("v"))
    val e = eval.select(col("vec_id").as("eid"), col("embedding").as("ev"))
    def keyed(df: org.apache.spark.sql.DataFrame, id: String, v: String) =
      df.select(col(id), posexplode(Similarity.lshSketch(col(v), 4, 2)).as(Seq("t", "bucket")))
    val want = keyed(t, "id", "v").join(keyed(e, "eid", "ev"), Seq("t", "bucket"))
      .select(col("id"), col("eid")).distinct()
      .join(t, "id").join(e, "eid")
      .filter(Similarity.cosine(col("v"), col("ev")) >= 0.3)
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
      .select("id", "n_hits").as[(Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("editVerifyPairs (banded) equals the full metric filtered at the bound") {
    // the banded default must change NO kept row vs the full DP: below
    // the bound the Ukkonen band computes the exact distance; above it
    // both formulations reject (the band via -1, the full via filter)
    val docs = Tables.load(spark, sf0001, "documents")
    val cands = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.3)
      .select(col("i"), col("j"))
    for (bound <- Seq(0, 5, 60)) {
      val banded = Dedup.editVerifyPairs(cands, docs, col("doc_id"), col("text"), bound)
        .select("i", "j", "edit").as[(Long, Long, Long)].collect().sorted.toSeq
      val full = Dedup.editDistancePairs(cands, docs, col("doc_id"), col("text"))
        .filter(col("edit") <= bound)
        .select("i", "j", "edit").as[(Long, Long, Long)].collect().sorted.toSeq
      assert(banded === full, s"bound=$bound")
    }
    // and the bound actually rejects at this corpus (non-vacuous)
    val all = Dedup.editDistancePairs(cands, docs, col("doc_id"), col("text")).count()
    val kept = Dedup.editVerifyPairs(cands, docs, col("doc_id"), col("text"), 5).count()
    assert(kept < all, s"band never rejected ($kept of $all)")
  }

  test("hardNegatives filters positives BEFORE the rank and keeps top-k by score") {
    // q1's two best candidates are positives: an after-the-rank filter
    // would leave it only 1 negative; the operator must refill to k=2
    val cands = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7), (1L, 13L, 0.6),
      (2L, 10L, 0.5), (2L, 11L, 0.5)).toDF("qid", "nid", "sim")
    val pos = Seq((1L, 10L), (1L, 11L)).toDF("qid", "nid")
    val out = Similarity.hardNegatives(cands, pos, k = 2)
      .orderBy("qid", "rank").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ===
      Seq((1L, 1, 12L), (1L, 2, 13L), (2L, 1, 10L), (2L, 2, 11L)))
    // q2 tie at 0.5: ascending nid breaks it (10 before 11)
    assert(out.filter(_.getLong(0) == 2L).map(_.getDouble(3)).toSeq === Seq(0.5, 0.5))
  }

  test("annRecall counts per-query hits in exact integers") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 7L), (2L, 8L), (2L, 9L))
      .toDF("qid", "nid")
    val out = Similarity.annRecall(approx, exact).orderBy("qid").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 3L, 2L), (2L, 3L, 0L))) // extra approx rows never inflate hits
  }

  test("ivfTuneNprobe walks to the first target-meeting nprobe; full probe is recall 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iterations = 1)
    val cells = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      .persist()
    val sample = emb.filter($"vec_id" % 10 === 0)
    // target 1.0 is reachable: nprobe = nlist probes every cell, which
    // IS the exact ranking — the walk must terminate achieved
    val t = Similarity.ivfTuneNprobe(sample, "vec_id", "embedding",
      centroids, cells, k = 3, targetRecall = 1.0, maxNprobe = 16)
    assert(t.achieved && t.recall === 1.0)
    // monotone non-decreasing trace, strictly walked (doubling)
    assert(t.trace.map(_._1) === t.trace.map(_._1).sorted)
    assert(t.trace.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1) + 1e-12),
      t.trace.toString)
    // the walk STOPS at the first achieving step: a modest target must
    // come back with a smaller-or-equal nprobe
    val loose = Similarity.ivfTuneNprobe(sample, "vec_id", "embedding",
      centroids, cells, k = 3, targetRecall = 0.5, maxNprobe = 16)
    assert(loose.achieved && loose.nprobe <= t.nprobe)
    // unreachable target under a capped walk reports achieved = false
    // at the cap (recall can be sub-1 only if the cap < nlist)
    val capped = Similarity.ivfTuneNprobe(sample, "vec_id", "embedding",
      centroids, cells, k = 3, targetRecall = 1.0, maxNprobe = 1)
    assert(capped.nprobe === 1 && (capped.achieved == (capped.recall >= 1.0)))
    // incremental probing is BIT-IDENTICAL to re-serving in full at
    // each step: every trace entry must equal the recall of a fresh
    // ivfQueryIndex serve at that nprobe
    for ((np, rec) <- t.trace) {
      val full = Similarity.ivfQueryIndex(
        sample.select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", centroids, cells, np, 3)
      val exact = Similarity.bruteForceTopK(
        sample.select($"vec_id".as("qid"), $"embedding".as("qv")),
        cells, "qid", "qv", "id", "v", 3)
      val r = Similarity.annRecall(full, exact)
        .agg((sum($"n_hit").cast("double") /
          sum($"n_exact").cast("double"))).head().getDouble(0)
      assert(r === rec, s"nprobe=$np: full serve recall $r vs trace $rec")
    }
    cells.unpersist()
  }

  test("bestPerCluster keeps the max-score member, ties to min id, nulls excluded") {
    val cc = Seq((1L, 1L), (5L, 1L), (9L, 1L), (2L, 2L), (4L, 2L), (7L, 7L), (8L, 7L))
      .toDF("id", "rep")
    val scores = Seq((1L, Some(0.2)), (5L, Some(0.9)), (9L, Some(0.9)),
      (2L, Some(0.5)), (4L, Some(0.5)), (7L, None), (8L, None))
      .toDF("id", "score")
    val out = Dedup.bestPerCluster(cc, scores, "id", "score")
      .orderBy("rep").collect()
    // cluster 1: 5 and 9 tie at 0.9 → min id 5; cluster 2: tie → 2;
    // cluster 7: all-null scores → no keeper row (TopK null contract)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 5L), (2L, 2L)))
  }

  test("curateClusteredBest keeps each cluster's max-quality member") {
    val stopEn = Text.langStopwords.head._2
    val docs = Tables.load(spark, sf0001, "documents")
    val keptIds = Dedup.curateClusteredBest(docs, col("doc_id"), col("text"),
        stopEn, 0.4, 3, 64, 16, 0.5)
      .select("id").as[Long].collect().toSet
    val scored = docs.select(col("doc_id").as("id"),
      Text.qualityScore(col("text"), stopEn).as("q"))
    val quality = scored.filter(col("q") >= 0.4)
      .as[(Long, Double)].collect().toMap
    val pairs = Dedup.ngramJaccardPairs(
        docs.filter(col("doc_id").isin(quality.keySet.toSeq: _*)),
        col("doc_id"), col("text"), 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect()
    val comp = unionFind(pairs)
    val byCluster = quality.keySet.groupBy(id => comp.getOrElse(id, id))
    val expected = byCluster.values.map(members =>
      members.minBy(id => (-quality(id), id))).toSet
    assert(keptIds === expected)
    assert(keptIds.nonEmpty && keptIds.size < quality.size)
    // the rule is differentially live on this corpus: at least one
    // cluster's best-quality member is NOT its min id
    val minRule = byCluster.values.map(_.min).toSet
    assert(keptIds !== minRule)
  }

  test("curateClustered drops transitively: shared-dup chains keep only the min") {
    // direct check of keeper-rule semantics on the sf0.001 corpus:
    // every cluster keeps exactly its min surviving-quality id
    val docs = Tables.load(spark, sf0001, "documents")
    val keptIds = Dedup.curateClustered(docs, col("doc_id"), col("text"),
        Text.langStopwords.head._2, 0.4, 3, 64, 16, 0.5)
      .select("id").as[Long].collect().toSet
    val scored = docs.select(col("doc_id").as("id"),
      Text.qualityScore(col("text"), Text.langStopwords.head._2).as("q"))
    val qualityIds = scored.filter(col("q") >= 0.4).select("id").as[Long].collect().toSet
    val pairs = Dedup.ngramJaccardPairs(
        docs.filter(col("doc_id").isin(qualityIds.toSeq: _*)),
        col("doc_id"), col("text"), 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect()
    val comp = unionFind(pairs)
    val expected = qualityIds.filter(id => comp.getOrElse(id, id) == id)
    assert(keptIds === expected)
    assert(keptIds.nonEmpty && keptIds.size < qualityIds.size)
  }
}
