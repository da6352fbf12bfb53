package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftExpr}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), n-gram Jaccard (exact, shared-shingle join), MinHash+LSH
  * (banded candidate generation + exact verify), SimHash (bit-sketch +
  * Hamming). All are pure DataFrame compositions — shuffles only on
  * shingle/band keys, no driver-side loops — so they scale to
  * billion-document corpora.
  */
object Dedup {

  /** House auto-sizing rule for the dedup family's skew caps — the
    * document-frequency ceilings of [[ngramJaccardPairs]] /
    * [[winnowPairs]] and the band-bucket ceiling of
    * [[minhashLshPairs]]: `cap = max(floor, alpha·nDocs)`.
    *
    * Rationale: the caps exist to bound inverted-index pair work
    * (Σ min(df, cap)²) against corpus-wide boilerplate keys, but a
    * cap below the largest LEGITIMATE duplicate-group size destroys
    * recall — an exact-dup group of g docs makes every one of its
    * shingles/fingerprints/band-buckets hit df = g, so `cap < g`
    * erases the whole group from the index. The rule therefore grows
    * the cap linearly with the corpus (any group above `alpha` of
    * the corpus is treated as boilerplate, default 0.2%) and never
    * drops below `floor` (small corpora stay effectively uncapped —
    * their dfs can't produce a blowup worth trading recall for).
    * alpha = 0.002 puts sf1 (50k docs) exactly at the cap-100 point
    * measured at recall 1.000 against uncapped truth on both the
    * clean and boilerplate corpora (SCALE.md, `tools/NgramScale`).
    */
  def autoCap(nDocs: Long, alpha: Double = 0.002, floor: Int = 100): Int =
    math.min(math.max(floor.toLong, (alpha * nDocs).toLong), Int.MaxValue.toLong).toInt

  /** Cap-parameter convention for the curation pipelines: negative →
    * [[autoCap]] sized from `corpus` (one count() action), 0 →
    * explicitly uncapped, positive → the caller's cap.
    *
    * Pipelines pass their RAW input frame, not the quality-filtered
    * one: the count-star then collapses to parquet footer stats
    * instead of re-computing the quality score over every document,
    * and the raw N is an upper bound of the search-set size, so the
    * derived cap is only ever LARGER — which can't cost recall (caps
    * only drop hot keys; see [[autoCap]]).
    */
  private def resolveCap(cap: Int, corpus: DataFrame): Int =
    if (cap < 0) autoCap(corpus.count()) else cap

  /** Word n-gram shingles of `text`, distinct, as array<string> — the
    * fused codegen'd [[ShinglesExpr]] (the equivalent split + sequence +
    * transform + slice + concat_ws + array_distinct composition is five
    * nested higher-order functions: interpreted per row and ~2 s of
    * planning/codegen warmup per query shape).
    */
  def shingles(text: Column, n: Int): Column = Shingles.shingles(text, n)

  /** Exact dedup: group identical normalized content, keep the lowest id.
    * At scale this is one hash shuffle on the fingerprint.
    */
  def exact(df: DataFrame, idCol: Column, text: Column): DataFrame =
    df.groupBy(Text.fingerprint(text).as("fp"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n"))

  /** Exploded (id, shingle-hash) pairs, distinct per doc. Joining on a
    * 64-bit xxhash of the shingle instead of the string shrinks the
    * shuffle and the equality comparisons; a collision would need two
    * distinct shingles of one doc pair to share an xxhash64
    * (P ≈ |shingles|²/2⁶⁵ — immaterial).
    */
  private def shingleRows(df: DataFrame, idCol: Column, text: Column, n: Int): DataFrame =
    df.select(idCol.as("id"), explode(shingles(text, n)).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("s"))

  /** Exact n-gram Jaccard near-dup pairs (i < j, jaccard ≥ threshold).
    * Algorithm: inverted index on shingles → pair intersection counts →
    * |A∪B| = |A|+|B|−|A∩B|. One shuffle on shingle, one on pair.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, text: Column, n: Int, threshold: Double): DataFrame =
    ngramJaccardPairs(df, idCol, text, n, threshold, maxDocFreq = 0)

  /** Variant with a document-frequency ceiling: shingles appearing in
    * more than `maxDocFreq` docs are dropped from the inverted index
    * before the pair join (maxDocFreq <= 0 disables). This bounds the
    * worst-case pair blowup at Σ min(df, cap)² — the standard stop-
    * shingle mitigation at corpus scale.
    *
    * Jaccard is computed entirely in the CAPPED shingle space — per-doc
    * set sizes count only sub-cap shingles, so a hot shingle leaves the
    * numerator and the denominator together, exactly as in
    * [[winnowPairs]]. A binding cap then removes corpus-wide
    * boilerplate from the similarity definition instead of diluting
    * it. The alternative (sizes from the uncapped relation, making
    * computed jaccard a lower bound) measured 10% recall vs ~full
    * under a binding cap on the sf1 boilerplate corpus — see
    * ROUND5.md §9 for the winnow experiment that settled this and
    * ROUND6.md for the ngram backport measurement.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, maxDocFreq: Int): DataFrame =
    ngramJaccardPairs(df, idCol, text, n, threshold, maxDocFreq, CacheScope.unmanaged)

  /** Variant registering its pinned relations in `scope` — see
    * [[CacheScope]] for the ownership contract.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, maxDocFreq: Int, scope: CacheScope): DataFrame = {
    val sh =
      if (maxDocFreq <= 0) scope.track(shingleRows(df, idCol, text, n).cache())
      else {
        // cached: consumers are the hot-shingle aggregation + the
        // anti-join probe side
        val shAll = scope.track(shingleRows(df, idCol, text, n).cache())
        val hot = shAll.groupBy(col("s")).agg(count(lit(1)).as("df_"))
          .filter(col("df_") > maxDocFreq).select(col("s"))
        // cached separately: the capped relation feeds per-doc counts
        // and both pair-join sides (same shape as winnowPairs)
        scope.track(shAll.join(hot, Seq("s"), "left_anti").cache())
      }
    val cnt = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("id").as("i"), col("n_sh").as("ni")), "i")
      .join(cnt.select(col("id").as("j"), col("n_sh").as("nj")), "j")
      .withColumn("jac", col("inter").cast("double") / (col("ni") + col("nj") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** DIRECTED containment near-dup pairs: C(i→j) = |sh(i) ∩ sh(j)| /
    * |sh(i)| ≥ `threshold`, i ≠ j — the asymmetric companion to
    * [[ngramJaccardPairs]] for SUB-document duplication: a short doc
    * fully quoted inside a long one has high containment but LOW
    * Jaccard (the union is dominated by the long doc), so a
    * Jaccard-thresholded dedup never sees it. Containment is the
    * measure for quote/excerpt/boilerplate-subsumption detection
    * (Broder's "containment" from the original resemblance paper,
    * SEQUENCES'97).
    *
    * Same inverted-index shape and df-cap semantics as
    * [[ngramJaccardPairs]] (containment computed entirely in the
    * CAPPED shingle space; `maxDocFreq <= 0` disables): one shuffle
    * on shingle, one on the unordered pair, then each surviving
    * intersection row fans out to its ≤ 2 qualifying directions —
    * the directed output costs no extra join work. Output:
    * (i, j, containment) meaning i's shingle set is
    * `containment`-covered by j's.
    */
  def containmentPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, maxDocFreq: Int = 0,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val sh =
      if (maxDocFreq <= 0) scope.track(shingleRows(df, idCol, text, n).cache())
      else {
        val shAll = scope.track(shingleRows(df, idCol, text, n).cache())
        val hot = shAll.groupBy(col("s")).agg(count(lit(1)).as("df_"))
          .filter(col("df_") > maxDocFreq).select(col("s"))
        scope.track(shAll.join(hot, Seq("s"), "left_anti").cache())
      }
    val cnt = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // intersections once per UNORDERED pair, then both directions
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("inter"))
    val directed = inter.select(col("i"), col("j"), col("inter"))
      .union(inter.select(col("j").as("i"), col("i").as("j"), col("inter")))
    directed
      .join(cnt.select(col("id").as("i"), col("n_sh").as("ni")), "i")
      .withColumn("containment", col("inter").cast("double") / col("ni"))
      .filter(col("containment") >= threshold)
      .select(col("i"), col("j"), col("containment"))
  }

  /** [[ngramJaccardPairs]] with the df cap auto-sized from the corpus
    * ([[autoCap]]; one count() action) — the production default when
    * the caller has no corpus-specific cap.
    */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, scope: CacheScope = CacheScope.unmanaged): DataFrame =
    ngramJaccardPairs(df, idCol, text, n, threshold, autoCap(df.count()), scope)

  /** EXACT all-pairs Jaccard with PREFIX FILTERING (Bayardo, Ma &
    * Srikant, "Scaling Up All Pairs Similarity Search", WWW'07) — the
    * third point in the exact-Jaccard design space: the uncapped
    * inverted index pays Σ df² pair work; the df-capped variant bounds
    * it but CHANGES the similarity definition under a binding cap;
    * prefix filtering bounds it while staying EXACT. Completeness:
    * under any global total order on shingles, jac(A,B) ≥ t implies
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets with overlap ≥ α must
    * share an element among their first |X| − α + 1 elements — so
    * indexing only each doc's first |X| − ⌈t·|X|⌉ + 1 shingles
    * (its PREFIX) in df-ASCENDING order generates every qualifying
    * pair, and rare-first ordering makes those prefixes the
    * low-collision end of the vocabulary. Candidates then verify with
    * one `array_intersect` against the full (sorted-hash) shingle
    * arrays — exact Jaccard, no cap semantics, no recall knob.
    *
    * Output = [[ngramJaccardPairs]] exactly (spec-pinned); shuffle
    * profile = one df aggregation + the prefix self-join (Σ over
    * PREFIX shingles only) + two array joins bounded by the candidate
    * count.
    *
    * MEASURED decision matrix (SCALE.md): at the NEAR-DUP threshold
    * (t=0.9, prefixes ≈ 0.1·|doc|) on the boilerplate-skew corpus the
    * prefix path is 4.3× faster than the uncapped index (6.4 s vs
    * 27.5 s at 5k docs) and holds 1.8×/decade to 50k — the hot tail
    * sits provably outside every prefix. At LOW thresholds (t=0.3,
    * prefixes ≈ 0.7·|doc|) the filter is structurally weak — short
    * docs admit hot shingles into their prefixes — and it roughly
    * ties the uncapped index; use the df-capped variant there (with
    * its documented semantics change). On clean corpora at t=0.5 the
    * plain inverted index wins 3× (prefix pays a per-doc ranking
    * window + array verifies that buy nothing when no df is hot).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val docs = scope.track(df.select(idCol.as("id"), shingles(text, n).as("sh0"))
      .filter(size(col("sh0")) > 0)
      .select(col("id"),
        array_sort(transform(col("sh0"), s => xxhash64(s))).as("arr"),
        size(col("sh0")).as("sz"))
      .cache())
    val flat = docs.select(col("id"), col("sz"), explode(col("arr")).as("s"))
    val dfreq = flat.groupBy(col("s")).agg(count(lit(1)).as("df_"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df_").asc, col("s").asc)
    // p = sz − ⌈t·sz⌉ + 1, with the ceil in EXACT integer arithmetic:
    // t as a 10⁶-denominator rational (exact for any threshold humans
    // write), ⌈num·sz/10⁶⌉ = (num·sz + 10⁶ − 1) div 10⁶. A double
    // ceil can land one ulp ABOVE an integer (0.1·30 → 3.0000…4 →
    // ceil 4) and silently SHORTEN the prefix — a completeness bug,
    // not a precision nit. The rational snaps DOWN (floor, not round):
    // an effective t' ≤ t can only LENGTHEN the prefix, which is
    // always complete; rounding UP would shorten it and silently miss
    // pairs with jaccard in [t, t'). The final verify filters on the
    // caller's exact threshold either way.
    val tNum = math.floor(threshold * 1000000.0).toLong
    val ceilTSz = GraftExpr.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftExpr.expression(col("sz").cast("long") * lit(tNum) + lit(999999L)),
        org.apache.spark.sql.catalyst.expressions.Literal(1000000L)))
    val prefix = flat.join(dfreq, Seq("s"))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos").cast("long") <= col("sz").cast("long") - ceilTSz + 1L)
      .select(col("id"), col("s"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j")).distinct()
    cands
      .join(docs.select(col("id").as("i"), col("arr").as("ai"), col("sz").as("ni")), "i")
      .join(docs.select(col("id").as("j"), col("arr").as("aj"), col("sz").as("nj")), "j")
      .withColumn("inter", size(array_intersect(col("ai"), col("aj"))))
      .withColumn("jac", col("inter").cast("double") /
        (col("ni") + col("nj") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** MinHash signature: for hash function k (0..numHashes-1) the min of
    * h_k(shingle) over the doc's shingles — fused single-pass custom
    * expression (see [[MinHashSigExpr]] for why the built-in
    * transform/array_min composition is ~450× slower).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    MinHash.minhash_sig(shinglesCol, numHashes)

  /** MinHash-LSH candidate pairs verified by exact Jaccard.
    * Banding: `bands` bands of `numHashes/bands` rows; docs sharing any
    * band bucket become candidates; candidates are verified against the
    * exact n-gram Jaccard and filtered at `threshold`.
    *
    * At 100 TB scale only the band-bucket join shuffles doc ids (no
    * all-pairs); verification joins shingle sets for candidate pairs
    * only.
    */
  def minhashLshPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minhashLshPairs(df, idCol, text, n, numHashes, bands, threshold, maxBucketSize = 0)

  /** Variant with a band-bucket size ceiling: buckets holding more than
    * `maxBucketSize` docs are dropped before the candidate self-join
    * (maxBucketSize <= 0 disables). A degenerate bucket — e.g. a
    * boilerplate band signature shared by millions of docs — otherwise
    * produces |bucket|² candidate pairs on one hot partition; this is
    * the band-level analogue of [[ngramJaccardPairs]]'s `maxDocFreq`
    * stop-shingle cap. Docs in a dropped bucket can still pair through
    * any of their other `bands-1` buckets, so recall degrades gracefully
    * (and only for pairs whose every shared band is degenerate);
    * precision is unaffected because candidates are exact-verified.
    */
  def minhashLshPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      numHashes: Int, bands: Int, threshold: Double, maxBucketSize: Int): DataFrame =
    minhashLshPairs(df, idCol, text, n, numHashes, bands, threshold, maxBucketSize,
      CacheScope.unmanaged)

  /** Variant registering its pinned relations in `scope` — see
    * [[CacheScope]] for the ownership contract.
    */
  def minhashLshPairs(df: DataFrame, idCol: Column, text: Column, n: Int,
      numHashes: Int, bands: Int, threshold: Double, maxBucketSize: Int,
      scope: CacheScope): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    // cached: the band explode and both sides of the verify join re-scan
    // this relation; recomputing shingles+signatures 4× dominates without
    // it. Only (id, sh, sig) is persisted — carrying the raw text too
    // was the difference between OOM and completion at the 5M-doc
    // single-JVM point (ROUND7.md §8: banding reads (id, sig), verify
    // reads (id, sh); nothing downstream reads text)
    val withSig = scope.track(df.select(idCol.as("id"), text.as("text"))
      .withColumn("sh", shingles(col("text"), n))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("id"), col("sh"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bandedAll = withSig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * lit(rows) + lit(1), lit(rows))).as("bh")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val banded =
      if (maxBucketSize <= 0) bandedAll
      else {
        val hot = bandedAll.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("bsz_")).filter(col("bsz_") > maxBucketSize)
          .select(col("band"), col("bh"))
        bandedAll.join(hot, Seq("band", "bh"), "left_anti")
      }
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // exact verify on candidates only
    val sh = withSig.select(col("id"), col("sh"), size(col("sh")).as("n_sh"))
    cands
      .join(sh.select(col("id").as("i"), col("sh").as("sh_i"), col("n_sh").as("ni")), "i")
      .join(sh.select(col("id").as("j"), col("sh").as("sh_j"), col("n_sh").as("nj")), "j")
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jac", col("inter").cast("double") / (col("ni") + col("nj") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** [[minhashLshPairs]] with the band-bucket cap auto-sized from the
    * corpus ([[autoCap]]; one count() action) — the production default
    * when the caller has no corpus-specific cap.
    */
  def minhashLshPairsAuto(df: DataFrame, idCol: Column, text: Column, n: Int,
      numHashes: Int, bands: Int, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): DataFrame =
    minhashLshPairs(df, idCol, text, n, numHashes, bands, threshold,
      autoCap(df.count()), scope)

  /** Incremental near-dup pairs for corpus MAINTENANCE: all pairs with
    * at least one member in `newDf` (new×new and new×old), never
    * old×old — the shape of a daily drop deduplicated against the kept
    * history. Same banding, caps, and exact verify as
    * [[minhashLshPairs]]; the asymmetry is in the candidate join,
    * where only NEW band rows probe the combined buckets:
    * candidate work is Σ_bucket new_b · total_b instead of total_b² —
    * for a drop that is 0.1% of the corpus, ~1000× less verify work
    * than re-running the full pair search, and the history re-scan is
    * signatures only (at scale, persist the history's (id, sh, sig)
    * relation once and pass it through `scope`; it is append-only
    * across drops). Pairs are normalized i < j; results are exactly
    * `minhashLshPairs(new ∪ old)` minus the old×old pairs (spec-pinned).
    */
  def minhashLshPairsIncremental(newDf: DataFrame, oldDf: DataFrame,
      idCol: Column, text: Column, n: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucketSize: Int = 0,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    def sigs(df: DataFrame, isNew: Int): DataFrame =
      df.select(idCol.as("id"), text.as("text"))
        .withColumn("sh", shingles(col("text"), n))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), numHashes))
        .select(col("id"), col("sh"), col("sig"), lit(isNew).as("is_new"))
    val withSig = scope.track(sigs(newDf, 1).unionByName(sigs(oldDf, 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bandedAll = withSig.select(
      col("id"), col("is_new"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * lit(rows) + lit(1), lit(rows))).as("bh")))).as("bb"))
      .select(col("id"), col("is_new"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val banded =
      if (maxBucketSize <= 0) bandedAll
      else {
        val hot = bandedAll.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("bsz_")).filter(col("bsz_") > maxBucketSize)
          .select(col("band"), col("bh"))
        bandedAll.join(hot, Seq("band", "bh"), "left_anti")
      }
    val cands = banded.filter(col("is_new") === 1).as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("i"),
        greatest(col("a.id"), col("b.id")).as("j"))
      .distinct()
    val sh = withSig.select(col("id"), col("sh"), size(col("sh")).as("n_sh"))
    cands
      .join(sh.select(col("id").as("i"), col("sh").as("sh_i"), col("n_sh").as("ni")), "i")
      .join(sh.select(col("id").as("j"), col("sh").as("sh_j"), col("n_sh").as("nj")), "j")
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))))
      .withColumn("jac", col("inter").cast("double") / (col("ni") + col("nj") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** Corpus snapshot diff — the maintenance question "what changed
    * between crawl N and crawl N+1": classify every doc id as added
    * (only in the new snapshot), removed (only in the old), changed
    * (both, fingerprints differ), or unchanged. One full-outer hash
    * join on id; at warehouse scale both snapshots live bucketed/
    * sorted by id (or z-ordered — [[Layout.zorderBy]]) and the join
    * plans shuffle-free. Compare on a cheap content fingerprint
    * column (e.g. [[Text.fingerprint]]), never raw text — the
    * exchange then carries (id, 32-byte fp) rows regardless of doc
    * size. Returns (id, status, old_fp, new_fp); `includeUnchanged`
    * keeps the (typically dominant) unchanged class, off by default
    * so the result stays proportional to the drift, not the corpus.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String, fpCol: String,
      includeUnchanged: Boolean = false): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), col(fpCol).as("old_fp"))
    val n = newDf.select(col(idCol).as("id"), col(fpCol).as("new_fp"))
    val joined = o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_fp"), col("new_fp"))
    if (includeUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** Streaming exact dedup: drop repeats of `idCols` arriving within the
    * watermark horizon — state for a key is reclaimed once the watermark
    * passes its event time + delay, so memory is bounded on unbounded
    * streams (Spark's dropDuplicatesWithinWatermark).
    */
  def streamingExactDedup(df: DataFrame, tsCol: String, delay: String, idCols: String*): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(idCols.toSeq)

  /** Training-data curation pipeline: quality-gate then near-dup-drop.
    * Keeps documents whose quality score ≥ `minQuality` and which are
    * not the higher-id member of any near-dup pair among the kept set
    * (deterministic keeper rule: lowest doc id of a dup group survives
    * transitively via pair ordering). Pair search uses MinHash+LSH with
    * exact verification — the 100 TB path. `maxBucketSize` follows the
    * pipeline cap convention: negative (the default) auto-sizes via
    * [[autoCap]], 0 disables, positive is explicit.
    */
  def curate(df: DataFrame, idCol: Column, text: Column,
      stopwords: Seq[String], minQuality: Double,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = -1): DataFrame = Rounds.run(df, "curate") { rounds =>
    // kept is read twice (signature build + final anti-join): one
    // eager checkpoint runs the quality scan once (see [[curateFull]])
    val kept = rounds.mark(df.select(idCol.as("id"), text.as("text"),
        Text.qualityScore(text, stopwords).as("quality"))
      .filter(col("quality") >= minQuality))
    val pairs = minhashLshPairs(kept, col("id"), col("text"), n, numHashes, bands,
        threshold, resolveCap(maxBucketSize, df))
      .select(col("j").as("drop_id")).distinct()
    kept.join(pairs, kept("id") === pairs("drop_id"), "left_anti")
      .select(col("id"), col("quality"))
  }

  /** Winnowing-fingerprint near-dup pairs: docs whose shared distinct
    * winnowing fingerprints ([[Winnow]]; k-gram rolling hash,
    * window-min selection) cover at least `minOverlap` of the smaller
    * doc's fingerprint set (the overlap coefficient — raw shared
    * counts are noise-dominated on a common-vocabulary corpus, where
    * the median unrelated pair already shares several common-phrase
    * grams). The inverted index holds only ~2/(w+1) of the k-gram
    * hashes per doc — the winnowing guarantee bounds the index at a
    * fraction of the shingle index while still catching every shared
    * run of ≥ k+w−1 chars — and the same `maxDocFreq` stop-fingerprint
    * cap as [[ngramJaccardPairs]] bounds hot-key pair blowup (cap <= 0
    * disables).
    *
    * Unlike the ngram gate's lower-bound choice, the overlap here is
    * computed in the CAPPED fingerprint space — hot fingerprints leave
    * the numerator and the denominator together. A binding cap then
    * removes corpus-wide boilerplate from the similarity definition
    * instead of diluting it: true near-dups keep their doc-specific
    * (low-df) fingerprints and their overlap survives, while the
    * lower-bound form loses them once common fingerprints dominate the
    * uncapped denominator (measured on the sf1 scale-up: cap 100 kept
    * 10% of true pairs under uncapped denominators, full recall under
    * capped ones — see ROUND5.md §9).
    */
  def winnowPairs(df: DataFrame, idCol: Column, text: Column, k: Int, w: Int,
      minOverlap: Double, maxDocFreq: Int = 0,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val fpAll = scope.track(
      df.select(idCol.as("id"), explode(Winnow.winnow(text, k, w)).as("fp"))
        .cache()) // consumers: the hot-fp aggregation + the anti-join probe side
    val fp =
      if (maxDocFreq <= 0) fpAll
      else {
        val hot = fpAll.groupBy(col("fp")).agg(count(lit(1)).as("df_"))
          .filter(col("df_") > maxDocFreq).select(col("fp"))
        // cached separately: the capped relation feeds per-doc counts
        // and both pair-join sides — uncached, each re-runs the
        // anti-join (measured 3× wall on the sf1 skew corpus)
        scope.track(fpAll.join(hot, Seq("fp"), "left_anti").cache())
      }
    val cnt = fp.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    fp.as("a").join(fp.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("shared"))
      .join(cnt.select(col("id").as("i"), col("n_fp").as("ni")), "i")
      .join(cnt.select(col("id").as("j"), col("n_fp").as("nj")), "j")
      .withColumn("overlap", col("shared").cast("double") / least(col("ni"), col("nj")))
      .filter(col("overlap") >= minOverlap)
      .select(col("i"), col("j"), col("shared"), col("overlap"))
  }

  /** [[winnowPairs]] with the fingerprint df cap auto-sized from the
    * corpus ([[autoCap]]; one count() action) — the production default
    * when the caller has no corpus-specific cap.
    *
    * Winnow uses a 10× higher (alpha, floor) than the shingle index:
    * window-min selection biases popular k-grams INTO the fingerprint
    * set (a hash that is minimal in one window is minimal in many),
    * so fingerprint dfs concentrate and a shingle-sized cap bites
    * real overlap. Measured at sf1 (50k docs) against uncapped truth:
    * cap 1000 → recall 1.000, 500 → 0.998, 300 → 0.981, 100 → 0.944
    * (`tools/WinnowScale` with cap 0 truth; SCALE.md). Callers
    * trading recall for cost pass an explicit cap to [[winnowPairs]].
    */
  def winnowPairsAuto(df: DataFrame, idCol: Column, text: Column, k: Int, w: Int,
      minOverlap: Double, scope: CacheScope = CacheScope.unmanaged): DataFrame =
    winnowPairs(df, idCol, text, k, w, minOverlap,
      autoCap(df.count(), alpha = 0.02, floor = 1000), scope)

  /** Benchmark decontamination: flag training docs sharing at least
    * `minShared` distinct word n-grams with ANY doc of the evaluation
    * set — the standard guard against test-set leakage into training
    * corpora. The eval side collapses to a distinct shingle-hash set
    * (its size is benchmark-scale, far smaller than the corpus), the
    * train side streams through one inverted join against it; at 100
    * TB this is one shuffle of the train shingles against a
    * benchmark-sized relation (broadcast when it fits). Returns
    * (id, n_shared) per contaminated train doc; anti-join it to drop.
    * Shingle identity is the same 64-bit xxhash used by
    * [[ngramJaccardPairs]] (collision argument in [[shingleRows]]).
    */
  def decontaminate(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int, minShared: Int): DataFrame = {
    val tsh = shingleRows(train, trainId, trainText, n)
    val esh = eval.select(explode(shingles(evalText, n)).as("s0"))
      .select(xxhash64(col("s0")).as("s")).distinct()
    tsh.join(esh, Seq("s"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[decontaminate]] with a broadcast Bloom prefilter on the train
    * side — same exact result (the Bloom only admits candidates; the
    * exact shingle join then removes its false positives), different
    * scale envelope. Plain `decontaminate` must move EVERY train
    * shingle into the join; when the eval set outgrows the broadcast
    * ceiling (many benchmarks × n-grams ≈ 10⁸ rows, tens of GB as an
    * exact hash relation) that join becomes a full shuffle of ~10¹²
    * train shingle rows at 100 TB. The Bloom collapses the eval side
    * to `-n·ln(fpp)/ln²2` BITS (≈120 MB at 10⁸ keys, 1% fpp) —
    * broadcastable at any realistic benchmark count — and the probe
    * is a codegen'd [[BloomFilterMightContain]] evaluated map-side in
    * the scan stage, so only the ~contamination-rate + fpp fraction
    * of train shingles ever reaches the exchange. Build is one
    * distributed `stat.bloomFilter` pass over the (cached,
    * benchmark-scale) eval shingle set.
    */
  def decontaminateBloom(train: DataFrame, trainId: Column, trainText: Column,
      eval: DataFrame, evalText: Column, n: Int, minShared: Int,
      fpp: Double = 0.01,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val esh = scope.track(
      eval.select(explode(shingles(evalText, n)).as("s0"))
        .select(xxhash64(col("s0")).as("s")).distinct()
        .cache()) // consumers: count, bloom build, exact verify join
    val expected = esh.count()
    // an empty eval set means nothing can be contaminated — and
    // stat.bloomFilter NPEs on an empty build side
    if (expected == 0L)
      return train.select(trainId.as("id")).limit(0)
        .withColumn("n_shared", lit(0L))
    val bf = esh.stat.bloomFilter("s", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftExpr.column(BloomFilterMightContain(
      Literal(bytes, BinaryType), GraftExpr.expression(col("s"))))
    shingleRows(train, trainId, trainText, n)
      .filter(mightContain)
      .join(esh, Seq("s"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Multi-benchmark contamination report — [[decontaminate]] across
    * EVERY benchmark in one pass: per (train doc, benchmark), the
    * shared distinct-n-gram count. A real pipeline holds dozens of
    * eval suites; running decontaminate per suite re-shingles the
    * 100 TB train side once per benchmark, while here the train
    * shingles move ONCE and the benchmark tag rides the (benchmark-
    * sized) eval relation through the join. Different benchmarks
    * sharing an n-gram each get their own row (the eval side is
    * distinct per benchmark, not globally). Filter `n_shared >=
    * minShared` per suite downstream — thresholds are typically
    * suite-specific, so the report returns the full counts.
    */
  def decontaminateReport(train: DataFrame, trainId: Column,
      trainText: Column, benchmarks: Seq[(String, DataFrame, Column)],
      n: Int): DataFrame = {
    require(benchmarks.nonEmpty, "decontaminateReport: no benchmarks")
    require(benchmarks.map(_._1).distinct.length == benchmarks.length,
      "decontaminateReport: duplicate benchmark names")
    val esh = benchmarks.map { case (name, df, textCol) =>
      df.select(explode(shingles(textCol, n)).as("s0"))
        .select(xxhash64(col("s0")).as("s")).distinct()
        .withColumn("benchmark", lit(name))
    }.reduce(_.unionByName(_))
    shingleRows(train, trainId, trainText, n)
      .join(esh, Seq("s"))
      .groupBy(col("id"), col("benchmark"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Novelty / memorization-risk scoring — the SCORE face of
    * decontamination: per train doc, `(id, n_grams, n_seen)` where
    * `n_grams` is the doc's distinct n-gram count and `n_seen` how
    * many of them appear ANYWHERE in the reference corpus (a held-out
    * benchmark, a previous training run's corpus, a known-memorized
    * set). `n_seen / n_grams` near 1 marks a doc whose content the
    * reference already covers; [[decontaminate]] filters at a shared-
    * count threshold, this reports the full distribution so a pipeline
    * can gate, stratify, or audit on it.
    *
    * One pass over the train shingles: every row is counted toward
    * `n_grams` map-side, and ONLY rows the broadcast reference Bloom
    * admits take the exact verify join (false positives die on the
    * left-join null, so the counts are EXACT — the Bloom narrows the
    * shuffle, never the answer, the [[decontaminateBloom]] contract).
    * At 100 TB the join moves the ~overlap + fpp fraction of train
    * shingles; the final exchange carries two longs per doc.
    */
  def noveltyStats(train: DataFrame, trainId: Column, trainText: Column,
      ref: DataFrame, refText: Column, n: Int, fpp: Double = 0.01,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val esh = scope.track(
      ref.select(explode(shingles(refText, n)).as("s0"))
        .select(xxhash64(col("s0")).as("s")).distinct()
        .cache()) // consumers: count, bloom build, exact verify join
    val expected = esh.count()
    noveltyStatsServe(train, trainId, trainText,
      NoveltyRef(esh, buildBloomBytes(esh, expected, fpp), n))
  }

  /** The frozen reference artifact novelty scoring serves against:
    * the distinct reference n-gram hashes (parquet-persistable) and
    * their Bloom bytes. Build once from the reference corpus, persist
    * beside the model, score any number of drops/streams against it —
    * the IVF-index contract applied to contamination.
    */
  final case class NoveltyRef(esh: DataFrame, bloom: Array[Byte], n: Int)

  private def buildBloomBytes(esh: DataFrame, expected: Long, fpp: Double): Array[Byte] =
    if (expected == 0L) Array.emptyByteArray
    else {
      val bf = esh.stat.bloomFilter("s", expected, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }

  /** Build + persist the frozen novelty reference (`dir/esh` parquet +
    * `dir/meta` with the bloom bytes and n). */
  def writeNoveltyRef(ref: DataFrame, refText: Column, n: Int, dir: String,
      fpp: Double = 0.01): Unit = {
    val esh = ref.select(explode(shingles(refText, n)).as("s0"))
      .select(xxhash64(col("s0")).as("s")).distinct()
      .cache()
    try {
      esh.write.mode("overwrite").parquet(s"$dir/esh")
      val bytes = buildBloomBytes(esh, esh.count(), fpp)
      val spark = ref.sparkSession
      import spark.implicits._
      Seq((n, bytes)).toDF("n", "bloom")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    } finally { esh.unpersist(); () }
  }

  /** Read a persisted novelty reference back, serve-ready. */
  def readNoveltyRef(spark: org.apache.spark.sql.SparkSession,
      dir: String): NoveltyRef = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    NoveltyRef(spark.read.parquet(s"$dir/esh"),
      meta.getAs[Array[Byte]]("bloom"), meta.getAs[Int]("n"))
  }

  /** Score against a prebuilt [[NoveltyRef]] — the serve path
    * [[noveltyStats]] wraps and streaming scoring runs per batch. */
  def noveltyStatsServe(train: DataFrame, trainId: Column,
      trainText: Column, ref: NoveltyRef): DataFrame = {
    // empty reference: every gram is novel (stat.bloomFilter NPEs on
    // an empty build side, and there is nothing to probe anyway)
    if (ref.bloom.isEmpty)
      return shingleRows(train, trainId, trainText, ref.n)
        .groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
        .withColumn("n_seen", lit(0L))
    val mightContain = GraftExpr.column(BloomFilterMightContain(
      Literal(ref.bloom, BinaryType), GraftExpr.expression(col("s"))))
    val probed = shingleRows(train, trainId, trainText, ref.n)
      .withColumn("__mc", mightContain)
    val misses = probed.filter(!col("__mc"))
      .select(col("id"), lit(0L).as("__hit"))
    val hits = probed.filter(col("__mc"))
      .join(ref.esh.select(col("s"), lit(1L).as("__h")), Seq("s"), "left")
      .select(col("id"), coalesce(col("__h"), lit(0L)).as("__hit"))
    misses.unionByName(hits)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__hit")).as("n_seen"))
  }

  /** The [[connectedComponents]] convergence signature of a (u, v)
    * edge set: (edge count, order-insensitive hash sum), folded exactly
    * (BigInt) by a round's mark in its own job. A signature tie between
    * two *different* consecutive edge sets needs a 64-bit hash-sum
    * collision (P ≈ 2⁻⁶⁴ per round) — and the alternating algorithm
    * never revisits a state, so a stable signature means a stable set.
    */
  private[graft] val ccSignature: DataFrame => (Long, BigInt) =
    Rounds.fold(xxhash64(col("u"), col("v")))((0L, BigInt(0)))(
      (acc, r) => (acc._1 + 1, acc._2 + r.getLong(0)))(
      (x, y) => (x._1 + y._1, x._2 + y._2))

  /** Connected components over a near-dup pair list — the clustering
    * stage a dedup pipeline needs after pair generation: pairs →
    * duplicate clusters → one canonical keeper per cluster. Pair-local
    * keeper rules ("drop the larger id of every pair") are not
    * transitively closed — in a chain a~b~c they can drop b yet keep c
    * whose only kept near-dup was b — so cluster-then-keep-min is the
    * principled rule at corpus scale.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each
    * round is two edge-local DataFrame transforms plus a per-node min
    * aggregation — no driver-side graph state, every step a hash
    * shuffle on node id — and the edge set provably converges to
    * per-component stars centered on the component minimum in
    * O(log² n) rounds (2-3 rounds on the clique-like graphs dedup
    * produces). Compare GraphX's Pregel connectedComponents: that is
    * plain min-label propagation, O(diameter) rounds — this converges
    * exponentially faster on long chains and needs no RDD conversion.
    *
    * Per round the plan is checkpointed: it truncates lineage
    * (iterated self-joins otherwise nest the logical plan
    * exponentially) and materializes the edge set, and the same job
    * folds the round's convergence signature (`ccSignature`) — no
    * aggregate job of its own. When the session has a checkpoint dir
    * (`spark.sparkContext.setCheckpointDir`), rounds use RELIABLE
    * checkpoints — an executor loss mid-contraction recovers from
    * storage; otherwise local checkpoint blocks (which die with their
    * executor — fine on local[*], risky on a 1000-executor cluster).
    *
    * @param pairs DataFrame whose first two columns are the pair
    *              endpoints (any orderable type; self-pairs ignored)
    * @return (id, rep): every node appearing in a pair, mapped to the
    *         minimum id of its connected component
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val Array(ci, cj) = pairs.columns.take(2)
    // canonical undirected form: (u = max, v = min), self-loops dropped
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // large-star: every node u attaches its strictly-larger neighbors
    // to m(u) = min(neighborhood(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // shuffle_hash on the node-sized star-center aggregate: every
      // relation here derives from the round checkpoint (no stats →
      // never broadcast), so sort-merge would sort BOTH edge-scale
      // sides every round; hashing m leaves sym streaming (guide §3.1)
      sym.join(m.hint("shuffle_hash"), "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: every node u attaches itself and its smaller
    // neighbors to the minimum of those neighbors
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      e.join(m.hint("shuffle_hash"), "u")
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
    }

    // Each round is a [[Rounds]] checkpoint materialized by its own
    // signature fold, and the superseded round is released once the
    // next is materialized — only the final star edge set outlives
    // the call, because the returned DataFrame reads through it (see
    // [[Rounds]] for its lifetime).
    Rounds.run(pairs, "connectedComponents") { rounds =>
      var (cur, curSig) = rounds.markWith(
        canon(pairs.select(col(ci).as("u"), col(cj).as("v"))))(ccSignature)
      var converged = curSig._1 == 0L
      var round = 0
      while (!converged && round < maxIter) {
        val (next, nextSig) = rounds.replaceWith(cur,
          canon(smallStar(canon(largeStar(cur)))))(ccSignature)
        converged = nextSig == curSig
        cur = next
        curSig = nextSig
        round += 1
      }
      require(converged, s"connectedComponents: no convergence in $maxIter rounds")
      // converged edges are stars (member, component-min); minima map to
      // themselves
      cur.select(col("u").as("id"), col("v").as("rep"))
        .union(cur.select(col("v").as("id"), col("v").as("rep")))
        .distinct()
    }
  }

  /** [[curate]] with the transitively-closed keeper rule: near-dup
    * pairs among quality-kept docs are clustered by
    * [[connectedComponents]] and only each cluster's minimum id
    * survives. Differs from [[curate]] exactly where transitivity
    * matters: docs a < b that never pair directly but share a dup c
    * form one cluster here (b dropped), two independent pairs there
    * (b kept).
    */
  def curateClustered(df: DataFrame, idCol: Column, text: Column,
      stopwords: Seq[String], minQuality: Double,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = -1): DataFrame = Rounds.run(df, "curateClustered") { rounds =>
    // kept read twice (signature build + final anti-join): checkpoint
    // the quality scan once (see [[curateFull]])
    val kept = rounds.mark(df.select(idCol.as("id"), text.as("text"),
        Text.qualityScore(text, stopwords).as("quality"))
      .filter(col("quality") >= minQuality))
    // the pipeline owns its pair-generation caches: connectedComponents
    // materializes the pairs into its round checkpoints (it runs Spark
    // actions), so nothing downstream references them — release before
    // returning (see CacheScope)
    val scope = new CacheScope
    val pairs = minhashLshPairs(kept, col("id"), col("text"), n, numHashes, bands,
      threshold, resolveCap(maxBucketSize, df), scope)
    val drops = connectedComponents(pairs.select(col("i"), col("j")))
      .filter(col("id") =!= col("rep")).select(col("id").as("drop_id"))
    scope.close()
    kept.join(drops, kept("id") === drops("drop_id"), "left_anti")
      .select(col("id"), col("quality"))
  }

  /** Canonical-representative selection by SCORE: given near-dup
    * clusters `(id, rep)` from [[connectedComponents]] and a per-doc
    * score relation, pick each cluster's HIGHEST-scoring member (score
    * ties → lowest id) as the keeper — the production canonicalization
    * rule (keep the best-quality copy of a duplicated page), where the
    * id-min rule of [[curateClustered]] keeps whichever copy crawled
    * first. Returns (rep, keep_id). Scale shape: one join keyed on id,
    * one rep-keyed aggregate that collapses MAP-SIDE through the same
    * [[TopK.topKBy]] aggregate as the ANN rankers (k = 1: each task
    * holds one (score, id) entry per cluster — cluster size never
    * reaches the exchange). Members whose score is null are excluded
    * per [[TopK]]'s null-score contract; a cluster of all-null scores
    * yields no keeper row.
    */
  def bestPerCluster(cc: DataFrame, scores: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    TopK.ensureHashAggCapacity(cc.sparkSession)
    cc.select(col("id"), col("rep"))
      .join(scores.select(col(idCol).as("id"),
        col(scoreCol).cast("double").as("score")), Seq("id"))
      .groupBy(col("rep"))
      .agg(TopK.topKBy(col("score"), col("id"), 1).as("tk"))
      // get() (not getItem): an all-null-score cluster aggregates to an
      // EMPTY entry array, which must drop as a null row, not raise
      // ANSI invalidArrayIndex
      .select(col("rep"), get(col("tk"), lit(0)).getField("id").as("keep_id"))
      .filter(col("keep_id").isNotNull)
  }

  /** [[curateClustered]] with the keep-BEST canonical rule: quality
    * gate → near-dup clusters → keep each cluster's highest-quality
    * member ([[bestPerCluster]]; ties → lowest id) plus every
    * unclustered doc. Same plan as curateClustered apart from the
    * keeper aggregate, and the same (id, quality) output face.
    */
  def curateClusteredBest(df: DataFrame, idCol: Column, text: Column,
      stopwords: Seq[String], minQuality: Double,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = -1): DataFrame =
      Rounds.run(df, "curateClusteredBest") { rounds =>
    // kept read THREE times here (signature build, the keeper scores,
    // the final anti-join): checkpoint the quality scan once (see
    // [[curateFull]])
    val kept = rounds.mark(df.select(idCol.as("id"), text.as("text"),
        Text.qualityScore(text, stopwords).as("quality"))
      .filter(col("quality") >= minQuality))
    val scope = new CacheScope
    val pairs = minhashLshPairs(kept, col("id"), col("text"), n, numHashes, bands,
      threshold, resolveCap(maxBucketSize, df), scope)
    val cc = connectedComponents(pairs.select(col("i"), col("j")))
    scope.close()
    val keepers = bestPerCluster(cc, kept.select(col("id"), col("quality")),
      "id", "quality")
    val drops = cc.join(keepers, Seq("rep"))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("drop_id"))
    kept.join(drops, kept("id") === drops("drop_id"), "left_anti")
      .select(col("id"), col("quality"))
  }

  /** The full curation pipeline in one call: PII scrub → quality gate
    * → exact dedup (keep lowest id per fingerprint) → MinHash near-dup
    * clustering keeping each cluster's minimum → decontamination
    * against a held-out eval set. Returns the surviving (id, quality)
    * rows. Each stage is the corresponding public operator; the
    * composition is hash-verified end-to-end by the `q_curate_full`
    * gate against a single composed DuckDB oracle.
    */
  def curateFull(df: DataFrame, idCol: Column, text: Column,
      evalDf: DataFrame, evalText: Column,
      stopwords: Seq[String], minQuality: Double,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      decontamN: Int, decontamMinShared: Int,
      maxBucketSize: Int = -1): DataFrame = Rounds.run(df, "curateFull") { rounds =>
    // The scrub+score scan (PII regex + quality over every document)
    // is the pipeline's most expensive per-row expression, and `uniq`
    // is read by THREE independent consumers (the MinHash signature
    // build, the decontamination re-shingle, the final anti-join) —
    // without materialization each re-runs the whole scan (r16
    // job probe, now tools/Probe: 21 task-sec, mostly the repeated scrub).
    // Eager
    // checkpoints (the graph-family [[Rounds]] lifecycle) run the scan
    // ONCE; the kept checkpoint is released as soon as uniq
    // supersedes it, and uniq's blocks follow the result's lifetime
    // (the documented final-round contract).
    val kept = rounds.mark(
      df.select(idCol.as("id"), Text.redactPii(text).as("text"))
        .withColumn("quality", Text.qualityScore(col("text"), stopwords))
        .filter(col("quality") >= minQuality))
    val keepers = kept.groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(min(col("id")).as("id")).select(col("id"))
    val uniq = rounds.replace(kept, kept.join(keepers, "id"))
    // pipeline-owned caches: released once connectedComponents has
    // materialized the pairs into its round checkpoints (see CacheScope)
    val scope = new CacheScope
    val pairs = minhashLshPairs(uniq, col("id"), col("text"), n, numHashes, bands,
      threshold, resolveCap(maxBucketSize, df), scope)
    val drops = connectedComponents(pairs.select(col("i"), col("j")))
      .filter(col("id") =!= col("rep")).select(col("id").as("drop_id"))
    scope.close()
    val deduped = uniq.join(drops, uniq("id") === drops("drop_id"), "left_anti")
    val contaminated = decontaminate(deduped, col("id"), col("text"),
        evalDf.select(Text.redactPii(evalText).as("text")), col("text"),
        decontamN, decontamMinShared)
      .select(col("id").as("c_id"))
    deduped.join(contaminated, deduped("id") === contaminated("c_id"), "left_anti")
      .select(col("id"), col("quality"))
  }

  /** Embedding-space semantic dedup (SemDeDup-style, Abbas et al.
    * 2023), the production path: corpus-sized OR-amplified
    * random-hyperplane buckets ([[Similarity.bucketedCosinePairsAuto]]
    * — bits grow with log2 N so candidate work stays
    * ≈ tables·N·targetBucket, never N²/2^bits; amplification keeps
    * recall for high-similarity pairs) → cosine-verified pairs →
    * [[connectedComponents]] → (id, rep) with one canonical
    * representative (the cluster minimum) per semantic cluster. The
    * `q_embed_dedup` gate runs the same composition with fixed bits=4
    * sign buckets so the DuckDB oracle stays SQL-expressible; recall
    * of the auto path vs brute force is measured in FunctionsSpec and
    * tools/AnnScale.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Int = 64): DataFrame = {
    val pairs = Similarity.bucketedCosinePairsAuto(df, idCol, vecCol,
      threshold, targetBucket)
    connectedComponents(pairs.select(col("i"), col("j")))
  }

  /** SEMANTIC benchmark decontamination (SemDeDup-flavored, Abbas et
    * al. 2023): flag training items whose EMBEDDING is near an eval
    * item's — the contamination n-gram overlap cannot see (paraphrased
    * benchmark questions, translated answers, reformatted tables).
    * Companion to the lexical [[decontaminate]]/[[decontaminateBloom]];
    * production curation runs both.
    *
    * Shape: the cross-corpus variant of
    * [[Similarity.bucketedCosinePairs]] — both sides sketch into the
    * same `tables` OR-amplified random-hyperplane tables, candidates
    * are (train, eval) rows colocated in ANY table (never train×train
    * or eval×eval, the asymmetry [[minhashLshPairsIncremental]] also
    * exploits), and every candidate is exact-cosine-verified, so
    * precision is 1.0 by construction and recall is the amplified
    * 1−(1−p^bits)^tables. Candidate work ≈ tables · Σ_bucket
    * train_b · eval_b; with bits sized to the TRAIN side
    * (the big side — [[Similarity.autoBits]] in the `Auto` variant)
    * it stays ≈ tables · |eval| · targetBucket — LINEAR in the train
    * corpus, and the eval side (benchmark-scale) is broadcast by AQE
    * in the candidate join.
    *
    * @return (id, n_hits): contaminated train ids with the number of
    *         eval items verified within `threshold` cosine — integer
    *         output, so the gate pins it exactly.
    */
  def decontaminateSemantic(train: DataFrame, trainId: String, trainVec: String,
      eval: DataFrame, evalId: String, evalVec: String,
      threshold: Double, bits: Int, tables: Int): DataFrame = {
    val t = train.select(col(trainId).as("id"), col(trainVec).as("v"))
    val e = eval.select(col(evalId).as("eid"), col(evalVec).as("ev"))
    def keyed(df: DataFrame, id: String, v: String) =
      df.select(col(id), posexplode(Similarity.lshSketch(col(v), bits, tables))
        .as(Seq("t", "bucket")))
    val cands = keyed(t, "id", "v").join(keyed(e, "eid", "ev"), Seq("t", "bucket"))
      .select(col("id"), col("eid")).distinct()
    // int8 prefilter before the float verify (the same construction as
    // Similarity.verifyCandidatesExact, cross-corpus form): candidates
    // join 4×-smaller codes first — the train-side code join is the
    // heavy exchange — and only survivors touch the float relations at
    // the exact threshold. Kills the measured fixed-core spill on the
    // float verify joins (decontam_sem_auto 21×/decade at 2M vectors,
    // SCALE.md); margin exactness argument at Similarity.Int8VerifyMargin.
    val tc = t.select(col("id"), Int8.int8Codes(col("v")).as("__tc"))
    val ec = e.select(col("eid"), Int8.int8Codes(col("ev")).as("__ec"))
    val pre = cands.join(tc, "id").join(ec, "eid")
      .filter(Int8.int8Cosine(col("__tc"), col("__ec")) >=
        threshold - Similarity.Int8VerifyMargin)
      .select(col("id"), col("eid"))
    pre
      .join(t, "id")
      .join(e, "eid")
      .filter(Similarity.cosine(col("v"), col("ev")) >= threshold)
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
  }

  /** [[decontaminateSemantic]] with bits sized from the TRAIN corpus
    * (`Similarity.autoBits`) — per-table expected train bucket ≈
    * `targetBucket`, candidate work linear in train size.
    */
  def decontaminateSemanticAuto(train: DataFrame, trainId: String, trainVec: String,
      eval: DataFrame, evalId: String, evalVec: String,
      threshold: Double, targetBucket: Int = 64, tables: Int = 8): DataFrame =
    decontaminateSemantic(train, trainId, trainVec, eval, evalId, evalVec,
      threshold, Similarity.autoBits(train.count(), targetBucket), tables)

  /** SimHash near-dup pairs: 64-bit sketch per doc (custom codegen'd
    * expression), pairs within `maxHamming` bits. Pair search uses
    * generalized pigeonhole blocking (Manku et al., WWW'07): the sketch
    * splits into `m` blocks; a pair within `maxHamming` bits agrees
    * exactly on at least `r = m - maxHamming` blocks, so candidates are
    * pairs matching on all blocks of some r-subset — one equality join
    * on a hashed (combo, block-values) key per C(m, r) combination, no
    * cross join, exact Hamming verify after.
    *
    * Block-count trade-off — MEASURED at three decades (50k docs /
    * round 4; 500k / round 6 sf10; 5,000,000 / round 7 sf100 with
    * per-m candidate counts from `tools/SimhashProbe`, probe removed;
    * source at `9a1e704`):
    *
    *   - 50k docs: m=8 4.8 s < m=9 5.4 s < m=10 (~3× worse)
    *   - 500k docs: m=8 sub-linear (2.2×/decade), still the winner
    *   - 5M docs: m=9 148 s < m=8 431.6 s < m=10 996.4 s
    *
    * Two pricing facts decide the curve (both verified at the 5M
    * point). (1) Candidates are cheap: Catalyst pushes the Hamming
    * verify below the pair `distinct()`, so candidate pairs are
    * popcount-filtered inside the whole-stage-codegen'd join scan —
    * never materialized or shuffled. m=8's 4.17e11 candidates cost
    * 431 s (~30M rows/s/core); candidate count alone does NOT price
    * the plan. (2) Keyed rows are expensive: each of the C(m,r)
    * combo keys per doc is an exploded, hashed, sorted and shuffled
    * row — m=10's 120 keys/doc (600M rows at 5M docs, 7.5e9
    * candidates) measured 6.7× slower than m=9's 36 keys/doc
    * (3.2e10 candidates).
    *
    * Guidance: keep the default m = maxHamming+1 below ~1M docs per
    * partition-disjoint dedup domain; switch to m = maxHamming+2
    * around the million-doc decade (the m=8 → m=9 crossover is
    * measured-bracketed between 500k and 5M docs at 32 cores);
    * m = maxHamming+3 is counterproductive through at least 5M docs.
    * Run exact dedup first so identical docs collapse before pairing
    * (a 64-bit sketch caps blocking selectivity at 2^(r·64/m)
    * regardless); the quadratic term that eventually overtakes m=9
    * is its own in-codegen candidate scan (Σ C(bucket,2) over
    * ~14-bit keys), ×100 per 10× docs against the ~linear keyed
    * shuffle.
    *
    * Key hashing: the join key is xxhash64(combo, v_1..v_r); a hash
    * collision only admits an extra candidate, which the exact Hamming
    * filter then rejects — correctness is collision-proof, and the
    * result is identical for every valid `blocks` (pigeonhole keeps
    * candidate recall at 1.0; the Hamming filter fixes precision).
    */
  def simhashPairs(df: DataFrame, idCol: Column, text: Column, maxHamming: Int): DataFrame =
    simhashPairs(df, idCol, text, maxHamming, blocks = 0)

  /** Variant with explicit block count `blocks` (> maxHamming; <= 0
    * selects the default m = maxHamming+1).
    */
  def simhashPairs(df: DataFrame, idCol: Column, text: Column, maxHamming: Int,
      blocks: Int): DataFrame =
    hammingPairs(df, idCol, SimHash.simhash64(Text.tokens(text)), maxHamming, blocks)

  /** [[simhashPairs]] with the block count auto-sized from the corpus
    * per the MEASURED m=8→m=9 crossover (scaladoc above: m=mH+1 wins
    * through 500k docs, m=mH+2 wins at 5M — bracket midpoint 1M as
    * the switch). One count() action, the autoCap/autoBits pattern;
    * result is identical for every valid block count (pigeonhole
    * recall 1.0 + exact Hamming verify), so the knob is pure
    * performance — safe to auto-size.
    */
  def simhashPairsAuto(df: DataFrame, idCol: Column, text: Column,
      maxHamming: Int): DataFrame = {
    val m = if (df.count() <= 1000000L) maxHamming + 1 else maxHamming + 2
    simhashPairs(df, idCol, text, maxHamming, m)
  }

  /** Generalized-pigeonhole Hamming pair search over ANY 64-bit
    * signature column (Manku et al., WWW'07 — the machinery
    * [[simhashPairs]] runs, factored so other signature families can
    * use it: byte-level dHash for multimodal assets
    * ([[Multimodal.dhash]]), winnow-derived sketches, external
    * perceptual hashes carried in as data). A pair within `maxHamming`
    * bits agrees exactly on >= r = m − maxHamming of m blocks, so
    * candidates join on hashed r-block-subset keys and the exact
    * popcount verify runs inside the join scan — no cross join, exact
    * recall by construction.
    */
  def hammingPairs(df: DataFrame, idCol: Column, sigCol: Column, maxHamming: Int,
      blocks: Int = 0, sigBits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63, "maxHamming must be in [0, 62]")
    require(sigBits >= 2 && sigBits <= 64, s"sigBits must be in [2, 64], got $sigBits")
    val m = if (blocks > 0) blocks else maxHamming + 1
    require(m > maxHamming && m <= sigBits, s"blocks must be in (maxHamming, sigBits], got $m")
    val withSim = df.select(idCol.as("id"), sigCol.as("sim"))
    val keyed = withSim.select(col("id"), col("sim"),
      explode(sigBlockKeys(col("sim"), maxHamming, m, sigBits)).as("k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        SimHash.hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Edit-distance VERIFY tier over near-dup candidate pairs — the
    * highest-precision confirmation step after any candidate index
    * ([[jaccardPairsAuto]], [[minhashLshPairs]], [[simhashPairs]]):
    * joins each (i, j) pair back to its texts and keeps pairs within
    * `maxEdit` Levenshtein edits, with the exact distance in `edit`.
    *
    * BANDED by default: Spark's threshold form
    * `levenshtein(l, r, k)` runs the banded DP — O(min·k) time — and
    * returns -1 past the bound, which is all a verify TIER ever needs
    * (a pair 500 edits apart and one 5000 apart are both rejections;
    * the exact number only matters below the band). Measured
    * (tools/EditScale, min-of-2, forced evaluation): banded k=32 beats
    * the full DP 1.5× at sf1 (1.50 s vs 2.27 s, 2.6k pairs of ~300
    * chars) and 1.4× at sf10 (2.52 s vs 3.52 s, 500k docs / 25.6k
    * pairs — the row the quadratic metric previously skipped); the
    * gap is asymptotic in document LENGTH, not corpus size — at
    * 800/3200-char docs the band wins 1.6×/60× per pair
    * (tools/LevProbe, probe removed; source at `9a1e704`), which is the
    * regime real web documents live
    * in. Below the bound the banded distance IS the full metric
    * (spec-pinned), so swapping the default changes no kept row.
    *
    * Candidates only ever join texts by pair id — the quadratic unit
    * is bounded by the candidate generator, never N². `pairs`' first
    * two columns are the endpoints (the [[connectedComponents]]
    * convention); extra candidate columns pass through.
    */
  def editVerifyPairs(pairs: DataFrame, docs: DataFrame, idCol: Column,
      text: Column, maxEdit: Int): DataFrame = {
    require(maxEdit >= 0, s"maxEdit must be >= 0, got $maxEdit")
    val Array(ci, cj) = pairs.columns.take(2)
    val d = docs.select(idCol.as("__eid"), text.as("__etxt"))
    // ONE evaluation per pair, guaranteed by construction: the distance
    // computes inside a 1-element array, the -1 rejections drop via the
    // higher-order filter, and explode removes emptied rows. A plain
    // `withColumn("edit", lev).filter(edit >= 0)` triple-evaluates —
    // predicate pushdown substitutes the alias into the filter AND the
    // join condition (measured 3 levenshtein calls per pair in the
    // optimized plan, turning the band's win into an 8× loss at sf1).
    // The banded metric never exceeds the bound when >= 0, so x >= 0
    // is the complete keep-predicate.
    pairs
      .join(d.select(col("__eid").as(ci), col("__etxt").as("__ta")), ci)
      .join(d.select(col("__eid").as(cj), col("__etxt").as("__tb")), cj)
      .withColumn("edit", explode(filter(
        array(levenshtein(col("__ta"), col("__tb"), maxEdit).cast("long")),
        x => x >= 0L)))
      .drop("__ta", "__tb")
  }

  /** Full-metric edit distances for candidate pairs — [[editVerifyPairs]]
    * without the band: reports the exact distance for EVERY pair, no
    * bound. O(|a|·|b|) per pair; use only when the distances themselves
    * are the product (reporting, threshold calibration) — a verify
    * tier should use the banded default. (This form is what the
    * DuckDB gate oracles, since the unbounded metric is what both
    * engines define identically.)
    */
  def editDistancePairs(pairs: DataFrame, docs: DataFrame, idCol: Column,
      text: Column): DataFrame = {
    val Array(ci, cj) = pairs.columns.take(2)
    val d = docs.select(idCol.as("__eid"), text.as("__etxt"))
    pairs
      .join(d.select(col("__eid").as(ci), col("__etxt").as("__ta")), ci)
      .join(d.select(col("__eid").as(cj), col("__etxt").as("__tb")), cj)
      .withColumn("edit", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .drop("__ta", "__tb")
  }

  /** Strategy dispatcher for Jaccard pair search, encoding the
    * MEASURED decision matrix (SCALE.md): at near-dup thresholds
    * (>= 0.7) prefix filtering is both exact and the fastest skew-safe
    * path (its prefixes are short and hot shingles provably fall
    * outside them); below that, prefixes cover most of each doc and
    * stop filtering, so the auto-capped inverted index is the
    * production path (exact until the cap binds, and the cap's
    * semantics are documented at [[ngramJaccardPairs]]).
    */
  def jaccardPairsAuto(df: DataFrame, idCol: Column, text: Column, n: Int,
      threshold: Double, scope: CacheScope = CacheScope.unmanaged): DataFrame =
    if (threshold >= 0.7) ngramJaccardPairsPrefix(df, idCol, text, n, threshold, scope)
    else ngramJaccardPairsAuto(df, idCol, text, n, threshold, scope)

  /** The r-of-m pigeonhole block keys of a 64-bit signature as an
    * array column — the candidate-key scheme [[hammingPairs]] joins on
    * and [[graft.streaming.StreamingDedup.nearDupAssets]] keys its
    * state by (one shared construction, so batch and stream colocate
    * identically). Distributes the POPULATED `sigBits` over m blocks:
    * sigBits matters — blocking a 48-bit signature (dhash) over 64
    * positions leaves whole blocks constant-zero, and a constant
    * block key with r=1 is a full-corpus bucket; the candidate set
    * degenerates to N²/2 (measured: 17.4 s vs 1.3 s on 50k assets
    * before/after this parameter existed).
    */
  def sigBlockKeys(sigCol: Column, maxHamming: Int, blocks: Int,
      sigBits: Int): Column = {
    val m = blocks
    val r = m - maxHamming
    val widths = Array.tabulate(m)(c => sigBits / m + (if (c < sigBits % m) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blockCols = (0 until m).map { c =>
      val mask = if (widths(c) >= 64) -1L else (1L << widths(c)) - 1
      shiftrightunsigned(sigCol, offsets(c)).bitwiseAND(lit(mask))
    }
    val keyCols = (0 until m).combinations(r).zipWithIndex.map { case (sel, ci) =>
      xxhash64((lit(ci) +: sel.map(blockCols)): _*)
    }.toSeq
    array(keyCols: _*)
  }

  /** [[hammingPairs]] with exact-signature pre-grouping — identical
    * output, different scale envelope for DUP-HEAVY corpora (the
    * common case for perceptual hashes: most near-dup assets are
    * bit-exact re-encodes). The pigeonhole join runs over DISTINCT
    * signatures only, so k identical sigs contribute ONE keyed row
    * instead of k block-keyed rows and C(k,2) in-bucket candidates;
    * equal-sig pairs come from a plain equi-self-join on sig (hamming
    * 0 by construction) and cross-sig pairs expand the distinct-sig
    * pairs through two member joins — both output-bound.
    *
    * MEASURED trade (SCALE.md, 500k assets): on a LOW-multiplicity
    * corpus (distinct sigs ≈ N) this path costs 124 s vs 34.9 s plain
    * — it pays the same pigeonhole plus three joins and removes
    * nothing. It wins only when distinct sigs << N (re-encode-heavy
    * image corpora, viral-content crawls), where k identical sigs
    * collapse from C(k,2) in-bucket candidates to one keyed row.
    * Check `approx_count_distinct(sig)/count(*)` before choosing;
    * callers default to [[hammingPairs]].
    */
  def hammingPairsGrouped(df: DataFrame, idCol: Column, sigCol: Column,
      maxHamming: Int, blocks: Int = 0, sigBits: Int = 64): DataFrame = {
    val members = df.select(idCol.as("id"), sigCol.as("sig"))
    val distinctSigs = members.select(col("sig")).distinct()
    // the signature doubles as the pair id: distinct + orderable
    val crossSig = hammingPairs(distinctSigs, col("sig"), col("sig"),
      maxHamming, blocks, sigBits)
      .select(col("i").as("sa"), col("j").as("sb"), col("hamming"))
    val cross = crossSig
      .join(members.select(col("id").as("ia"), col("sig").as("sa")), Seq("sa"))
      .join(members.select(col("id").as("ib"), col("sig").as("sb")), Seq("sb"))
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("hamming"))
    val intra = members.as("a").join(members.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(intra)
  }
}
