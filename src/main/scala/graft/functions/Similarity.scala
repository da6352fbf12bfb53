package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (array<float>). Baseline: brute-force cosine top-k (expression-only,
  * codegen'd). Scale path: random-hyperplane LSH bucketing — candidates
  * share a sign-sketch bucket, cutting the candidate set by ~2^bits.
  */
object Similarity {

  /** Cosine similarity between two array<float>/array<double> columns,
    * computed in double with a left-to-right fold (deterministic).
    * Delegates to the fused codegen'd [[CosineSimExpr]]; the equivalent
    * zip_with+aggregate composition is CodegenFallback and ~10× slower
    * on brute-force scans.
    */
  def cosine(a: Column, b: Column): Column = CosineSim.cosine_sim(a, b)

  /** Brute-force cosine top-k: for each query vector the k most similar
    * corpus vectors (self excluded). Ties broken by corpus id for
    * determinism. O(|Q|·|C|) — the exactness baseline; at scale use
    * [[lshTopK]] or pre-filter by [[lshBucket]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String, qVec: String,
      cId: String, cVec: String, k: Int): DataFrame = {
    val joined = queries.select(col(qId).as("qid"), col(qVec).as("qv"))
      .crossJoin(corpus.select(col(cId).as("nid"), col(cVec).as("nv")))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** All pairs (i<j) with cosine ≥ threshold — brute force. Keeps the
    * similarity column (spec-only exactness/recall baseline).
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("i"), col(vecCol).as("vi"))
    val b = df.select(col(idCol).as("j"), col(vecCol).as("vj"))
    a.crossJoin(b).filter(col("i") < col("j"))
      .withColumn("sim", cosine(col("vi"), col("vj")))
      .filter(col("sim") >= threshold)
      .select(col("i"), col("j"), col("sim"))
  }

  /** Axis-aligned sign-bit LSH bucket: bit b = (v[b] >= 0), packed into
    * a long. For dense, roughly isotropic embedding spaces this is the
    * degenerate-but-effective member of the random-hyperplane family
    * (hyperplanes = coordinate axes). Two properties make it the gated
    * scale path: it is composed purely of built-in codegen'd expressions,
    * and it is exactly expressible in ANSI SQL — so the driver's DuckDB
    * oracle can replicate it bit-for-bit (the random-hyperplane
    * [[lshBucket]] hash math is not SQL-expressible and stays rows-only).
    */
  def signBucket(vec: Column, bits: Int): Column =
    (0 until bits).map { b =>
      when(element_at(vec, b + 1) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket-local exact top-k: rank by cosine within each bucket group.
    * The generic engine behind [[lshTopK]] and the sign-bucket gate path:
    * one shuffle on bucket, candidate set |C|/2^bits per query,
    * window-ranked — no cross join anywhere in the plan.
    */
  def bucketTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      bucket: Column): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"), bucket.as("bucket"))
    val a = bucketed.select(col("bucket"), col("id").as("qid"), col("v").as("qv"))
    val b = bucketed.select(col("bucket"), col("id").as("nid"), col("v").as("nv"))
    val joined = a.join(b, Seq("bucket")).filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    rankTopK(joined, k)
  }

  /** Candidate ranking via the map-side [[TopKByAgg]] — bit-identical
    * to the row_number window it replaced (same total double order,
    * same id tie-break; posexplode position + 1 = rank) but the
    * exchange carries <= tasks·k rows per query instead of EVERY
    * candidate: the window sort's spill at the third embeddings decade
    * (5.6e9 candidate rows, 66+ GB, disk death — SCALE.md) becomes a
    * partial-aggregated shuffle of k-entry buffers. Null-sim rows
    * (null input vectors) are excluded from the top-k — see [[TopK]]'s
    * null-score contract.
    *
    * The ranker OWNS its ObjectHashAggregate capacity: Spark's default
    * fallback threshold (128 distinct keys/task) silently reverts this
    * aggregate to the very candidate sort it replaces, so every call
    * raises the session threshold first ([[TopK.ensureHashAggCapacity]]
    * — raise-only, idempotent). A fresh default session gets the scale
    * behavior without knowing the conf exists.
    */
  private[functions] def rankTopK(joined: DataFrame, k: Int): DataFrame = {
    TopK.ensureHashAggCapacity(joined.sparkSession)
    joined.groupBy(col("qid"))
      .agg(TopK.topKBy(col("sim"), col("nid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("qid"), (col("p") + 1).cast("int").as("rank"),
        col("e.id").as("nid"), col("e.sim").as("sim"))
  }

  /** Same-bucket pairs (i<j) with cosine ≥ threshold under the
    * sign-bit bucket — the scale-safe replacement for [[cosinePairs]]:
    * the pair join shuffles on bucket only (Σ bucket² pairs, not N²).
    * Semantics are "similar AND bucket-colocated"; recall vs the exact
    * all-pairs baseline is measured in FunctionsSpec.
    */
  def bucketedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int): DataFrame =
    bucketedCosinePairs(df, idCol, vecCol, threshold, signBucket(col(vecCol), bits))

  /** Margin for the int8 verify prefilter: a candidate pair is only
    * pre-rejected when its int8-code cosine falls below
    * `threshold - Int8VerifyMargin`, so the margin must dominate the
    * quantization error |cos₈ − cos|. MEASURED envelope on the test
    * embeddings (tools/Int8Err, probe removed; source at `9a1e704`; 62k
    * pairs, dim 64): max 0.0057, avg
    * 0.0008, p99.9 0.0036 — 0.05 is ~9× the observed max. The error
    * shrinks with dimension for dense embeddings (per-element
    * round-to-nearest error ≤ maxabs/254 concentrates as 1/√dim in
    * the normalized dot), so the envelope is widest exactly where it
    * was measured. Exactness of the composed verify is additionally
    * spec-pinned against the float-only formulation (FunctionsSpec).
    */
  val Int8VerifyMargin = 0.05

  /** Exact-cosine verification of id-keyed candidate pairs with an
    * int8 prefilter — the shared verify tail of the pair family. The
    * candidates first join 4×-smaller int8 codes and anything with
    * int8 cosine < threshold − [[Int8VerifyMargin]] is rejected BEFORE
    * any float vector moves; survivors re-verify on floats at the
    * exact caller threshold, so the output is identical to the direct
    * float verify while the heavy exchange (candidate count × vector
    * payload) shrinks 4× and the float joins process only survivors.
    * This is the fix for the measured third-decade wall: the
    * fixed-core shuffle spill on ~0.5 GB float-vector verify joins
    * drove `decontam_sem_auto` to 21×/decade at 2M vectors (SCALE.md).
    */
  private[functions] def verifyCandidatesExact(data: DataFrame,
      cands: DataFrame, threshold: Double): DataFrame = {
    val codes = data.select(col("id"), Int8.int8Codes(col("v")).as("c"))
    val pre = cands
      .join(codes.select(col("id").as("i"), col("c").as("ci")), "i")
      .join(codes.select(col("id").as("j"), col("c").as("cj")), "j")
      .filter(Int8.int8Cosine(col("ci"), col("cj")) >= threshold - Int8VerifyMargin)
      .select(col("i"), col("j"))
    pre
      .join(data.select(col("id").as("i"), col("v").as("vi")), "i")
      .join(data.select(col("id").as("j"), col("v").as("vj")), "j")
      .filter(cosine(col("vi"), col("vj")) >= threshold)
      .select(col("i"), col("j"))
  }

  /** Generic bucketed pair engine: same-bucket pairs under any bucket
    * expression ([[signBucket]], [[lshBucket]], an IVF cell id…). The
    * bucket join itself runs on int8 CODES (4× smaller than the float
    * vectors it used to carry) with the margin prefilter inline, and
    * only surviving pairs touch the float relation — see
    * [[verifyCandidatesExact]] for the exactness argument.
    */
  def bucketedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucket: Column): DataFrame = {
    val coded = df.select(col(idCol).as("id"), bucket.as("bucket"),
      Int8.int8Codes(col(vecCol)).as("c"))
    val a = coded.select(col("bucket"), col("id").as("i"), col("c").as("ci"))
    val b = coded.select(col("bucket"), col("id").as("j"), col("c").as("cj"))
    val pre = a.join(b, Seq("bucket")).filter(col("i") < col("j"))
      .filter(Int8.int8Cosine(col("ci"), col("cj")) >= threshold - Int8VerifyMargin)
      .select(col("i"), col("j"))
    val data = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    pre
      .join(data.select(col("id").as("i"), col("v").as("vi")), "i")
      .join(data.select(col("id").as("j"), col("v").as("vj")), "j")
      .filter(cosine(col("vi"), col("vj")) >= threshold)
      .select(col("i"), col("j"))
  }

  /** Random-hyperplane sign sketch: bit b = sign(dot(v, h_b)) where
    * h_b is a deterministic pseudo-random ±1 hyperplane — no stored
    * model, reproducible across runs. Returns a `bits`-bit bucket id
    * (long). Fused codegen'd expression ([[LshBucketExpr]]); the
    * zip_with/aggregate composition evaluated interpreted.
    */
  def lshBucket(vec: Column, bits: Int): Column = LshBucket.lsh_bucket(vec, bits)

  /** `tables` independent random-hyperplane sketches in one fused pass
    * — array<long> of bucket ids. See [[LshSketchExpr]].
    */
  def lshSketch(vec: Column, bits: Int, tables: Int): Column =
    LshBucket.lsh_sketch(vec, bits, tables)

  /** OR-amplified LSH pairs: a pair is a candidate when it colocates in
    * ANY of `tables` independent `bits`-bit random-hyperplane tables,
    * then candidates are exact-cosine-verified at `threshold` (so
    * precision is 1.0 by construction — amplification only buys
    * recall: 1−(1−p^bits)^tables vs p^bits single-table, for
    * colocation probability p = 1−θ/π per hyperplane). The same
    * AND-then-OR construction as MinHash banding, on the cosine
    * sketch family. Candidate work is tables · Σ bucket², and the
    * per-table expected bucket is N/2^bits — size bits with
    * [[autoBits]] so it stays ≈ tables · N · targetBucket, linear
    * in N.
    */
  def bucketedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int, tables: Int): DataFrame = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = data.select(col("id"),
      posexplode(lshSketch(col("v"), bits, tables)).as(Seq("t", "bucket")))
    val cands = keyed.as("a").join(keyed.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    verifyCandidatesExact(data, cands, threshold)
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into `nlist`
    * cells via a few Lloyd iterations (deterministic seeding: the
    * lowest-id vectors), then for each query probe the `nprobe` nearest
    * cells and rank exactly inside them. Pure DataFrame ops — centroid
    * assignment is a broadcast join against `nlist` rows, so the
    * per-query candidate set shrinks by ~|C|/nlist × nprobe. The
    * standard coarse-quantization scale path next to [[lshTopK]].
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int, iterations: Int = 2): DataFrame =
    rankTopK(ivfCandidates(df, idCol, vecCol, nlist, nprobe, iterations), k)

  /** Centroid ranking shared by the IVF family: Lloyd-iterated
    * centroids (deterministic seeds = the `nlist` lowest-id vectors),
    * then every vector ranked against the final centroids — rn = 1 is
    * the cell ASSIGNMENT, rn ≤ nprobe the query PROBES, so one
    * relation serves both sides of the candidate join. Deliberately
    * NOT persisted: the branches recompute the ranking (N·nlist
    * cosines), which is negligible next to the N·(N/nlist)·nprobe
    * candidate join, whereas caching N·nprobe vector rows costs real
    * memory at corpus scale (and measured ~2 s of InMemoryRelation
    * overhead at bench scale). Re-tested at corpus-derived nlist where
    * the assignment is N^1.5 cosines: persisting measured NO better
    * there either (sf10, nlist=448: 72.0 s persisted vs 70.5 s not —
    * the per-id window rank, not the cosine recompute, dominates), so
    * the non-persist form stands at every scale.
    */
  private def ivfRanked(data: DataFrame, nlist: Int, nprobe: Int,
      iterations: Int): DataFrame = {
    val centroids = lloydCentroids(data, nlist, iterations)
    rankedFused(data, centroids, math.max(1, nprobe))
  }

  /** Rank each vector's `nprobe` best cells through the FUSED
    * [[IvfTopCellsExpr]] — one row per (vector, probed cell), never one
    * per (vector, centroid). The crossJoin+window formulation this
    * replaces materialized N·nlist vector-carrying rows into a sort:
    * 1.5 TB of spill at 2M vectors (disk-killed — SCALE.md); same
    * arithmetic, bit-identical output (the expression replicates the
    * cosine op order, Spark's NaN-greatest double order, and the
    * cid-ascending tie-break).
    */
  private def rankedFused(data: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val (cids, cents, dim) = collectCentroids(centroids)
    data.select(col("id"), col("v"),
        posexplode(IvfCells.top_cells(col("v"), cids, cents, dim, nprobe))
          .as(Seq("p", "c")))
      .select(col("id"), col("v"), col("c.cid").as("cid"),
        (col("p") + 1).cast("int").as("rn"))
  }

  /** Collect the nlist-row centroid relation to a flat matrix (the
    * PqModel "model fit" collect — √N rows, never data).
    */
  private def collectCentroids(c: DataFrame): (Array[Long], Array[Double], Int) = {
    val rows = c.select(col("cid").cast("long"),
        col("cv").cast("array<double>")).collect()
      .sortBy(_.getLong(0))
    require(rows.nonEmpty, "empty centroid relation")
    val dim = rows.head.getSeq[Double](1).length
    val cids = rows.map(_.getLong(0))
    val cents = new Array[Double](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      val v = rows(i).getSeq[Double](1)
      var j = 0
      while (j < dim) { cents(i * dim + j) = v(j); j += 1 }
      i += 1
    }
    (cids, cents, dim)
  }

  private def lloydCentroids(data: DataFrame, nlist: Int, iterations: Int): DataFrame = {
    require(nlist > 0, "nlist must be positive (use the *Auto variant to derive it)")
    var centroids = data.orderBy(col("id")).limit(nlist)
      .select(col("id").as("cid"), col("v").as("cv"))
    // Lloyd iterations: assign to nearest centroid (by cosine, fused
    // argmax — no row explosion), re-mean
    for (_ <- 0 until iterations) {
      val assigned = rankedFused(data, centroids, 1)
      centroids = centroidMeans(assigned)
    }
    centroids
  }

  /** PERSISTABLE IVF index — the "build once, serve many" split the
    * one-shot [[ivfTopK]] fuses: `ivfCentroids` + `ivfAssign` emit two
    * plain relations — (cid, cv) centroids and (id, v, cid) cell
    * assignments — that write to parquet (partitioned by cid for cell
    * pruning) and serve LATER JOBS' queries without re-clustering or
    * re-assigning the corpus. The sketch-suite contract applied to
    * ANN: at 100 TB the corpus assignment is the expensive pass
    * (N·nlist cosines), and re-running it per query batch is the
    * anti-pattern; incremental drops assign against the SAME frozen
    * centroids ([[ivfAssign]] on the drop alone), so cells stay
    * queryable mid-maintenance.
    */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      iterations: Int = 2): DataFrame =
    lloydCentroids(df.select(col(idCol).as("id"), col(vecCol).as("v")),
      nlist, iterations)

  /** Assign vectors to their nearest centroid cell: (id, v, cid).
    * Broadcast join against the nlist-row centroid relation.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    rankedFused(df.select(col(idCol).as("id"), col(vecCol).as("v")), centroids, 1)
      .select(col("id"), col("v"), col("cid"))

  /** Query a persisted IVF index: probe each query's `nprobe` nearest
    * centroids, rank exactly inside the probed cells. `cells` is the
    * [[ivfAssign]] relation (read back from parquet); self-matches
    * (qid = nid) are excluded.
    */
  def ivfQueryIndex(queries: DataFrame, qId: String, qVec: String,
      centroids: DataFrame, cells: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val probes = rankedFused(
        queries.select(col(qId).as("id"), col(qVec).as("v")),
        centroids, math.max(1, nprobe))
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    val joined = probes
      .join(cells.select(col("cid"), col("id").as("nid"), col("v").as("nv")), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    rankTopK(joined, k)
  }

  /** The candidate relation behind [[ivfTopK]] — one row per (query,
    * probed-cell member) pair with its exact cosine, BEFORE the top-k
    * cut: (qid, nid, sim). Exposed because mining operators
    * ([[hardNegatives]]) must filter the candidate set (drop known
    * positives) before ranking — an anti-join AFTER a top-k under-fills
    * k wherever positives rank high, which is exactly where positives
    * rank. Same plan as [[ivfTopK]] minus the ranking aggregate.
    */
  def ivfCandidates(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, nprobe: Int, iterations: Int = 2): DataFrame = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val ranked = ivfRanked(data, nlist, nprobe, iterations)
    val cells = ranked.filter(col("rn") === 1).select(col("id"), col("v"), col("cid"))
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    probes.join(cells.select(col("cid"), col("id").as("nid"), col("v").as("nv")), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("sim"))
  }

  /** Hard-negative mining for retrieval / contrastive training: from a
    * candidate relation `(qid, nid, sim)` produced by ANY retrieval
    * scorer ([[ivfCandidates]], a BM25 postings join, a hybrid), remove
    * the known positives and keep each query's k highest-scoring
    * survivors — the near-miss negatives that teach a ranker its
    * decision boundary (Karpukhin et al., DPR 2020: BM25/ANN-mined
    * negatives beat in-batch random ones). `positives`' first two
    * columns are the (query, positive) id pairs. The positive filter is
    * a key-only anti-join (nothing but (qid, nid) shuffles) and runs
    * before the rank for the under-fill reason on [[ivfCandidates]];
    * ranking collapses map-side through [[rankTopK]]. When positives
    * are DERIVED from a per-doc attribute (e.g. "same label"), joining
    * the k-row attribute relation to both endpoints and filtering is
    * the cheaper equivalent — this entry point takes the explicit-pair
    * form because real training positives are curated pairs.
    */
  def hardNegatives(candidates: DataFrame, positives: DataFrame, k: Int): DataFrame = {
    val Array(pq, pn) = positives.columns.take(2)
    rankTopK(
      candidates.select(col("qid"), col("nid"), col("sim"))
        .join(positives.select(col(pq).as("qid"), col(pn).as("nid")),
          Seq("qid", "nid"), "left_anti"),
      k)
  }

  /** Index-quality evaluation: per-query recall of an approximate
    * ranking against the exact one — `(qid, n_exact, n_hit)` in exact
    * integers (the recall fraction is n_hit / n_exact, left to the
    * reader so the relation stays hash-comparable cross-engine).
    * Inputs are two (qid, nid) rankings over the SAME query set; rows
    * of `exact` count toward n_exact, rows present in both toward
    * n_hit. The standard serving workflow measures a SAMPLED query set
    * (exact top-k via [[bruteForceTopK]] is |sample|·N — linear in the
    * corpus, constant in sample), then tunes nprobe/bits until the
    * sampled recall meets target; see the q_ann_recall gate for the
    * composed shape.
    */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("qid"), col("nid"))
      .join(approx.select(col("qid"), col("nid")).withColumn("hit", lit(1L)),
        Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))

  /** One step of the [[annRecall]] tuning workflow, closed into an
    * operator: walk nprobe upward (doubling) over a PERSISTED IVF
    * index until the micro-averaged sampled recall@k meets
    * `targetRecall`, and report the walk. The exact baseline is
    * computed ONCE on the sampled query set ([[bruteForceTopK]]
    * against the index cells — |sample|·N, linear in the corpus,
    * constant in sample size) and cached for the walk.
    *
    * The walk probes INCREMENTALLY: the nprobe=2^s candidate pool is
    * a superset of 2^(s−1)'s (the probed-cell list is a rank prefix),
    * so step s serves only the NEWLY probed cells — centroid ranks
    * (2^(s−1), 2^s] — and merges their candidates with the previous
    * step's k-bounded top-k through the same [[rankTopK]] order
    * (sim desc, nid asc). A candidate outside the running top-k can
    * never re-enter a later top-k (cells partition the corpus, so no
    * candidate repeats and the cumulative pool only grows), which
    * makes every step's merged ranking BIT-IDENTICAL to a full
    * re-serve at that nprobe (spec-pinned) while the total serving
    * work is ONE full serve at the final nprobe plus k-bounded merge
    * aggregates — the re-serve-per-step form cost
    * Σ_s (2^s/final) ≈ 2× the final serve in cell scans and was
    * measured at 170 s walk vs 66 s build at 200k vectors (SCALE.md);
    * the centroid ranking itself runs once at maxNprobe depth.
    *
    * Returns the FIRST nprobe meeting target (recall is monotone
    * non-decreasing in nprobe on a fixed index — more probed cells
    * is a superset candidate pool), or the maxNprobe step with
    * `achieved = false` when even that misses: the remaining gap is
    * assignment error, and the fix is more nlist/iterations or the
    * exact tier, not more probes. The per-step (nprobe, recall)
    * trace is kept for capacity planning. Driver-side state is one
    * Double per step — the collects are 1-row recall aggregates.
    */
  final case class NprobeTune(nprobe: Int, recall: Double,
      achieved: Boolean, trace: Seq[(Int, Double)])

  def ivfTuneNprobe(sampleQueries: DataFrame, qId: String, qVec: String,
      centroids: DataFrame, cells: DataFrame, k: Int,
      targetRecall: Double, maxNprobe: Int = 64): NprobeTune = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall in (0,1], got $targetRecall")
    require(maxNprobe >= 1, "maxNprobe must be >= 1")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val q = sampleQueries.select(col(qId).as("qid"), col(qVec).as("qv"))
      .persist(lvl)
    val exact = bruteForceTopK(q, cells, "qid", "qv", "id", "v", k)
      .persist(lvl)
    // centroid ranking once, to full walk depth — a sample×nlist
    // in-expression ranking, reused by every step's rank-window filter
    val probesAll = rankedFused(
        q.select(col("qid").as("id"), col("qv").as("v")),
        centroids, math.max(1, maxNprobe))
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"), col("rn"))
      .persist(lvl)
    val cellsSel = cells.select(col("cid"), col("id").as("nid"),
      col("v").as("nv"))
    def freshCandidates(lo: Int, hi: Int): DataFrame =
      probesAll.filter(col("rn") > lo && col("rn") <= hi)
        .join(cellsSel, Seq("cid"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("sim"))
    var topk: DataFrame = null
    try {
      var trace = Vector.empty[(Int, Double)]
      var prev = 0
      var nprobe = 1
      while (true) {
        val fresh = freshCandidates(prev, nprobe)
        val merged = (if (topk == null) rankTopK(fresh, k)
          else rankTopK(
            topk.select(col("qid"), col("nid"), col("sim"))
              .unionByName(fresh), k)).persist(lvl)
        val r = annRecall(merged, exact)
          .agg((sum(col("n_hit")).cast("double") /
            sum(col("n_exact")).cast("double")).as("r"))
          .collect()(0)
        val recall = if (r.isNullAt(0)) 1.0 else r.getDouble(0)
        if (topk != null) topk.unpersist(false)
        topk = merged
        trace :+= (nprobe, recall)
        if (recall >= targetRecall || nprobe >= maxNprobe)
          return NprobeTune(nprobe, recall, recall >= targetRecall, trace)
        prev = nprobe
        nprobe = math.min(nprobe * 2, maxNprobe)
      }
      sys.error("unreachable")
    } finally {
      q.unpersist(false); exact.unpersist(false)
      probesAll.unpersist(false)
      if (topk != null) topk.unpersist(false)
      ()
    }
  }

  /** Element-wise centroid means: posexplode vector positions, average
    * per (cell, position), re-collect position-ordered — fully
    * relational, shuffles only (cid, pos) pairs.
    */
  private def centroidMeans(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos")).agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), transform(col("pm"), s => s.getField("m")).as("cv"))

  /** LSH-bucketed ANN: exact cosine ranking within each bucket. Trades
    * recall for a |C|/2^bits candidate set; bucket-local exact rank.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int, bits: Int): DataFrame =
    bucketTopK(df, idCol, vecCol, k, lshBucket(col(vecCol), bits))

  /** Candidate work for every bucketed/cell-based ANN here is
    * ~N·(N/cells)·probes cosines — LINEAR only while `cells` grows with
    * the corpus. Fixed small parameters (fine at gate scale, pinned
    * there so the DuckDB oracle stays tractable) degrade quadratically:
    * at a 10× corpus step the nlist=16 IVF gate measured ~15× wall.
    * These variants derive the partition count from the corpus the
    * standard way — one cheap count() against cost quadratic in its
    * absence:
    *   - IVF: nlist ≈ √N (the classic IVF sizing rule — balances
    *     N·nlist assignment cosines against N·(N/nlist)·nprobe
    *     candidate cosines, both √N·N at the optimum), nlist ≥ 16.
    *   - LSH: bits ≈ log2(N / targetBucket) so expected bucket
    *     occupancy stays ≈ targetBucket regardless of N, bits in
    *     [4, 24] (a 64-entry bucket keeps the in-bucket exact rank
    *     cheap while bounding recall loss for near neighbors).
    */
  def ivfTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, iterations: Int = 2): DataFrame = {
    val nlist = math.max(16, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    ivfTopK(df, idCol, vecCol, k, nlist, nprobe, iterations)
  }

  /** See [[ivfTopKAuto]]. */
  def lshTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      targetBucket: Int = 64): DataFrame =
    lshTopK(df, idCol, vecCol, k, autoBits(df.count(), targetBucket))

  /** bits ≈ log2(N / targetBucket), clamped to [4, 24] — expected
    * bucket occupancy stays ≈ targetBucket regardless of N.
    */
  def autoBits(n: Long, targetBucket: Int): Int =
    math.min(24, math.max(4,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2)).toInt))

  /** The pair-path analogue of [[lshTopKAuto]] — closes the last
    * pinned-parameter quadratic: with fixed `bits`, candidate work is
    * Σ bucket² ≈ N²/2^bits; with bits = log2(N/targetBucket) it is
    * ≈ tables·N·targetBucket, linear in N. Buckets come from the
    * random-hyperplane sketch family (not [[signBucket]]) because auto
    * bits routinely exceed the leading-coordinate count a sign sketch
    * can use, and random hyperplanes decorrelate from axis-aligned
    * structure in the embedding space. OR-amplification over `tables`
    * tables buys back the recall a single log2(N)-bit table gives up
    * (sf1 measured: 1 table = 0.011 overall recall at threshold 0.3;
    * see tools/AnnScale for the amplified + similarity-stratified
    * numbers). The `q_embed_dedup` gate keeps fixed bits=4 through
    * [[signBucket]] so the DuckDB oracle stays exactly
    * SQL-expressible; this is the production path.
    */
  def bucketedCosinePairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Int = 64, tables: Int = 8): DataFrame =
    bucketedCosinePairs(df, idCol, vecCol, threshold,
      autoBits(df.count(), targetBucket), tables)

  /** PQ-compressed bucket-local top-k (ADC): the [[bucketTopK]] shape
    * with the corpus side carrying `model.m`-byte PQ codes instead of
    * `dim`-float vectors, and the per-candidate score `m` LUT lookups
    * instead of `dim` multiplies ([[Pq]], Jégou et al. TPAMI'11). The
    * asymmetric split is deliberate: the CORPUS relation (the big side
    * — what shuffles on bucket and would be cached in a serving
    * layout) is (bucket, id, m bytes), 32× smaller than raw vectors at
    * dim=64/m=8; the QUERY side keeps its raw vector and the fused
    * [[AdcScoreExpr]] dots it against the code's centroids per pair
    * (NOT a materialized LUT column: Spark's row shuffle copies a
    * 16 KB ksub=256 LUT once per joined candidate — measured 29×
    * slower than this form at sf1; [[Pq.pq_lut]] stays for genuinely
    * amortized mapPartitions serving scans).
    * Metric is inner product — normalize vectors upstream for cosine.
    * Any bucket expression composes: [[signBucket]]/[[lshBucket]] for
    * LSH-PQ, an IVF cell id for IVF-PQ (what a billion-vector layout
    * runs), or `lit(0L)` for an exhaustive ADC scan (the in-cell
    * baseline).
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      model: PqModel, bucket: Column): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"), bucket.as("bucket"))
    val corpus = bucketed.select(col("bucket"), col("id").as("nid"),
      Pq.pq_encode(col("v"), model).as("codes"))
    val queries = bucketed.select(col("bucket"), col("id").as("qid"), col("v").as("qv"))
    val joined = queries.join(corpus, Seq("bucket")).filter(col("qid") =!= col("nid"))
      .withColumn("sim", Pq.adc_score(col("qv"), col("codes"), model))
    rankTopK(joined, k).select(col("qid"), col("rank"), col("nid"),
      col("sim").as("adc"))
  }

  /** [[pqTopK]] with a trained model and corpus-derived LSH bucketing:
    * trains per-subspace codebooks on a bounded deterministic sample
    * ([[PqModel.train]]), buckets by [[lshBucket]] at [[autoBits]].
    */
  def pqTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 256, targetBucket: Int = 64): DataFrame = {
    val model = PqModel.train(df, col(idCol), col(vecCol), m, ksub)
    pqTopK(df, idCol, vecCol, k, model,
      lshBucket(col(vecCol), autoBits(df.count(), targetBucket)))
  }

  /** IVF-PQ: the coarse IVF quantizer of [[ivfTopK]] over the
    * compressed candidate scoring of [[pqTopK]] — the layout a
    * billion-vector corpus actually runs (Jégou et al. TPAMI'11,
    * IVFADC). [[pqTopK]]'s symmetric bucket join cannot express
    * nprobe > 1 (a row would need to sit in several buckets), so this
    * reuses [[ivfRanked]]'s asymmetric split: the CORPUS side is each
    * vector's rn = 1 cell carrying only the m-byte PQ code, the QUERY
    * side probes its nprobe nearest cells with the raw vector, and the
    * fused [[AdcScoreExpr]] scores each candidate in-codegen. Relative
    * to [[ivfTopK]] the candidate join shuffles (cid, nid, m bytes)
    * instead of (cid, nid, dim floats) — 32× smaller at dim=64/m=8,
    * the term that dominates bytes-at-scale since candidate rows
    * outnumber corpus rows by nprobe·(N/nlist). Metric is inner
    * product (ADC) while cell assignment is cosine — normalize
    * upstream for pure-cosine semantics.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      model: PqModel, nlist: Int, nprobe: Int, iterations: Int = 2): DataFrame = {
    val data = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val ranked = ivfRanked(data, nlist, nprobe, iterations)
    val cells = ranked.filter(col("rn") === 1)
      .select(col("cid"), col("id").as("nid"), Pq.pq_encode(col("v"), model).as("codes"))
    val probes = ranked.filter(col("rn") <= nprobe)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))

    val joined = probes.join(cells, Seq("cid")).filter(col("qid") =!= col("nid"))
      .withColumn("sim", Pq.adc_score(col("qv"), col("codes"), model))
    rankTopK(joined, k).select(col("qid"), col("rank"), col("nid"),
      col("sim").as("adc"))
  }

  /** PERSISTABLE IVF-PQ index — [[ivfCentroids]]/[[ivfAssign]]'s
    * build-once/serve-many contract extended to the compressed tier
    * (IVFADC serving): the cell relation carries m-BYTE CODES instead
    * of dim-float vectors, so the stored index is 32× smaller at
    * dim=64/m=8 — the difference between a billion-vector corpus
    * fitting cluster memory or not. Persist `centroids`,
    * `Pq.toDF(model)`, and this relation (partitioned by cid);
    * incremental drops encode against the SAME frozen model +
    * centroids, so stored codes never invalidate.
    */
  def ivfPqAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, model: PqModel): DataFrame =
    rankedFused(df.select(col(idCol).as("id"), col(vecCol).as("v")), centroids, 1)
      .select(col("cid"), col("id"), Pq.pq_encode(col("v"), model).as("codes"))

  /** Query a persisted IVF-PQ index ([[ivfPqAssign]] cells + the
    * [[Pq.fromDF]] model): probe nprobe nearest centroids with the raw
    * query vector, ADC-score the candidate codes in-codegen, rank via
    * the map-side top-k. Bit-identical to the one-shot [[ivfPqTopK]]
    * on the same centroids/model (spec-pinned).
    */
  def ivfPqQueryIndex(queries: DataFrame, qId: String, qVec: String,
      centroids: DataFrame, cells: DataFrame, model: PqModel,
      nprobe: Int, k: Int): DataFrame = {
    val probes = rankedFused(
        queries.select(col(qId).as("id"), col(qVec).as("v")),
        centroids, math.max(1, nprobe))
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    val joined = probes
      .join(cells.select(col("cid"), col("id").as("nid"), col("codes")), Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", Pq.adc_score(col("qv"), col("codes"), model))
    rankTopK(joined, k).select(col("qid"), col("rank"), col("nid"),
      col("sim").as("adc"))
  }

  /** [[ivfPqTopK]] with the corpus-derived sizing of [[ivfTopKAuto]]
    * (nlist ≈ √N — the same balance holds: ADC scoring is cheaper per
    * candidate but candidate COUNT still scales N·nprobe/nlist) and a
    * codebook trained on a bounded sample ([[PqModel.train]]).
    */
  def ivfPqTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 256, nprobe: Int = 2,
      iterations: Int = 2): DataFrame = {
    val nlist = math.max(16, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val model = PqModel.train(df, col(idCol), col(vecCol), m, ksub)
    ivfPqTopK(df, idCol, vecCol, k, model, nlist, nprobe, iterations)
  }
}
