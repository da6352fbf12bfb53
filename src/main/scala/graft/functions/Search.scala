package graft.functions

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval (Okapi BM25 over an inverted index) and hybrid
  * rank fusion — the keyword-search face of the retrieval family,
  * complementing the ANN rankers in [[Similarity]] (vector search) the
  * way a production corpus-exploration stack pairs them: BM25 for
  * exact-term recall, ANN for semantic recall, reciprocal-rank fusion
  * (RRF) to combine the two rankings without score calibration.
  *
  * Index layout is RELATIONAL (the sketch-suite/IVF contract applied
  * to text): three parquet-persistable relations —
  *   - postings `(term, doc_id, tf, dl)` — doc length DENORMALIZED
  *     into the posting row, so serving never joins a corpus-scale
  *     doc-length table (the join would shuffle N rows per query
  *     batch; the denormalized column costs one long per posting and
  *     is filtered down to query-term rows before anything moves)
  *   - lexicon `(term, df)` — vocabulary-sized
  *   - 2 scalar stats (nDocs, totalTokens) — the bounded driver fit
  * Build once, serve many: queries join the index, never re-tokenize
  * the corpus. At 100 TB the index build is one explode + two hash
  * aggregations (shuffle keyed (term, doc) then term); serving
  * broadcasts the QUERY side (a query batch's term list is KB-scale)
  * so the corpus-side postings never shuffle — candidates collapse
  * map-side through the same [[TopKByAgg]] the ANN rankers use.
  *
  * The reference has no retrieval operator (bytewax is a dataflow
  * engine); BM25 is Robertson & Walker SIGIR'94 / the Lucene
  * practical form, RRF is Cormack et al. SIGIR'09.
  */
object Search {

  /** The relational inverted index. `avgdl` derives from the two
    * scalar stats; both are captured at build time (one 2-scalar
    * aggregate — bounded model fit, the √N-centroid precedent).
    * `lowercase` is the ANALYZER FLAG and lives in the index, not the
    * call site: an index whose postings were case-folded must fold
    * its queries too, and persisting the flag beside the stats makes
    * an analyzer mismatch between build time and serve time
    * impossible by construction. `docs` is the `(doc_id, dl)` corpus
    * membership relation — EVERY member including posting-less empty
    * docs (they count in BM25's N and the avgdl denominator), which is
    * what lets [[updateIndex]] adjust the scalars exactly under CDC.
    */
  final class SearchIndex(val postings: DataFrame, val lexicon: DataFrame,
      val docs: DataFrame, statsFn: () => (Long, Long),
      val lowercase: Boolean = false) {
    /** (nDocs, totalTokens), computed AT MOST ONCE and only when a
      * consumer actually needs the scalars (bm25 scoring, writeIndex,
      * the CDC scalar adjustments). The match-face consumers
      * ([[matchCounts]], [[phraseDocs]]…) never touch them, so an
      * index built only to serve those never pays the full-corpus
      * stats aggregation the eager field ran on every build (r16:
      * one whole tokenize pass per gate on the q_search_bm25/update/
      * rrf paths).
      */
    lazy val stats: (Long, Long) = statsFn()
    def nDocs: Long = stats._1
    def totalTokens: Long = stats._2
    def avgdl: Double = totalTokens.toDouble / math.max(nDocs, 1L).toDouble
    def copy(postings: DataFrame = this.postings,
        lexicon: DataFrame = this.lexicon, docs: DataFrame = this.docs,
        lowercase: Boolean = this.lowercase): SearchIndex =
      new SearchIndex(postings, lexicon, docs, () => stats, lowercase)
  }

  object SearchIndex {
    /** Eager-scalar constructor (the pre-r16 shape), for callers that
      * already hold the stats. */
    def apply(postings: DataFrame, lexicon: DataFrame, docs: DataFrame,
        nDocs: Long, totalTokens: Long, lowercase: Boolean = false): SearchIndex =
      new SearchIndex(postings, lexicon, docs, () => (nDocs, totalTokens),
        lowercase)
  }

  /** Build the inverted index over `(idCol, textCol)`. Tokenization is
    * [[Text.tokens]] (maximal non-whitespace runs — the corpus-wide
    * convention every text operator here shares). Docs with null/empty
    * text produce no postings but still count in `nDocs` and the
    * `avgdl` denominator (they are real corpus members; BM25's N is
    * corpus size, not posting-bearing size).
    */
  def buildIndex(docs: DataFrame, idCol: Column, textCol: Column,
      lowercase: Boolean = false): SearchIndex = {
    val src = if (lowercase) lower(textCol) else textCol
    val toks = docs.select(idCol.cast("long").as("doc_id"),
      Text.tokens(src).as("w"))
    val postings = toks
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      // dl is functionally dependent on doc_id — carrying it through
      // the grouping key is free and keeps the posting denormalized
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val lexicon = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val members = toks.select(col("doc_id"),
      coalesce(size(col("w")), lit(0)).cast("long").as("dl"))
    // scalars LAZY (one full tokenize pass) — see SearchIndex.stats
    new SearchIndex(postings, lexicon, members, () => {
      val stats = toks.agg(count(lit(1)).as("n"),
        sum(coalesce(size(col("w")), lit(0)).cast("long")).as("t")).head()
      (stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1))
    }, lowercase)
  }

  /** Merge indexes over DOC-DISJOINT corpora (the incremental-build
    * path: index the new drop alone, merge relations — never re-index
    * the old corpus). Postings union as-is (doc-disjoint means no
    * posting collides); df and the scalar stats are additive.
    */
  def mergeIndexes(a: SearchIndex, b: SearchIndex): SearchIndex = {
    require(a.lowercase == b.lowercase,
      s"analyzer mismatch: cannot merge a lowercase=${a.lowercase} index " +
        s"with a lowercase=${b.lowercase} one (their postings disagree on " +
        "term identity; rebuild one side with the other's analyzer)")
    new SearchIndex(
      a.postings.unionByName(b.postings),
      a.lexicon.unionByName(b.lexicon)
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      a.docs.unionByName(b.docs),
      () => (a.nDocs + b.nDocs, a.totalTokens + b.totalTokens), a.lowercase)
  }

  /** Persist the index: postings hash-partitioned on term and sorted
    * by (term, doc_id) within partitions, so a term-selective serve
    * prunes parquet row groups via min/max stats and dictionary
    * filters ([[readIndex]]'s pushdown path); lexicon beside it; the
    * two scalars as a 1-row relation.
    */
  def writeIndex(index: SearchIndex, dir: String): Unit = {
    index.postings
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    index.lexicon.write.mode("overwrite").parquet(s"$dir/lexicon")
    index.docs.write.mode("overwrite").parquet(s"$dir/docs")
    val spark = index.postings.sparkSession
    import spark.implicits._
    Seq((index.nDocs, index.totalTokens, index.lowercase))
      .toDF("n_docs", "total_tokens", "lowercase")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Read a persisted index back as serve-ready relations. The analyzer
    * flag rides in the stats relation (absent in pre-flag indexes →
    * false, which was their build-time behavior); a pre-docs index
    * reconstructs membership from the postings (losing only
    * posting-less empty docs — their contribution to the persisted
    * scalars is intact; [[updateIndex]] precision on replacing an
    * EMPTY doc is all that degrades).
    */
  def readIndex(spark: SparkSession, dir: String): SearchIndex = {
    val statsDf = spark.read.parquet(s"$dir/stats")
    val stats = statsDf.head()
    val lc = statsDf.columns.contains("lowercase") &&
      stats.getAs[Boolean]("lowercase")
    val postings = spark.read.parquet(s"$dir/postings")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val docs =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/docs")))
        spark.read.parquet(s"$dir/docs")
      else postings.select(col("doc_id"), col("dl")).distinct()
    SearchIndex(postings, spark.read.parquet(s"$dir/lexicon"), docs,
      stats.getAs[Long]("n_docs"), stats.getAs[Long]("total_tokens"), lc)
  }

  /** Apply a CDC change batch to the index WITHOUT re-indexing the
    * corpus — the retrieval face of [[Maintain.upsert]]: changed ids'
    * postings drop (one postings scan against the broadcast changed-id
    * set — unchanged docs are never re-tokenized), the surviving
    * change docs index alone (change-batch-sized work), document
    * frequencies adjust by exact ±counts (vocabulary-sized merge), and
    * the scalar stats move by the departed members' exact count/token
    * mass (one 2-scalar aggregate over the docs relation — the bounded
    * model-fit precedent). Output ≡ [[buildIndex]] over the upserted
    * corpus; the gate pins that equivalence differentially.
    */
  def updateIndex(index: SearchIndex, changes: DataFrame, idCol: Column,
      textCol: Column, deleteCol: Option[String] = None): SearchIndex = {
    val ids = changes.select(idCol.cast("long").as("doc_id")).distinct()
    val keep = deleteCol
      .map(d => changes.filter(!coalesce(col(d), lit(false))))
      .getOrElse(changes)
    val fresh = buildIndex(keep, idCol, textCol, index.lowercase)
    val postings2 = index.postings.join(ids, Seq("doc_id"), "left_anti")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .unionByName(fresh.postings)
    val docs2 = index.docs.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(fresh.docs)
    val (lexicon2, depFn) = adjustedDerived(index, ids, fresh)
    new SearchIndex(postings2, lexicon2, docs2, () => {
      val (depN, depT) = depFn()
      (index.nDocs - depN + fresh.nDocs,
        index.totalTokens - depT + fresh.totalTokens)
    }, index.lowercase)
  }

  /** The derived state an update must adjust exactly: the ±df lexicon
    * merge and the departed members' (count, token mass). Shared by
    * [[updateIndex]] and [[appendIndexUpdate]] — one postings scan,
    * one docs scan, both against the broadcast changed-id set.
    */
  private def adjustedDerived(index: SearchIndex, ids: DataFrame,
      fresh: SearchIndex): (DataFrame, () => (Long, Long)) = {
    val removed = index.postings.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("__r"))
    val lexicon2 = index.lexicon
      .join(removed, Seq("term"), "full_outer")
      .join(fresh.lexicon.withColumnRenamed("df", "__a"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) - coalesce(col("__r"), lit(0L)) +
          coalesce(col("__a"), lit(0L))).as("df"))
      .filter(col("df") > 0L)
    // the departed-member scalars ride the lazy-stats contract: the
    // docs scan runs only when a consumer forces the index scalars
    (lexicon2, () => {
      val dep = index.docs.join(ids, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
      (dep.getLong(0), if (dep.isNullAt(1)) 0L else dep.getLong(1))
    })
  }

  /** Merge-on-read index maintenance — the log-structured completion
    * of [[updateIndex]]: a one-shot update materializes a full new
    * postings relation (measured: the REWRITE bounds the win at ~1.4×
    * whatever the update saves in compute — tools/IndexUpdateScale),
    * so the production loop instead APPENDS each update's fresh
    * postings/docs under a version and tombstones its changed ids;
    * readers resolve per doc to the rows of its LATEST touching
    * version (base = version 0), and only the vocabulary-sized lexicon
    * and the 1-row stats rewrite eagerly per update. [[Maintain]]'s
    * LSM shape applied to the index: ingest cost is change-batch-sized
    * + one resolved-postings scan for the exact df adjustments,
    * nothing corpus-sized rewrites until [[compactIndex]] folds.
    */
  def appendIndexUpdate(spark: SparkSession, dir: String, changes: DataFrame,
      idCol: Column, textCol: Column, version: Long,
      deleteCol: Option[String] = None): Unit =
      Rounds.run(changes, "appendIndexUpdate") { rounds =>
    require(version >= 1L, s"appendIndexUpdate: version must be >= 1, got $version")
    val current = readIndexMor(spark, dir)
    val ids = changes.select(idCol.cast("long").as("doc_id")).distinct()
    val keep = deleteCol
      .map(d => changes.filter(!coalesce(col(d), lit(false))))
      .getOrElse(changes)
    // the change batch tokenizes more than once below (postings log,
    // docs log, lexicon merge) — pin it for the ingest's duration
    val fresh = buildIndex(rounds.pin(keep), idCol, textCol, current.lowercase)
    fresh.postings.withColumn("__v", lit(version))
      .write.mode("append").parquet(s"$dir/postings_log")
    fresh.docs.withColumn("__v", lit(version))
      .write.mode("append").parquet(s"$dir/docs_log")
    ids.withColumn("__v", lit(version))
      .write.mode("append").parquet(s"$dir/tombstones")
    // only the vocab-sized lexicon + 1-row stats rewrite eagerly
    // (delete+rename swap; derived state, rebuildable from the logs)
    val (lexicon2, depFn) = adjustedDerived(current, ids, fresh)
    val (depN, depT) = depFn()
    lexicon2.write.mode("overwrite").parquet(s"$dir/lexicon_next")
    swapDir(spark, dir, "lexicon_next", "lexicon")
    import spark.implicits._
    Seq((current.nDocs - depN + fresh.nDocs,
        current.totalTokens - depT + fresh.totalTokens, current.lowercase))
      .toDF("n_docs", "total_tokens", "lowercase")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats_next")
    swapDir(spark, dir, "stats_next", "stats")
  }

  private def swapDir(spark: SparkSession, dir: String, from: String, to: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = new org.apache.hadoop.fs.Path(s"$dir/$from")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/$to")
    fs.delete(dst, true)
    fs.rename(src, dst)
  }

  /** Resolve the merge-on-read index: per doc, the postings/docs rows
    * of its latest touching version win (base rows are version 0; a
    * deleted doc's latest version wrote no rows). The resolution is a
    * PLAN — one left join against the change-history-sized
    * `(doc_id, max version)` relation (broadcastable for any sane log)
    * — so term pushdown still reaches both parquet legs.
    */
  def readIndexMor(spark: SparkSession, dir: String): SearchIndex = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p"))
    val base = readIndex(spark, dir)
    if (!exists("tombstones")) return base
    val tomb = spark.read.parquet(s"$dir/tombstones")
      .groupBy(col("doc_id")).agg(max(col("__v")).as("__vmax"))
    def resolve(baseRel: DataFrame, logPath: String, cols: Seq[String]): DataFrame = {
      val all = baseRel.withColumn("__v", lit(0L)).unionByName(
        if (exists(logPath)) spark.read.parquet(s"$dir/$logPath")
        else baseRel.withColumn("__v", lit(0L)).filter(lit(false)))
      all.join(broadcast(tomb), Seq("doc_id"), "left")
        .filter(col("__vmax").isNull || col("__v") === col("__vmax"))
        .select(cols.map(col): _*)
    }
    base.copy(
      postings = resolve(base.postings, "postings_log",
        Seq("term", "doc_id", "tf", "dl")),
      docs = resolve(base.docs, "docs_log", Seq("doc_id", "dl")))
  }

  /** Fold the log into a fresh full index at `outDir` ([[writeIndex]]
    * layout, no logs). The caller swaps dirs atomically — racing
    * readers keep resolving the old base ⊎ log ([[Maintain
    * .compactSnapshot]] contract).
    */
  def compactIndex(spark: SparkSession, dir: String, outDir: String): Unit = {
    require(new org.apache.hadoop.fs.Path(dir) !=
      new org.apache.hadoop.fs.Path(outDir), "compactIndex: outDir must differ")
    writeIndex(readIndexMor(spark, dir), outDir)
  }

  /** Per-query DISTINCT terms — `(qid, term)`. Query tf is dropped
    * (the short-query convention: Robertson's k3 saturation at qtf=1),
    * which also makes the match face exact-count semantics. `lowercase`
    * follows the INDEX's analyzer flag — never a caller choice.
    */
  private def queryTerms(queries: DataFrame, qidCol: Column,
      qtextCol: Column, lowercase: Boolean): DataFrame = {
    val src = if (lowercase) lower(qtextCol) else qtextCol
    queries.select(qidCol.cast("long").as("qid"),
      explode(array_distinct(Text.tokens(src))).as("term"))
  }

  /** The BM25 per-(term, doc) contribution:
    * `idf(df) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with the
    * Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))` (always ≥ 0, so a
    * stop-word can never push a score negative).
    */
  def bm25Term(tf: Column, df: Column, dl: Column, nDocs: Long,
      avgdl: Double, k1: Double, b: Double): Column = {
    val dfd = df.cast("double")
    val tfd = tf.cast("double")
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - dfd + lit(0.5)) / (dfd + lit(0.5)))
    idf * (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * dl.cast("double") / lit(avgdl)))
  }

  /** BM25 top-k: `(qid, rank, doc_id, score)`, rank 1 = best, ties by
    * ascending doc_id. Physical shape (the scale contract): the query
    * batch's (qid, term, df) relation BROADCASTS into the postings
    * scan — the corpus side never shuffles whole; only postings whose
    * term appears in some query survive the join. One exchange keyed
    * (qid, doc_id) sums the term contributions (partial map-side), and
    * the final ranking collapses through the map-side [[TopKByAgg]]
    * (≤ tasks·k rows per query cross the last exchange, the ANN-ranker
    * shape — never a window sort over every candidate).
    */
  def bm25TopK(index: SearchIndex, queries: DataFrame, qidCol: Column,
      qtextCol: Column, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Similarity.rankTopK(bm25Scores(index, queries, qidCol, qtextCol, k1, b), k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid").as("doc_id"), col("sim").as("score"))

  /** The scored candidate relation behind [[bm25TopK]] — every (qid,
    * nid, sim) with at least one shared term, BEFORE the top-k cut.
    * This is the lexical face of `Similarity.ivfCandidates`: feed it
    * to `Similarity.hardNegatives` for BM25-mined training negatives
    * (the original DPR recipe — Karpukhin et al. 2020 mined hard
    * negatives from BM25, not from the dense index), or rank it
    * directly via `rankCandidates`.
    */
  def bm25Scores(index: SearchIndex, queries: DataFrame, qidCol: Column,
      qtextCol: Column, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, b in [0,1]; got k1=$k1 b=$b")
    val qt = queryTerms(queries, qidCol, qtextCol, index.lowercase)
    val qdf = index.lexicon.join(broadcast(qt), Seq("term"))
    index.postings.join(broadcast(qdf), Seq("term"))
      .withColumn("s", bm25Term(col("tf"), col("df"), col("dl"),
        index.nDocs, index.avgdl, k1, b))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s")).as("sim"))
      .select(col("qid"), col("doc_id").as("nid"), col("sim"))
  }

  /** Serve BM25 from a PERSISTED index with term pushdown: when the
    * query batch's distinct term count is ≤ `pushdownMaxTerms`, the
    * postings scan is filtered with an `IN (terms…)` predicate that
    * reaches parquet (`PushedFilters`) — with [[writeIndex]]'s
    * (term-partitioned, term-sorted) layout the scan skips every row
    * group containing no query term, the difference between reading
    * the full 100 TB postings relation and the few GB a query batch
    * touches. The term collect is bounded by the query batch (serving
    * batches are small by nature; past the cap it falls back to the
    * full-scan join, which is the right plan for an analytical
    * all-queries run anyway).
    */
  def bm25TopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: Column, qtextCol: Column, k: Int, k1: Double = 1.2,
      b: Double = 0.75, pushdownMaxTerms: Int = 4096): DataFrame = {
    val index = readIndex(spark, dir)
    val qt = queryTerms(queries, qidCol, qtextCol, index.lowercase)
    val distinctTerms =
      qt.select(col("term")).distinct().limit(pushdownMaxTerms + 1).collect()
    val pruned =
      if (distinctTerms.length <= pushdownMaxTerms) {
        val terms = distinctTerms.map(_.getString(0)).toSeq
        index.copy(postings = index.postings.filter(col("term").isin(terms: _*)))
      } else index
    bm25TopK(pruned, queries, qidCol, qtextCol, k, k1, b)
  }

  /** The exact-integer MATCH FACE of BM25 — per (query, doc): how many
    * distinct query terms matched, their tf and df sums, and the doc
    * length. This is (a) the audit face a pipeline owner reads to see
    * WHY a doc ranked ("matched 3 of 4 terms, all high-df"), and (b)
    * the differential-gate face: every posting join, df lookup, and dl
    * is pinned in exact integers while the `ln()` of the final score
    * stays spec-side (libm last-ulp divergence — the q_text_lm /
    * q_text_tfidf precedent). `qterms` is caller-built `(qid, term)`;
    * a caller probing a `lowercase` index must fold its terms the same
    * way (the packaged rankers do this via the index flag).
    */
  def matchCounts(index: SearchIndex, qterms: DataFrame,
      pushdownMaxTerms: Int = 0): DataFrame = {
    // OPT-IN term pushdown, the [[phraseDocsBatch]]/[[bm25TopKIndexed]]
    // pattern: collect the query batch's distinct terms (capped) and
    // prune BOTH index relations with an `IN (terms…)` predicate —
    // result unchanged (the filter is a superset of what the inner
    // joins admit), but on a persisted term-sorted index the predicate
    // reaches parquet and the (term, doc) aggregate runs over only the
    // query terms' rows. DEFAULT OFF (r16 measurement): on a
    // low-selectivity batch the prune admits ~everything and still
    // costs the collect job plus per-row set probes on both index
    // subtrees — the differential gate's corpus-derived batch covers
    // its whole vocabulary and measured 4.2 → 5.4 s with the prune on.
    // Serving callers with selective term sets opt in with a cap.
    val distinctTerms =
      if (pushdownMaxTerms <= 0) Array.empty[org.apache.spark.sql.Row]
      else qterms.select(col("term")).distinct()
        .limit(pushdownMaxTerms + 1).collect()
    val (post, lex) =
      if (pushdownMaxTerms > 0 && distinctTerms.length <= pushdownMaxTerms) {
        val ts = distinctTerms.map(_.getString(0)).toSeq
        (index.postings.filter(col("term").isin(ts: _*)),
          index.lexicon.filter(col("term").isin(ts: _*)))
      } else (index.postings, index.lexicon)
    val qdf = lex.join(broadcast(qterms), Seq("term"))
    post.join(broadcast(qdf), Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_sum"),
        sum(col("df")).as("df_sum"), first(col("dl")).as("dl"))
  }

  /** Positional postings `(term, doc_id, pos)` — the phrase-query
    * companion to [[buildIndex]]'s frequency postings ([[Text.tokens]]
    * positions, 0-based). ~1 row per corpus TOKEN (vs per distinct
    * (term, doc)), the standard positional-index cost; persist
    * partitioned/sorted by term so phrase serving prunes to the
    * phrase's terms at the scan.
    */
  def positionalPostings(docs: DataFrame, idCol: Column, textCol: Column,
      lowercase: Boolean = false): DataFrame = {
    val src = if (lowercase) lower(textCol) else textCol
    docs.select(idCol.cast("long").as("doc_id"),
        posexplode(Text.tokens(src)).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))
  }

  /** Exact phrase matching over a positional postings relation:
    * (doc_id, n_occ) for every doc containing `phrase` as a CONSECUTIVE
    * token sequence, with its occurrence count. Evaluation is the
    * classic position-alignment intersect, done relationally: filter
    * the postings to the phrase's terms (an `IN` pushdown — the only
    * corpus-scale relation never moves more than the phrase terms'
    * rows), ONE doc-keyed shuffle collecting the per-doc (term, pos)
    * list, then a codegen'd fold — position set of term i shifted by
    * −i, intersected across i; survivors are phrase-start positions.
    * A doc missing ANY phrase term dies in the intersect (empty
    * array), so presence never needs a separate k-way join — the
    * sequential join formulation exchanges the candidate relation
    * k−1 times and was rejected. Duplicate phrase terms are handled
    * by construction (each offset shifts its own copy of the term's
    * position list). Single-term phrases degrade to tf.
    */
  def phraseDocs(postings: DataFrame, phrase: Seq[String],
      lowercase: Boolean = false): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val terms = if (lowercase) phrase.map(_.toLowerCase) else phrase
    val pp = postings.filter(col("term").isin(terms.distinct: _*))
    val perDoc = pp.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("term"), col("pos"))).as("ps"))
    val aligned = terms.zipWithIndex.map { case (t, i) =>
        transform(
          filter(col("ps"), s => s.getField("term") === lit(t)),
          s => s.getField("pos") - lit(i.toLong))
      }.reduce(array_intersect)
    perDoc.select(col("doc_id"), size(aligned).cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  /** Batch phrase matching — the phrase-WORKLOAD face of
    * [[phraseDocs]]: many phrases against one positional postings
    * relation in ONE pass. Per-phrase looping re-scans (or re-prunes)
    * the postings once per phrase; here the union of all phrases'
    * terms prunes the scan ONCE (capped `IN` pushdown, the
    * [[bm25TopKIndexed]] pattern — past the cap the broadcast join
    * below is the only filter, the right plan for an analytical
    * all-phrases run), the phrase tokens broadcast, and the corpus-
    * scale relation exchanges exactly once.
    *
    * Formulation: a phrase occurrence at `start` in doc d has term i
    * of the phrase at position start+i for EVERY offset i — so join
    * postings to the (pid, i, term) phrase tokens, key by
    * (pid, doc, start = pos − i), and a start whose matched-offset
    * count equals the phrase length is an occurrence (duplicate
    * phrase terms correct by construction: each offset joins its own
    * copy of the term's postings, and (pid, i, doc, pos) rows are
    * unique). The (pid, doc, start) count is partial-aggregable, so
    * the one data-scale exchange combines map-side; the second
    * group to (pid, doc) moves only occurrence-scale rows. Phrases
    * tokenize exactly like [[positionalPostings]] ([[Text.tokens]] +
    * the same `lowercase` fold); token-less phrases yield no rows.
    * Output: (pid, doc_id, n_occ), docs with ≥1 occurrence only —
    * row-equal to a [[phraseDocs]] loop (spec-pinned).
    */
  def phraseDocsBatch(postings: DataFrame, phrases: DataFrame,
      pidCol: Column, ptextCol: Column, lowercase: Boolean = false,
      pushdownMaxTerms: Int = 4096): DataFrame = {
    val src = if (lowercase) lower(ptextCol) else ptextCol
    val ptoks = phrases.select(pidCol.cast("long").as("pid"),
        posexplode(Text.tokens(src)).as(Seq("i", "term")))
      .select(col("pid"), col("i").cast("long").as("i"), col("term"))
    val plen = ptoks.groupBy(col("pid")).agg(count(lit(1)).as("plen"))
    val distinctTerms =
      ptoks.select(col("term")).distinct().limit(pushdownMaxTerms + 1).collect()
    val pruned =
      if (distinctTerms.length <= pushdownMaxTerms)
        postings.filter(
          col("term").isin(distinctTerms.map(_.getString(0)).toSeq: _*))
      else postings
    val starts = pruned.join(broadcast(ptoks), Seq("term"))
      .groupBy(col("pid"), col("doc_id"),
        (col("pos") - col("i")).as("start"))
      .agg(count(lit(1)).as("nmatch"))
    starts.join(broadcast(plen), Seq("pid"))
      .filter(col("nmatch") === col("plen"))
      .groupBy(col("pid"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Proximity (NEAR/w) matching over a positional postings relation:
    * docs where EVERY query term occurs within some window of
    * `windowTokens` consecutive token positions — the relaxation
    * between [[phraseDocs]] (exact adjacency) and bag-of-words
    * matching ("data NEAR/10 retention" finds policy clauses a phrase
    * query misses and a bag query drowns). Output: (doc_id,
    * n_windows, min_span) — the count of window-start anchors that
    * see all terms, and the doc's MINIMAL span (max-min position
    * spread + 1 of the best window, ≤ `windowTokens`), the standard
    * proximity-ranking feature. Docs with no qualifying window are
    * absent.
    *
    * Formulation: the minimal window containing all k terms starts at
    * an occurrence of SOME query term (else it could shrink), so
    * anchor at every pruned occurrence p and take, per term, its
    * minimum position in [p, p+w−1]; an anchor whose matched-term
    * count is k is a window, and span_p = max_term(minpos) − p + 1 —
    * the minimum over anchors is the true minimal span whenever one
    * ≤ w exists. Everything is relational: the postings prune to the
    * query terms (`IN` pushdown — the corpus-scale relation never
    * moves more than the query terms' rows), the anchor×occurrence
    * range join keys on doc_id (ONE doc-keyed exchange family — the
    * two grouped passes key on (doc, p[, term]), which the doc hash
    * layout already clusters), and per-doc cost is the true
    * occurrence-pair count within the window bound, the classic
    * positional-index proximity cost. Duplicate query terms collapse;
    * k = 1 degrades to per-occurrence windows of span 1.
    */
  def proximityDocs(postings: DataFrame, terms: Seq[String],
      windowTokens: Long, lowercase: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(windowTokens >= 1, "windowTokens must be >= 1")
    val ts = (if (lowercase) terms.map(_.toLowerCase) else terms).distinct
    val pruned = postings.filter(col("term").isin(ts: _*))
      .select(col("doc_id"), col("term"), col("pos"))
    val anchors = pruned.select(col("doc_id"), col("pos").as("p"))
    val j = anchors.join(pruned, Seq("doc_id"))
      .filter(col("pos") >= col("p") &&
        col("pos") <= col("p") + lit(windowTokens - 1))
    val perTerm = j.groupBy(col("doc_id"), col("p"), col("term"))
      .agg(min(col("pos")).as("tp"))
    val perAnchor = perTerm.groupBy(col("doc_id"), col("p"))
      .agg(count(lit(1)).as("nt"), max(col("tp")).as("far"))
    perAnchor.filter(col("nt") === ts.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        min(col("far") - col("p") + 1).as("min_span"))
  }

  /** Rank arbitrary `(qid, nid, sim)` candidates through the map-side
    * top-k — the public face of the ranking tail, for COMPOSED rankers
    * (a caller-scored candidate relation that still wants the
    * tasks·k-bounded exchange instead of a window sort). Returns
    * `(qid, rank, nid, sim)`, ties by ascending nid.
    */
  def rankCandidates(cands: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(cands, k)

  /** Proximity-RANKED retrieval — [[proximityDocs]]'s `min_span`
    * consumed as the classic tightness ranking feature: top-`k` docs
    * ordered by (min_span ASC, n_windows DESC, doc_id ASC) — the
    * tightest co-occurrence first, ties broken by how often it
    * co-occurs, then deterministically by id. Output: (rank, doc_id,
    * min_span, n_windows).
    *
    * The ordering is INTEGER-encodable (the [[rrfFuse]] gate's
    * coordination-order pattern): span ≤ windowTokens and
    * n_windows < 2³² (a per-doc anchor count, bounded by doc length;
    * clamped defensively) pack lexicographically into one exact
    * double < 2⁵³ — exact ONLY while windowTokens < 2²¹ (beyond that
    * the high word times 2³² exceeds 2⁵³ and the double rounds,
    * silently corrupting both the order and the decoded spans), so
    * the precondition is ENFORCED by `require` rather than assumed
    * (every realistic proximity window is ≪ 2²¹ tokens; use
    * [[proximityDocs]] + a caller-side sort for wider windows). The
    * ranking rides the tasks·k-bounded map-side
    * top-k ([[rankCandidates]]) — never a global sort — and an
    * oracle's ROW_NUMBER reproduces it bit-for-bit. The span columns
    * DECODE back out of the ranked key (floor-div / mod on the exact
    * double) rather than re-joining the feature relation — the
    * feature subtree executes ONCE (a lazy re-join would run the
    * whole anchor pipeline twice, the multi-referenced-subtree trap
    * the attribution plan documents). To fuse with BM25/ANN legs,
    * feed the result's (nid ← doc_id, rank) into [[rrfFuse]] under a
    * constant qid.
    */
  def proximityTopK(postings: DataFrame, terms: Seq[String],
      windowTokens: Long, k: Int, lowercase: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(windowTokens < (1L << 21),
      s"windowTokens must be < 2^21 for the packed rank key to stay " +
        s"exact (got $windowTokens); use proximityDocs for wider windows")
    val d = proximityDocs(postings, terms, windowTokens, lowercase)
    val ranked = Similarity.rankTopK(
      d.select(lit(0L).as("qid"), col("doc_id").as("nid"),
        ((lit(windowTokens) - col("min_span")).cast("double") *
          lit(4294967296.0) +
          least(col("n_windows"), lit(4294967295L)).cast("double"))
          .as("sim")), k)
    val hi = floor(col("sim") / lit(4294967296.0)).cast("long")
    ranked.select(col("rank").cast("long").as("rank"),
      col("nid").as("doc_id"),
      (lit(windowTokens) - hi).as("min_span"),
      (col("sim") - hi.cast("double") * lit(4294967296.0)).cast("long")
        .as("n_windows"))
  }

  /** Reciprocal-rank fusion (Cormack SIGIR'09): fuse two rankings
    * `(qid, nid, rank)` into `(qid, rank, nid, rrf)` where
    * `rrf = Σ 1/(k0 + rank_i)` over the lists the doc appears in.
    * Rank-based, so the two rankers' scores need no calibration — the
    * standard hybrid-search combiner for BM25 ⊕ ANN. Both inputs are
    * already top-k-bounded (≤ k rows per qid per ranker), so the
    * outer join is k-bounded per query whatever the corpus size; the
    * final ranking reuses the map-side top-k. The rrf double is
    * deterministic cross-engine: each term is one IEEE division of
    * small exact integers and the sum is a single fixed-order add.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val l = a.select(col("qid"), col("nid"), col("rank").cast("double").as("ra"))
    val r = b.select(col("qid"), col("nid"), col("rank").cast("double").as("rb"))
    val fused = l.join(r, Seq("qid", "nid"), "full_outer")
      .withColumn("sim",
        coalesce(lit(1.0) / (lit(k0.toDouble) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0.toDouble) + col("rb")), lit(0.0)))
      .select(col("qid"), col("nid"), col("sim"))
    Similarity.rankTopK(fused, k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), col("sim").as("rrf"))
  }

  /** Hybrid search in one call: BM25 over the index ⊕ exact-cosine ANN
    * over the probed cells of a persisted IVF index, RRF-fused. The
    * two rankers run independently (no barrier between their plans —
    * Spark schedules both) and only their k-bounded rankings meet.
    */
  def hybridTopK(index: SearchIndex, queries: DataFrame, qidCol: Column,
      qtextCol: Column, qvecCol: Column, centroids: DataFrame,
      cells: DataFrame, k: Int, fetchK: Int = 0, nprobe: Int = 2,
      k0: Int = 60, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fk = if (fetchK > 0) fetchK else math.max(k * 4, 20)
    val lex = bm25TopK(index, queries, qidCol, qtextCol, fk, k1, b)
      .select(col("qid"), col("doc_id").as("nid"), col("rank"))
    val sem = Similarity.ivfQueryIndex(
        queries.select(qidCol.as("qid"), qvecCol.as("qv")), "qid", "qv",
        centroids, cells, nprobe, fk)
      .select(col("qid"), col("nid"), col("rank"))
    rrfFuse(lex, sem, k, k0)
  }
}
