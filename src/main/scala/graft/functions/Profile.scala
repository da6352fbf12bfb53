package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profiling and snapshot drift — the dataset-card /
  * monitoring face of the quality family: [[Validate]] answers "does
  * this snapshot satisfy my constraints", Profile answers "what does
  * this snapshot LOOK like, and how did it move since the last one".
  *
  * One-scan discipline throughout: the whole multi-column profile is
  * ONE aggregate over ONE pass (a column adds aggregate expressions,
  * never a pass), distinct counts default to HyperLogLog++
  * (`approx_count_distinct`, fixed-size sketch — the only
  * 100 TB-viable distinct; exact mode exists for gate faces and rides
  * the same aggregate via expand), and drift joins two
  * column-cardinality-sized profile relations — never the data.
  *
  * Distribution drift (PSI) composes the [[Hist]] fixed-grid sketch:
  * two mergeable histograms → one Population Stability Index per
  * column, the standard "has this feature shifted" monitor, with the
  * convention that empty bins contribute 0 when both sides are empty
  * and get a floor probability otherwise (the usual PSI smoothing).
  */
object Profile {

  /** Per-group winsorization (outlier clamping): compute the
    * [`pLo`, `pHi`] quantile bounds of `valueCol` within each group
    * and clamp every row's value into them — the standard robust
    * pre-scaling step before numeric features feed a model (heavy
    * tails otherwise dominate any mean/variance normalization).
    * Appends `<value>_lo`, `<value>_hi` (the group's bounds) and
    * `<value>_w` (the clamped value); all original columns survive.
    *
    * Scale shape: TWO passes, never a sort of the data — one
    * grouped quantile aggregate producing a GROUP-CARDINALITY-sized
    * bounds relation (both points from ONE `percentile(.., array(..))`
    * call, one buffer — the q_quantiles discipline), broadcast-joined
    * back into a second scan where the clamp is a codegen'd
    * least/greatest. The window-function formulation
    * (`percentile over (partition by g)`) re-sorts every group's
    * full data per row and is strictly worse. Exact `percentile` is
    * per-group-buffer-bounded — right when groups are few and fat
    * (the feature-scaling case); for extreme group cardinality swap
    * in `approx_percentile` at the call site, same join shape, and
    * pass `hintBroadcast = false` so the bounds relation (then
    * group-cardinality-sized, potentially too big for the driver)
    * joins by shuffle instead.
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
      pLo: Double, pHi: Double, hintBroadcast: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(${quoteId(valueCol)}, array($pLo, $pHi))")
        .as("__qs"))
      .select(groupCols.map(col) :+
        col("__qs")(0).as(s"${valueCol}_lo") :+
        col("__qs")(1).as(s"${valueCol}_hi"): _*)
    df.join(if (hintBroadcast) broadcast(bounds) else bounds, groupCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col(s"${valueCol}_lo")),
          col(s"${valueCol}_hi")))
  }

  /** Backquote an identifier for safe splicing into a SQL-string
    * expression (the `expr(s"percentile(...)")` calls — percentile's
    * array form has no Column-API overload): internal backticks
    * double, the whole name wraps. Without this a column name with
    * spaces/dots breaks the parse — or worse, parses as an arbitrary
    * expression.
    */
  private def quoteId(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Equi-depth feature binning: assign each row the quantile bucket
    * of `valueCol` within its group — the discretization step before
    * categorical models, stratified sampling on a numeric column, or
    * per-bucket quality reporting. Bucket b ∈ [0, nBuckets): the
    * count of INTERIOR bounds (the k/nBuckets percentiles,
    * k = 1..nBuckets−1) the value strictly exceeds — so buckets
    * partition the line into left-closed cells, values exactly ON a
    * bound land in the lower cell, and the rule is a pure comparison
    * fold both engines evaluate identically (no row_number / ntile:
    * an ntile formulation needs a per-group TOTAL ORDER — a full
    * sort of the data and an engine-specific tie story; the bounds
    * form needs one grouped percentile aggregate and a broadcast
    * join back, the [[winsorize]] shape, and ties are bit-defined).
    * Appends `<value>_bucket`.
    */
  def quantileBuckets(df: DataFrame, groupCols: Seq[String],
      valueCol: String, nBuckets: Int,
      hintBroadcast: Boolean = true): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(${quoteId(valueCol)}, array(${ps.mkString(",")}))")
        .as("__bs"))
    df.join(if (hintBroadcast) broadcast(bounds) else bounds, groupCols)
      .withColumn(s"${valueCol}_bucket",
        aggregate(col("__bs"), lit(0L),
          (acc, b) => acc + when(col(valueCol) > b, 1L).otherwise(0L)))
      .drop("__bs")
  }

  /** Pairwise Pearson correlation over numeric columns from EXACT
    * aggregates: one scan accumulates decimal(38,6)-cast sums
    * (Σx, Σx², Σxy per pair, n) and the correlation is computed from
    * those exact scalars — so unlike the built-in `corr` (a running
    * double co-moment whose value depends on partition merge order),
    * the result is bit-stable under any partitioning and
    * reproducible cross-engine from the same closed form. The right
    * tool when the correlation FEEDS A DECISION that must replay
    * identically (feature pruning in a training pipeline); inputs
    * are fixed-decimal-valued columns (money, counts, ratings —
    * exact in decimal), which is what makes the sums exact.
    * Output: (col_a, col_b, n, corr) for each unordered pair, corr
    * NULL when either side is constant (zero variance). One
    * aggregate over one scan, k·(k+1)/2 sum expressions — columns
    * add expressions, never passes.
    *
    * Exactness envelope: `scale` is capped at 3 so every product's
    * fractional part (2·scale ≤ 6 digits) survives Spark's
    * precision-loss scale adjustment UNTRUNCATED — at scale 4+ the
    * n·Σxy / Σx·Σy multiplies would silently round their fractional
    * tail to 6 digits and the "exact" claim would quietly break. On
    * magnitude: the co-moments hold while |n·Σxy| and |Σx·Σy| fit
    * 38−2·scale integer digits (≈ 10³⁴ at scale 2); past that the
    * multiply OVERFLOWS — which under ANSI mode (Spark 4's default)
    * throws rather than degrading, and under legacy mode yields a
    * visible NULL corr. Exactness therefore never SILENTLY degrades:
    * it holds or it is loud.
    */
  def corrExact(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "corrExact needs at least 2 columns")
    require(scale >= 0 && scale <= 3,
      s"scale in [0,3], got $scale — at scale 4+ the co-moment products' " +
        "fractional tail (2*scale digits) exceeds Spark's precision-loss " +
        "minimum scale (6) and would round silently")
    // values exact in decimal(18,scale): products carry scale 2·s and
    // ~36 integer digits of headroom, so every sum/product below
    // stays inside decimal(38) WITHOUT Spark's precision-loss scale
    // truncation kicking in (a decimal(38,x)·decimal(38,x) multiply
    // would silently round its fractional tail to scale 6)
    def d(c: String): Column = col(c).cast(s"decimal(18,$scale)")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => sum(d(c)).as(s"s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).as(s"ss_$c")) ++
      pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"sp_${a}__$b") } :+
      count(lit(1)).as("n")
    val m = df.agg(aggs.head, aggs.tail: _*)
    // the k²-sized face assembles from the 1-row aggregate: corr =
    // (n·Σxy − Σx·Σy) / sqrt((n·Σx²−ΣxΣx)·(n·Σy²−ΣyΣy)) — numerator
    // and radicands are EXACT decimals; only the final sqrt/divide
    // goes through double, a fixed closed form on scalars
    m.select(explode(array(pairs.map { case (a, b) =>
        val n = col("n").cast("decimal(20,0)")
        val cov = n * col(s"sp_${a}__$b") - col(s"s_$a") * col(s"s_$b")
        val va = n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
        val vb = n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n").as("n"),
          when(va > 0 && vb > 0,
            cov.cast("double") /
              sqrt(va.cast("double") * vb.cast("double"))).as("corr"))
      }: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"), col("p.corr"))
  }

  /** Per-column profile over one scan: `(col_name, dtype, n, nulls,
    * n_distinct, min_v, max_v, sum_v)` — numeric min/max/sum rendered
    * as doubles through an exact decimal(38,6) cast (the decDouble
    * gate convention); non-numeric columns carry null there but keep
    * completeness + distinct. `exactDistinct=true` swaps the HLL++
    * estimate for an exact count-distinct (expand rewrite: still one
    * scan, multiplied exchange rows — the gate face, not the 100 TB
    * default).
    */
  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = false): DataFrame =
    profileBy(df, lit(1), cols, exactDistinct).drop("stratum")

  /** MERGEABLE per-shard profile — the 100 TB maintenance form:
    * profile each drop/shard/partition ONCE as it lands, roll the
    * shard profiles up without ever rescanning old data. Counts/nulls
    * add, min/max combine, sums carry in exact decimal, and the
    * distinct count rides as an [[Hll]] sketch (register-wise max
    * merge — the same mergeable-sketch contract as the corpus
    * statistics suite). `(col_name, dtype, n, nulls, distinct_sketch,
    * min_v, max_v, sum_v)`; feed any union of shard profiles to
    * [[mergeProfiles]].
    */
  def profileShard(df: DataFrame, cols: Seq[String], p: Int = 12): DataFrame = {
    require(cols.nonEmpty, "profileShard: no columns")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c), s"profileShard: no column '$c'"))
    def numeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    val aggCols = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) =>
        val base = Seq(
          count(when(col(c).isNull, 1)).as(s"__nulls$i"),
          // null guard: xxhash64(null) yields the seed, which would
          // count nulls as one distinct value; the sketch agg skips
          // null HASH inputs, so gate the hash itself
          Hll.hllSketch(when(col(c).isNotNull, xxhash64(col(c))), p)
            .as(s"__sk$i"))
        if (numeric(types(c))) {
          val d = col(c).cast("decimal(38,6)")
          base ++ Seq(
            min(d).cast("string").cast("double").as(s"__min$i"),
            max(d).cast("string").cast("double").as(s"__max$i"),
            sum(d).as(s"__sum$i"))
        } else base ++ Seq(
          lit(null).cast("double").as(s"__min$i"),
          lit(null).cast("double").as(s"__max$i"),
          lit(null).cast("decimal(38,6)").as(s"__sum$i"))
    }
    val row = df.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs: Seq[Column] = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), lit(types(c).simpleString), col(s"__nulls$i"),
        col(s"__sk$i"), col(s"__min$i"), col(s"__max$i"), col(s"__sum$i"))
    }
    row.select(
        stack((lit(cols.length) +: stackArgs): _*)
          .as(Seq("col_name", "dtype", "nulls", "distinct_sketch",
            "min_v", "max_v", "sum_v")),
        col("__n").as("n"))
      .select(col("col_name"), col("dtype"), col("n"), col("nulls"),
        col("distinct_sketch"), col("min_v"), col("max_v"), col("sum_v"))
  }

  /** Roll up a union of [[profileShard]] relations into one corpus
    * profile: one vocabulary-of-columns-sized aggregation, zero data
    * rescans. Output matches [[profile]]'s shape with `n_distinct`
    * the HLL estimate of the merged sketch (the estimate of a merge
    * is exactly the estimate of profiling the union directly — the
    * sketches are bit-identical by the register-max algebra).
    */
  def mergeProfiles(shards: DataFrame): DataFrame =
    shards.groupBy(col("col_name"), col("dtype"))
      .agg(sum(col("n")).as("n"), sum(col("nulls")).as("nulls"),
        Hll.hllMerge(col("distinct_sketch")).as("__sk"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        sum(col("sum_v")).as("__sum"))
      .select(col("col_name"), col("dtype"), col("n"), col("nulls"),
        Hll.hllEstimate(col("__sk")).cast("long").as("n_distinct"),
        col("min_v"), col("max_v"),
        col("__sum").cast("string").cast("double").as("sum_v"))

  /** [[profile]] per stratum — the per-source dataset card ("what does
    * each corpus component look like"): same one-scan discipline, the
    * aggregate keyed by `stratumCol`, the unpivot per stratum row.
    * Output: `(stratum, col_name, dtype, n, nulls, n_distinct, min_v,
    * max_v, sum_v)`.
    */
  def profileBy(df: DataFrame, stratumCol: Column, cols: Seq[String],
      exactDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profileBy: no columns")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(types.contains(c), s"profileBy: no column '$c'"))
    def numeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    val aggCols = count(lit(1)).as("__n") +: cols.zipWithIndex.flatMap {
      case (c, i) =>
        val dist =
          if (exactDistinct) count_distinct(col(c))
          else approx_count_distinct(col(c))
        val base = Seq(
          count(when(col(c).isNull, 1)).as(s"__nulls$i"),
          dist.as(s"__dist$i"))
        if (numeric(types(c))) {
          val d = col(c).cast("decimal(38,6)")
          base ++ Seq(
            min(d).cast("string").cast("double").as(s"__min$i"),
            max(d).cast("string").cast("double").as(s"__max$i"),
            sum(d).cast("string").cast("double").as(s"__sum$i"))
        } else base ++ Seq(
          lit(null).cast("double").as(s"__min$i"),
          lit(null).cast("double").as(s"__max$i"),
          lit(null).cast("double").as(s"__sum$i"))
    }
    val grouped = df.groupBy(stratumCol.as("stratum"))
      .agg(aggCols.head, aggCols.tail: _*)
    val stackArgs: Seq[Column] = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), lit(types(c).simpleString), col(s"__nulls$i"),
        col(s"__dist$i"), col(s"__min$i"), col(s"__max$i"), col(s"__sum$i"))
    }
    grouped.select(col("stratum"),
        stack((lit(cols.length) +: stackArgs): _*)
          .as(Seq("col_name", "dtype", "nulls", "n_distinct",
            "min_v", "max_v", "sum_v")),
        col("__n").as("n"))
      .select(col("stratum"), col("col_name"), col("dtype"), col("n"),
        col("nulls"), col("n_distinct"), col("min_v"), col("max_v"), col("sum_v"))
  }

  /** Order-invariant dataset fingerprint — `(n, fp)` where `fp` is the
    * decimal SUM of a per-row md5-derived 60-bit integer (rendered as
    * a string: the digits are exact where a double would round at
    * corpus scale). Content identity for snapshots: the same ROWS in
    * any order, any partitioning, any file layout produce the same
    * fingerprint; one changed/added/dropped row changes it (mod the
    * 2⁶⁰ hash space). ADDITIVE across disjoint shards — `fp(a ⊎ b) =
    * fp(a) + fp(b)` — so per-shard fingerprints roll up without
    * re-reading (the mergeable-sketch contract), and an incremental
    * pipeline can maintain the corpus fingerprint from a change
    * batch's arrivals−departures exactly like [[Maintain
    * .refreshAggDelta]] maintains sums.
    *
    * Nulls are disambiguated with a \u0000 sentinel per column
    * (`concat_ws` alone would collide (null,"x") with ("x",null)).
    * Pass integer/string columns; render floats/timestamps to strings
    * yourself if cross-engine digits matter.
    */
  def fingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint: no columns")
    val parts = cols.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val rowH = conv(substring(md5(concat_ws("\u0001", parts: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    df.agg(count(lit(1)).as("n"), sum(rowH).cast("string").as("fp"))
  }

  /** Drift between two profiles of the SAME schema (old `a`, new `b`):
    * per column, the null-fraction delta, the distinct-count ratio,
    * and the range endpoints' movement — a column-cardinality join of
    * two tiny relations (full outer: columns added/dropped between
    * snapshots surface as one-sided rows).
    */
  def drift(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("col_name"), col("n").as("a_n"),
      col("nulls").as("a_nulls"), col("n_distinct").as("a_distinct"),
      col("min_v").as("a_min"), col("max_v").as("a_max"))
    val r = b.select(col("col_name"), col("n").as("b_n"),
      col("nulls").as("b_nulls"), col("n_distinct").as("b_distinct"),
      col("min_v").as("b_min"), col("max_v").as("b_max"))
    l.join(r, Seq("col_name"), "full_outer")
      .select(col("col_name"),
        (col("b_nulls").cast("double") / nullif(col("b_n").cast("double"), lit(0.0)) -
          col("a_nulls").cast("double") / nullif(col("a_n").cast("double"), lit(0.0)))
          .as("null_frac_delta"),
        (col("b_distinct").cast("double") /
          nullif(col("a_distinct").cast("double"), lit(0.0))).as("distinct_ratio"),
        (col("b_min") - col("a_min")).as("min_shift"),
        (col("b_max") - col("a_max")).as("max_shift"),
        (col("a_n").isNull).as("added"),
        (col("b_n").isNull).as("dropped"))
  }

  /** Population Stability Index between two [[Hist]] sketches of the
    * same (lo, hi, nbins) grid: `Σ (p_b − p_a) · ln(p_b / p_a)` over
    * the nbins+2 slots (underflow/overflow included — mass leaving the
    * range IS drift). Bins empty on one side only get the standard
    * `floor = 1/(10·total)` smoothing; bins empty on both contribute
    * 0. Returns a double column — compose over a per-stratum groupBy
    * to monitor every source at once. Convention: PSI < 0.1 stable,
    * 0.1–0.25 moderate shift, > 0.25 investigate.
    */
  def psi(histA: Column, histB: Column): Column = {
    val ta = aggregate(histA, lit(0L), (acc, x) => acc + x).cast("double")
    val tb = aggregate(histB, lit(0L), (acc, x) => acc + x).cast("double")
    val terms = zip_with(histA, histB, (ca, cb) => {
      val pa0 = ca.cast("double") / ta
      val pb0 = cb.cast("double") / tb
      val pa = when(ca === 0L, lit(0.1) / ta).otherwise(pa0)
      val pb = when(cb === 0L, lit(0.1) / tb).otherwise(pb0)
      when(ca === 0L && cb === 0L, lit(0.0))
        .otherwise((pb - pa) * log(pb / pa))
    })
    // an EMPTY histogram (an all-null micro-batch is exactly the
    // incident a drift monitor exists to catch) must read as maximal
    // drift, not kill the query with a smoothing-floor divide-by-zero
    // (ANSI mode throws); empty vs empty is no evidence of drift
    when(ta === 0.0 && tb === 0.0, lit(0.0))
      .when(ta === 0.0 || tb === 0.0, lit(Double.PositiveInfinity))
      .otherwise(aggregate(terms, lit(0.0), (acc, x) => acc + x))
  }

  /** PSI of `valueCol` between two frames on a shared fixed grid —
    * each side is one [[Hist.histSketch]] aggregate (fixed-size
    * buffers, partial-aggregable), the division is 1-row arithmetic.
    */
  def psiBetween(a: DataFrame, b: DataFrame, valueCol: Column,
      lo: Double, hi: Double, nbins: Int): DataFrame = {
    val ha = a.agg(Hist.histSketch(valueCol, lo, hi, nbins).as("h"))
    val hb = b.agg(Hist.histSketch(valueCol, lo, hi, nbins).as("hb"))
    ha.crossJoin(hb) // two 1-row sketch relations — the sketch-probe precedent
      .select(psi(col("h"), col("hb")).as("psi"))
  }

  /** Cluster cards — the per-cluster face of [[profileBy]] for a
    * CLUSTERING rather than a stored stratum: given an assignment
    * `(id, cid)` (k-means cells from `Similarity.ivfAssign`, dup
    * clusters from `Dedup.connectedComponents` — any id→group map) and
    * a per-id categorical attribute, emit one card per cluster:
    *   (cid, n, top_value, top_n)
    * where top_value is the cluster's dominant attribute value (count
    * ties → smallest value) and top_n its member count — the purity
    * face in EXACT integers (purity = top_n / n, left to the reader so
    * the relation hash-compares cross-engine). Scale shape: one
    * (cid, value) count aggregate, then a cid-keyed argmax that
    * collapses map-side via [[TopK.topKBy]] — distinct values per
    * cluster never reach the exchange whole. `byCol` must cast to
    * long (labels, bucketed attributes); free-text strata belong to
    * [[profileBy]].
    */
  def clusterCards(assign: DataFrame, idCol: String, cidCol: String,
      meta: DataFrame, metaIdCol: String, byCol: Column): DataFrame = {
    TopK.checkHashAggCapacity(assign.sparkSession)
    val counts = assign.select(col(idCol).as("id"), col(cidCol).as("cid"))
      .join(meta.select(col(metaIdCol).as("id"), byCol.cast("long").as("value")), Seq("id"))
      .groupBy(col("cid"), col("value"))
      .agg(count(lit(1)).as("n_value"))
    counts.groupBy(col("cid"))
      .agg(sum(col("n_value")).as("n"),
        // argmax by (count desc, value asc): topKBy ranks score desc /
        // id asc, so score = count and id = value give the tie rule
        TopK.topKBy(col("n_value").cast("double"), col("value"), 1).as("tk"))
      .select(col("cid"), col("n"),
        // get() not getItem: a cluster whose values are ALL null
        // aggregates to an empty entry array (TopK's null-id contract)
        // and must card as null, not raise ANSI invalidArrayIndex
        get(col("tk"), lit(0)).getField("id").as("top_value"),
        get(col("tk"), lit(0)).getField("sim").cast("long").as("top_n"))
  }

  /** Exact 2×K chi-square homogeneity report — the experiment-readout
    * companion to [[corrExact]] (A/B/n conversion analysis: "do the
    * variants convert at the same rate?"): input = ONE ROW PER UNIT
    * with a group key and a 0/1 outcome flag; output = one row per
    * group, (grp, n, x, chi2_micro) where n = units, x = conversions,
    * and chi2_micro = the group's additive chi-square contribution in
    * MICRO-UNITS (1e6): Σ_g chi2_micro / 1e6 is the classic 2×K
    * statistic (df = K−1) to three-decimal resolution.
    *
    * Exact-integer face (the house [[graft.functions.Graph]] integer-
    * PageRank posture — a double chi-square varies with summation
    * order): each group's contribution collapses algebraically to
    * (x·N − n·X)² / (n·X·(N−X)) with N, X the grand totals, and is
    * evaluated as a TWO-STAGE decimal(38,0) floor division (quotient
    * first, remainder scaled by 1e6 — the direct unit·A product would
    * overflow 38 digits at web-scale N). Bit-stable under any
    * partitioning; quantization ≤ 1e-6 per group. Degenerate margins
    * (X = 0 or X = N: nobody or everybody converts) have zero
    * deviation by construction and report chi2_micro = 0 rather than
    * dividing by the zero variance.
    *
    * Scale shape: one grouped aggregate over the unit relation
    * (partial-aggregable), a 1-row grand-total broadcast, pure
    * codegen'd arithmetic per group row. The flag must be 0/1 — feed
    * `max(when(...))` per unit upstream for "did the user ever
    * convert" semantics.
    */
  def chiSquareReport(df: DataFrame, group: Column, flag: Column): DataFrame = {
    val dec38 = "decimal(38,0)"
    val g = df.select(group.as("grp"), flag.cast("long").as("f"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("f")).as("x"))
    val tot = g.agg(sum(col("n")).cast(dec38).as("nn"),
      sum(col("x")).cast(dec38).as("xx"))
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast(dec38)
    // decimal(38,0) overflow surfaces as NULL under non-ANSI Spark;
    // none of these terms is organically null, so a null IS an
    // overflow (dev² at astronomically large N) — raise, never emit
    // a silent NULL statistic (the Graph.betweenness posture)
    def guarded(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(s"chiSquareReport: $what " +
        "overflowed decimal(38,0) — the unit count is beyond the " +
        "exact range; pre-aggregate or shard the experiment"))
        .cast(dec38)).otherwise(c)
    val dev = col("x").cast(dec38) * col("nn") -
      col("n").cast(dec38) * col("xx")
    val a = guarded((dev * dev).cast(dec38), "squared deviation")
    val b = guarded(
      (col("n").cast(dec38) * col("xx") * (col("nn") - col("xx")))
        .cast(dec38), "variance denominator")
    val unit = lit(1000000L).cast(dec38)
    g.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("x"),
        when(b === lit(0L).cast(dec38), lit(0L).cast(dec38))
          .otherwise(guarded((idiv(a, b) * unit +
            idiv((a - idiv(a, b) * b) * unit, b)).cast(dec38),
            "chi2 contribution"))
          .as("chi2_micro"))
  }
}
