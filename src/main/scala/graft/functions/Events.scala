package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Event-sequence analytics: ordered funnels, cohort retention, and
  * gap-based sessionization — the `windowFunnel`/`retention`/session
  * primitives of event-analytics engines (ClickHouse, Amplitude), as
  * declarative Spark plans over an (entity, time, type) event log.
  *
  * Scale shape: every operator keys its exchanges on the ENTITY
  * column only, so a k-step funnel plans k type-sliced scans (the
  * step predicate pushes down to the parquet scan) whose joins and
  * aggregations all reuse one hash partitioning; retention is two
  * entity-keyed aggregations; sessionization is one exchange + an
  * in-partition sort. Nothing is ever keyed on (entity, time) — state
  * per entity is a fixed vector of step timestamps, never the event
  * list.
  *
  * All time arithmetic is exact integer microseconds (timestamp
  * columns are converted via `unix_micros`), so results are
  * bit-reproducible and oracle-checkable.
  */
object Events {

  /** Timestamp or integral column → long microseconds. */
  private def toUs(df: DataFrame, tsCol: String): Column =
    df.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _ => col(tsCol).cast("long")
    }

  /** Floor division, exact at any magnitude and sign: long `/` would
    * round through double above 2^53, SQL `div` truncates toward zero
    * — cohort buckets must floor toward -inf, so this is the
    * decimal(38,0) (a − a mod b)/b form (the Graph.idiv pattern). */
  private def fdiv(us: Column, b: Long): Column = {
    val d = us.cast("decimal(38,0)")
    val bd = lit(b).cast("decimal(38,0)")
    ((d - pmod(d, bd)) / bd).cast("long")
  }

  /** Ordered funnel, earliest-completion semantics (the ClickHouse
    * `windowFunnel` contract): per entity, t1 = min time of a step-1
    * event; tk = min time of a step-k event STRICTLY after t(k-1)
    * (same-instant events do not advance the funnel), optionally
    * constrained to t1 + maxSpanUs. Output: one row per entity that
    * reached step 1 — (user, t1 .. tn) in microseconds, null from the
    * drop-off step onward (nulls are monotone by construction: step k
    * candidates join on a non-null t(k-1)).
    *
    * Plan: step 1 is one entity-keyed aggregation over the step-1
    * slice; each later step joins its type slice (predicate pushed to
    * the scan) against the reached relation on the entity key and
    * re-aggregates — every exchange keys on `user`, so Catalyst
    * reuses the partitioning across all k steps and per-step work is
    * proportional to that step's slice, never the full log. Per-entity
    * state is the fixed k-vector of step times, never an event list
    * (the ClickHouse windowFunnel formulation collects per-entity
    * event arrays — unbounded under key skew).
    *
    * Each intermediate reached relation is referenced twice (the step
    * candidates filter on it AND the drop-off left join keeps it), and
    * the references pick up different pushed filters, so exchange
    * reuse can't dedup them — without caching, step 1's slice scan
    * would re-execute ~k times (read the plan). The intermediates run
    * the shared [[Rounds]] lifecycle (the graph-family posture): each
    * reached relation is EAGERLY checkpointed — a tiny entity-keyed
    * job, k longs per entity — and released the moment the next round
    * supersedes it, so at 100× entity counts the superseded rounds
    * are never sitting in the cache as eviction victims; only the
    * FINAL relation (a checkpoint with truncated lineage) outlives the
    * call. Repeated step types are legal (view→view funnels).
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxSpanUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    maxSpanUs.foreach(sp => require(sp > 0, "maxSpanUs must be positive"))
    val ev = events.select(col(userCol).as("user"),
      toUs(events, tsCol).as("us"), col(typeCol).as("et"))
    val first = ev.filter(col("et") === steps.head)
      .groupBy(col("user")).agg(min(col("us")).as("t1"))
    if (steps.size == 1) return first
    Rounds.run(ev, "funnel") { rounds =>
      (2 to steps.size).foldLeft(rounds.mark(first)) { (prev, k) =>
        val prevT = s"t${k - 1}"
        val carry =
          if (prevT == "t1") prev.select(col("user"), col("t1"))
          else prev.select(col("user"), col("t1"), col(prevT))
        val within = maxSpanUs.map(sp => col("us") <= col("t1") + lit(sp))
          .getOrElse(lit(true))
        val nxt = ev.filter(col("et") === steps(k - 1))
          .select(col("user"), col("us"))
          .join(carry, Seq("user"))
          .filter(col("us") > col(prevT) && within)
          .groupBy(col("user")).agg(min(col("us")).as(s"t$k"))
        rounds.replace(prev, prev.join(nxt, Seq("user"), "left"))
      }
    }
  }

  /** Funnel conversion report: (step, step_name, users) — users who
    * reached each step, from ONE funnel pass collapsed to a 1-row
    * aggregate and unpivoted driver-free. */
  def funnelReport(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      maxSpanUs: Option[Long] = None): DataFrame = {
    val f = funnel(events, userCol, tsCol, typeCol, steps, maxSpanUs)
    val aggs = steps.indices.map(i =>
      sum(when(col(s"t${i + 1}").isNotNull, 1L).otherwise(0L)).as(s"n${i + 1}"))
    f.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(steps.indices.map(i =>
        struct(lit(i + 1).as("step"), lit(steps(i)).as("step_name"),
          coalesce(col(s"n${i + 1}"), lit(0L)).as("users"))): _*)).as("s"))
      .select(col("s.step"), col("s.step_name"), col("s.users"))
  }

  /** Cohort retention matrix: entities are cohorted by the bucket of
    * their FIRST event (bucket = floor(us / bucketUs), e.g. a day or
    * week), and each later-active bucket contributes to
    * (cohort, offset = bucket − cohort, active_users). Exact
    * integers; `active_users` needs no count-distinct because the
    * per-entity bucket SET is distinct by construction.
    *
    * Plan: ONE entity-keyed `collect_set` aggregation (the partial
    * aggregate dedups map-side, so only distinct (entity, bucket)
    * pairs cross the exchange; per-entity state is bounded by
    * time-span/bucketUs, never the event count), cohort = array_min
    * in the same pass, then the small (cohort, offset) aggregation —
    * two exchanges total where distinct+min+join would take three.
    * Null-time events are dropped (collect_set skips nulls).
    */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    events.select(col(userCol).as("user"),
        fdiv(toUs(events, tsCol), bucketUs).as("bucket"))
      .groupBy(col("user")).agg(collect_set(col("bucket")).as("buckets"))
      .select(array_min(col("buckets")).as("cohort"),
        explode(col("buckets")).as("bucket"))
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** Markov transition counts: per entity, time-ordered consecutive
    * event-type pairs collapsed to (from_type, to_type, n) — the path
    * matrix behind "what happens after X" analyses. Ordering within an
    * entity is (time, tieBreak...); pass a unique column (an event id)
    * as the tie-break when timestamps can collide, or the lag pairing
    * at a tied instant is partition-order-dependent.
    *
    * Plan: one entity-keyed exchange + in-partition sort for the lag,
    * then the small (from, to) aggregation — transition rows never
    * outnumber events, and the final aggregate is |types|² at most.
    */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val us = toUs(events, tsCol)
    val order: Seq[Column] = us +: tieBreak.map(col)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    events.select(col(typeCol).as("to_type"),
        lag(col(typeCol), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group robust location/spread in EXACT integers: lower median
    * (the ⌈n/2⌉-th smallest) and MAD (lower median of |x − med|) over
    * `round(value · unitScale)` micro-units. Output: (group, n, med,
    * mad), all longs.
    *
    * Scale shape — the naive exact median (a whole-partition sort
    * window per group) serializes each group onto one task; this
    * operator instead aggregates a VALUE-FREQUENCY histogram first
    * (one fully-parallel corpus exchange with map-side combine), and
    * the rank-selection windows ride the per-group distinct-value
    * relation — metadata-scale for fixed-point metrics (cents,
    * millis), never row-scale. The MAD histogram derives from the same
    * value histogram (re-keyed by |u − med| and re-summed), so the
    * corpus is scanned ONCE for both statistics.
    */
  def robustStats(df: DataFrame, groupCol: String, valueCol: String,
      unitScale: Long = 1L): DataFrame = {
    require(unitScale > 0, "unitScale must be positive")
    val u =
      if (unitScale == 1L) col(valueCol).cast("long")
      else round(col(valueCol) * lit(unitScale)).cast("long")
    val hist = df.select(col(groupCol).as("g"), u.as("u"))
      .filter(col("u").isNotNull)
      .groupBy(col("g"), col("u")).agg(count(lit(1)).as("c"))

    def lowerMedian(h: DataFrame, out: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("u"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      h.select(col("g"), col("u"),
          sum(col("c")).over(w).as("cum"), sum(col("c")).over(wAll).as("n"))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("g")).agg(min(col("u")).as(out),
          first(col("n")).as(s"${out}_n"))
    }

    val med = lowerMedian(hist, "med")
    val devHist = hist.join(broadcast(med), Seq("g"))
      .groupBy(col("g"), abs(col("u") - col("med")).as("u"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devHist, "mad")
    med.join(broadcast(mad.select(col("g"), col("mad"))), Seq("g"))
      .select(col("g").as(groupCol), col("med_n").as("n"),
        col("med"), col("mad"))
  }

  /** Robust z-score outlier flags: rows whose micro-unit deviation
    * from the group's lower median exceeds k·MAD. Appends `med`,
    * `mad` (micro-unit longs) and `is_anomaly`; the comparison is
    * exact long arithmetic — bit-reproducible and oracle-checkable.
    * Stats relations are one row per group and broadcast; the data
    * side never re-shuffles. Null values are never anomalies.
    */
  def anomalies(df: DataFrame, groupCol: String, valueCol: String,
      k: Long, unitScale: Long = 1L): DataFrame = {
    require(k > 0, "k must be positive")
    val stats = robustStats(df, groupCol, valueCol, unitScale)
      .select(col(groupCol), col("med"), col("mad"))
    val u =
      if (unitScale == 1L) col(valueCol).cast("long")
      else round(col(valueCol) * lit(unitScale)).cast("long")
    df.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn("is_anomaly",
        coalesce(abs(u - col("med")) > lit(k) * col("mad"), lit(false)))
  }

  /** One-sided CUSUM level-shift detection (Page 1954) in EXACT
    * integers: per entity, over the (time, tieBreak)-ordered series,
    * S_i = max(0, S_{i−1} + (x_i − ref)) — the classic change-point
    * statistic for "this metric drifted above its reference level",
    * with `ref` = target + slack chosen by the caller (robustStats'
    * median is the natural target). Appends `cusum` and
    * `is_shift` = cusum > threshold. Downward shifts: negate the
    * value and the reference.
    *
    * The recursion is not a window function, but its closed form is:
    * S_i = P_i − min(0, min_{j≤i} P_j) with P the running sum of
    * (x − ref) — so the whole operator is ONE entity-keyed exchange +
    * in-partition sort feeding two stacked window aggregates, exact
    * long arithmetic, oracle-checkable.
    */
  def cusum(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, ref: Long, threshold: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val us = toUs(events, tsCol)
    val order: Seq[Column] = us +: tieBreak.map(col)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__p",
        sum(col(valueCol).cast("long") - lit(ref)).over(w))
      .withColumn("cusum", col("__p") - least(min(col("__p")).over(w), lit(0L)))
      .withColumn("is_shift", col("cusum") > lit(threshold))
      .drop("__p")
  }

  /** Resample an irregular per-entity series onto a regular grid with
    * last-observation-carried-forward gap fill — the time-series
    * normalization step (metric streams, price/sensor series) ahead
    * of any fixed-step model. Output: one row per (entity, bucket)
    * for every bucket in [first, last] observed per entity —
    * `bucket` = floor(time/stepUs), `bucket_us` = bucket·stepUs, and
    * `valueCol` carried forward from the bucket's LAST observation
    * (ties broken by `tieBreak`, then the value itself — total, so
    * the result is arrival-order-independent). Buckets with no
    * observation inherit the previous bucket's value; the first
    * bucket per entity is observed by construction.
    *
    * Scale shape: the in-bucket "last" is a partial-aggregable
    * max(struct(time, tie…, value)) — no per-entity sort window, the
    * heavy reduction happens map-side. The carry-forward is computed
    * on OBSERVATION rows, never grid rows: one `lead` window per
    * entity gives each observation its validity range
    * [bucket, next−1], and the grid explodes straight out of it with
    * the filled value attached — no grid-sized join and no grid-sized
    * window sort (the first formulation did both and paid 13× on the
    * 100M-event decade, see SCALE.md). Grid size is still
    * span/stepUs rows per entity (callers own the step; a 1-second
    * grid over a year is 31M rows PER ENTITY — pick steps that fit
    * the question).
    */
  def resampleLocf(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, stepUs: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(stepUs > 0, "stepUs must be positive")
    val us = toUs(events, tsCol)
    val fields = (us.as("__u") +: tieBreak.map(col)) :+ col(valueCol).as("__v")
    val perBucket = events
      .groupBy(col(userCol), fdiv(us, stepUs).as("bucket"))
      .agg(max(struct(fields: _*)).getField("__v").as("__obs"))
    val w = Window.partitionBy(col(userCol)).orderBy(col("bucket"))
    perBucket
      .withColumn("__end",
        coalesce(lead(col("bucket"), 1).over(w) - 1, col("bucket")))
      .select(col(userCol),
        explode(sequence(col("bucket"), col("__end"))).as("__b"),
        col("__obs"))
      .select(col(userCol), col("__b").as("bucket"),
        (col("__b") * lit(stepUs)).as("bucket_us"),
        col("__obs").as(valueCol))
  }

  /** Gap-based sessionization: within each entity's time-ordered
    * event stream, a new session opens where the gap to the previous
    * event exceeds gapUs (the first event always opens session 1).
    * Output: the input columns + `session_idx` (1-based per entity).
    *
    * One exchange + in-partition sort (two window functions over the
    * same frame). Deterministic under timestamp ties: a tied pair has
    * gap 0 — never a boundary — so both orders of the tie assign the
    * same session_idx to both rows.
    */
  /** RFM segmentation — the standard behavioral user-value coding
    * (recency / frequency / monetary), used here as the
    * cohort-selection and sample-stratification face of the event
    * toolkit: per entity, r_us = last-activity time, f = event
    * count, m = EXACT decimal value sum; each metric is then
    * quantile-coded into `nBuckets` equi-depth buckets over the
    * whole entity population (bucket = count of interior bounds
    * strictly exceeded — the [[Profile.quantileBuckets]] rule:
    * left-closed cells, bit-defined ties, no per-population sort)
    * and the composite code is r_b·100 + f_b·10 + m_b (nBuckets ≤ 10
    * keeps the decimal coding unambiguous). Higher bucket = larger
    * value on every axis, so r_b = nBuckets−1 is the MOST RECENTLY
    * active segment.
    *
    * Scale shape: one entity-keyed aggregation over the events (the
    * only data-scale exchange), ONE 1-row global percentile
    * aggregate for all 3 bound arrays, broadcast back into a
    * codegen'd comparison fold. Output: (user, r_us, f, m, r_b,
    * f_b, m_b, rfm).
    */
  def rfm(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, nBuckets: Int = 4): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 10,
      s"nBuckets in [2,10], got $nBuckets")
    val per = events.select(col(userCol).as("user"),
        toUs(events, tsCol).as("us"),
        col(valueCol).cast("decimal(18,2)").as("v"))
      .groupBy(col("user"))
      .agg(max(col("us")).as("r_us"), count(lit(1)).as("f"),
        sum(col("v")).as("m"))
    val arr = (1 until nBuckets).map(_.toDouble / nBuckets).mkString(",")
    val bounds = per.agg(
      expr(s"percentile(cast(r_us as double), array($arr))").as("rb"),
      expr(s"percentile(cast(f as double), array($arr))").as("fb"),
      expr(s"percentile(cast(m as double), array($arr))").as("mb"))
    def bucket(v: Column, bs: Column): Column =
      aggregate(bs, lit(0L), (acc, b) => acc + when(v > b, 1L).otherwise(0L))
    per.crossJoin(broadcast(bounds))
      .select(col("user"), col("r_us"), col("f"), col("m"),
        bucket(col("r_us").cast("double"), col("rb")).as("r_b"),
        bucket(col("f").cast("double"), col("fb")).as("f_b"),
        bucket(col("m").cast("double"), col("mb")).as("m_b"))
      .withColumn("rfm",
        col("r_b") * lit(100L) + col("f_b") * lit(10L) + col("m_b"))
  }

  /** Multi-touch conversion attribution — the marketing-analytics
    * face of the event toolkit: for every conversion (an event of
    * `convType`), split one `unit` of credit across the touch events
    * (types in `touchTypes`) that preceded it within `lookbackUs`,
    * under the standard models:
    *
    *  - `first`  — full unit to the earliest touch
    *  - `last`   — full unit to the latest touch
    *  - `linear` — unit DIV n to each of the n touches (floor; the
    *    remainder stays unattributed — deterministic, documented)
    *  - `position` — U-shaped 40/20/40: the single touch takes the
    *    unit; two touches split it unit DIV 2 / unit − unit DIV 2;
    *    at n ≥ 3 first and last take 4·unit/10 each and the middles
    *    share 2·unit/10 by floor division
    *
    * Conversion identity is the DISTINCT (entity, conversion time)
    * pair — same-instant duplicate conversion events attribute once.
    * Touches are EVENT ROWS (two views both earn linear credit);
    * first/last tie-break at equal times by minimum/maximum touch id
    * (lexicographic (time, id)), so every model is deterministic
    * under any partitioning — all credit arithmetic is exact BIGINT
    * (divisions on decimal(38,0), exact at any `unit`).
    * Eligibility window: conv − lookback ≤ touch < conv (strictly
    * before; a same-instant touch did not cause the conversion).
    *
    * INPUT CONTRACT: `idCol` must uniquely identify touch events
    * within an entity (the event-log norm). The first/last identity
    * is the tie-broken touch id, so two touch rows sharing BOTH time
    * and id would each match it and each take the full first/last
    * credit — under unique ids that row pair cannot exist.
    *
    * Output: one row per (conversion, touch) pair — (user, conv_us,
    * touch_id, touch_us, channel, n_touch, credit) with channel from
    * `channelCol` — aggregate downstream (per channel, per campaign).
    * Conversions with zero in-window touches yield no rows.
    *
    * Scale shape: ONE entity-keyed exchange family and ONE pass over
    * the pair relation — touches join conversions on the entity key
    * (the time window bounds the per-pair fan-out; a hot entity's
    * cost is its true touches-×-conversions-in-window pair count),
    * then the per-conversion facts (n, first, last) come from
    * unordered window aggregates partitioned by (entity, conv time)
    * — a clustering the entity-hash join layout ALREADY satisfies
    * (subset rule), so Catalyst inserts no further exchange. The
    * groupBy-and-join-back formulation was rejected on its executed
    * plan: the pair relation is a multi-referenced subtree there, so
    * the pair join EXECUTES three times and the (entity, conv)
    * re-keying exchanges the pair relation twice more. No sort
    * beyond the window's partition-local one, no driver state.
    *
    * Hot-entity skew: the zero-extra-exchange default leaves ALL of
    * one entity's pairs in one task — fine at organic key spreads,
    * quadratic-on-one-core when a single entity owns percent-scale
    * event share (EventScale attrib_skew: a 1%-hot entity at 10M
    * events = 40M of 47M pairs in one task, 128 s vs 31 s for 79M
    * UNIFORM pairs at 10× the events). `spreadSkew = "on"` re-keys
    * the pair relation to (entity, conv time) before the windows —
    * one extra pair-scale exchange that spreads a hot entity across
    * its conversions (each conversion's window is independent), the
    * measured cure when the key histogram says so. `spreadSkew =
    * "auto"` takes that histogram itself: one extra aggregation pass
    * over the filtered events bounds each entity's pair mass by its
    * touches × conversions, and the re-key fires only when one
    * entity owns > 10% of the total pair bound AND the corpus is big
    * enough for stragglers to matter (≥ 2^20 bounded pairs) — below
    * either bar the probe picks the zero-extra-exchange plan. Rows
    * are identical in every mode (spec-pinned); EventScale measures
    * auto matching the manual choice on both the uniform and the
    * 1%-hot corpus.
    */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, channelCol: String, convType: String,
      touchTypes: Seq[String], lookbackUs: Long,
      model: String = "linear", unit: Long = 1000000L,
      spreadSkew: String = "off"): DataFrame = {
    require(lookbackUs > 0, "lookbackUs must be positive")
    require(unit > 0, "unit must be positive")
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val models = Set("first", "last", "linear", "position")
    require(models(model), s"model must be one of $models, got $model")
    val spreadModes = Set("off", "on", "auto")
    require(spreadModes(spreadSkew),
      s"spreadSkew must be one of $spreadModes, got $spreadSkew")
    // exact floor division at any magnitude: decimal(38,0) operands
    // ((a - a mod b) is exactly divisible, the Graph.idiv pattern) —
    // a double divide is exact only under 2^53
    def fdivC(a: Column, b: Column): Column = {
      val ad = a.cast("decimal(38,0)"); val bd = b.cast("decimal(38,0)")
      ((ad - pmod(ad, bd)) / bd).cast("long")
    }
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user"), toUs(events, tsCol).as("conv_us"))
      .distinct()
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("user"), toUs(events, tsCol).as("touch_us"),
        col(idCol).cast("long").as("touch_id"),
        col(channelCol).as("channel"))
    val doSpread = spreadSkew match {
      case "on"  => true
      case "off" => false
      case _ =>
        // pair-mass bound per entity: touches × conversions (the
        // lookback window only shrinks it). One aggregation pass,
        // 1-row result — the probe is O(events), the mistake it
        // prevents is O(hot-entity pairs) on one core
        val prof = touch.groupBy(col("user"))
          .agg(count(lit(1)).as("tc"))
          .join(conv.groupBy(col("user")).agg(count(lit(1)).as("cc")),
            Seq("user"))
          .select((col("tc").cast("decimal(38,0)") *
            col("cc").cast("decimal(38,0)")).as("pb"))
          .agg(coalesce(max(col("pb")), lit(0).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("mx"),
            coalesce(sum(col("pb")), lit(0).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("tot"))
          .head()
        val (mx, tot) = (BigDecimal(prof.getDecimal(0)),
          BigDecimal(prof.getDecimal(1)))
        tot >= BigDecimal(1L << 20) && mx * 10 >= tot
    }
    val pairs0 = touch.join(conv, Seq("user"))
      .filter(col("touch_us") < col("conv_us") &&
        col("touch_us") >= col("conv_us") - lit(lookbackUs))
    val pairs =
      if (doSpread) pairs0.repartition(col("user"), col("conv_us"))
      else pairs0
    // unordered frame: count/min/max need no ORDER BY, and struct
    // min/max IS the lexicographic (time, id) tie-break
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user"), col("conv_us"))
    val d = pairs
      .withColumn("n_touch", count(lit(1)).over(w))
      .withColumn("__fst",
        min(struct(col("touch_us"), col("touch_id"))).over(w))
      .withColumn("__lst",
        max(struct(col("touch_us"), col("touch_id"))).over(w))
    val isF = col("touch_id") === col("__fst.touch_id")
    val isL = col("touch_id") === col("__lst.touch_id")
    val credit = model match {
      case "first" => when(isF, lit(unit)).otherwise(lit(0L))
      case "last" => when(isL, lit(unit)).otherwise(lit(0L))
      case "linear" => fdivC(lit(unit), col("n_touch"))
      case "position" =>
        when(col("n_touch") === 1, lit(unit))
          .when(col("n_touch") === 2 && isF, lit(unit / 2))
          .when(col("n_touch") === 2, lit(unit - unit / 2))
          .when(isF, lit(unit * 4 / 10))
          .when(isL, lit(unit * 4 / 10))
          .otherwise(fdivC(lit(unit * 2 / 10), col("n_touch") - 2))
    }
    d.select(col("user"), col("conv_us"), col("touch_id"), col("touch_us"),
      col("channel"), col("n_touch"), credit.cast("long").as("credit"))
  }

  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapUs: Long): DataFrame = {
    require(gapUs > 0, "gapUs must be positive")
    val us = toUs(events, tsCol)
    val w = Window.partitionBy(col(userCol)).orderBy(us)
    val opens = when(
      us - lag(us, 1).over(w) > gapUs || lag(us, 1).over(w).isNull, 1L)
      .otherwise(0L)
    events.withColumn("session_idx",
      sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }
}
