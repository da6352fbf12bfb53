package graft

import graft.operators.{Ops, TtlCache}

/** Plan-regression guard: the scale properties claimed in SCALE.md,
  * asserted on the actual physical plans so refactors can't silently
  * lose pushdown, broadcast, or codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter and prunes columns at the scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "projection should prune unused columns")
  }

  test("q_filter predicates reach the parquet scan") {
    val p = plan("q_filter")
    // PushedFilters list renders truncated; the pushed predicates are
    // visible via DataFilters and the PushedFilters prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    assert(p.contains("> 45.0)"), p)
  }

  test("dim enrichment is a broadcast hash join") {
    val p = plan("q_enrich_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "small dim must broadcast")
  }

  test("q5 star joins broadcast all three dims") {
    val p = plan("q5_region_revenue")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // executedPlan.toString marks whole-stage-codegen stages with a "*(n)" prefix
  private def inCodegen(p: String): Boolean = p.linesIterator.next().trim.startsWith("*(")

  test("stateless queries stay inside whole-stage codegen") {
    // q_text_quality/q_text_stats are codegen'd via the fused token-scan
    // expressions (TokenExprs) — the filter(split(...)) composition they
    // replaced evaluated interpreted.
    for (q <- Seq("q_map", "q_filter", "q_flat_map", "q_key_on", "q_text_quality",
        "q_text_stats", "q_text_repetition", "q_text_bpe")) {
      val p = plan(q)
      assert(inCodegen(p), s"$q lost codegen:\n$p")
    }
  }

  test("custom expressions do not break codegen") {
    val p = plan("q_text_fingerprint")
    assert(inCodegen(p), p)
    // simhash query: the custom expression participates in codegen'd projection
    val ps = plan("q_dedup_simhash")
    assert(ps.contains("simhash64") || ps.contains("SimHash64"), ps)
  }

  test("dedup and ANN gate queries have no cartesian product") {
    // The embed gates moved off bruteForce crossJoin in round 2: pairs
    // and topK join on the sign bucket; IVF's only "cross" join is the
    // 16-row broadcast centroid assignment (BroadcastNestedLoopJoin
    // against a fixed nlist — constant work per row, scale-safe).
    for (q <- Seq("q_dedup_ngram", "q_dedup_ngram_skew", "q_dedup_minhash",
        "q_dedup_simhash", "q_dedup_winnow",
        "q_embed_pairs", "q_embed_pairs_amp", "q_embed_topk", "q_embed_lsh",
        "q_embed_ivf", "q_embed_ivf2")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q fell back to cross join:\n$p")
    }
    // the amplified path's production variant too: candidates join on
    // (table, bucket) equality, never a cross join
    val emb = Tables.load(spark, sf0001, "embeddings")
    val amp = graft.functions.Similarity
      .bucketedCosinePairsAuto(emb, "vec_id", "embedding", 0.3)
      .queryExecution.executedPlan.toString
    assert(!amp.contains("CartesianProduct"), amp)
  }

  test("hard-negative mining: no cartesian, positives anti-joined, map-side top-k") {
    // the anti-join must shuffle only (qid, nid) keys and the rank must
    // collapse map-side exactly like the plain ANN rankers — the
    // positive filter must not break the partial top-k below the
    // exchange
    val p = plan("q_embed_hardneg")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), s"positives should anti-join:\n$p")
    assert(p.contains("partial_top_k_by"), s"lost the map-side top-k:\n$p")
  }

  test("tfidf ranks with partial top-k pushdown; decontam joins without cartesian") {
    val p = plan("q_text_tfidf")
    assert(p.contains("WindowGroupLimit"), p) // partial rank limit below the shuffle
    assert(!p.contains("CartesianProduct"), p)
    val d = plan("q_curate_decontam")
    assert(!d.contains("CartesianProduct"), d)
  }

  test("q_dedup_cluster converges to a checkpoint-backed star mapping") {
    // the alternating-star loop localCheckpoints each round: the final
    // plan must read materialized RDD blocks (lineage truncated — an
    // un-truncated loop nests self-joins exponentially) and contain no
    // cartesian product anywhere
    val p = plan("q_dedup_cluster")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("bucketed ANN topK computes partial top-k below the rank shuffle") {
    // partial_top_k_by (TopKByAgg map-side phase) collapses each
    // partition to k entries per query BEFORE the exchange — at corpus
    // scale this is the difference between shuffling tasks·k rows and
    // shuffling every candidate pair. (Previously WindowGroupLimit
    // gave the same guarantee but still SORTED candidates inside each
    // partition; the aggregate replaced it after the sort's spill
    // killed the 2M-vector decade — SCALE.md.)
    for (q <- Seq("q_embed_topk", "q_embed_ivf")) {
      val p = plan(q)
      assert(p.contains("partial_top_k_by"), s"$q lost the map-side top-k:\n$p")
      assert(p.indexOf("partial_top_k_by") > p.indexOf("Exchange"),
        s"$q: partial agg should appear BELOW (after, in plan text) the exchange:\n$p")
    }
  }

  test("generic window logic is one exchange + in-partition sort") {
    val p = plan("q_window_logic")
    assert(p.contains("REPARTITION_BY_COL"), p)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      s"expected exactly one shuffle:\n$p")
  }

  test("shuffleShards is one exchange + in-partition sort (no global range sort)") {
    // shard assignment is a projection over the scan; only the window's
    // hash partition on shard moves data — a rangepartitioning exchange
    // here would mean an accidental global sort (sampled boundaries, a
    // second pass over the data)
    val p = plan("q_shuffle_shard")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      s"expected exactly one shuffle:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort crept in:\n$p")
  }

  test("size-limited collect chunks in one exchange (agg reuses the window's partitioning)") {
    // groupBy(key, chunk) must NOT re-shuffle: HashPartitioning(key)
    // from the row_number window satisfies clustering on (key, chunk)
    val p = plan("q_collect_chunks")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      s"expected exactly one shuffle:\n$p")
  }

  test("same-bucketed tables join without a shuffle") {
    val base = java.nio.file.Files.createTempDirectory("graft-bucket").toFile.getPath
    val orders = Tables.load(spark, sf0001, "orders").select("o_orderkey", "o_totalprice")
    val items = Tables.load(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity")
    graft.connectors.Connectors.writeBucketed(orders, "b_orders", s"$base/o", "o_orderkey", 4)
    graft.connectors.Connectors.writeBucketed(items, "b_lineitem", s"$base/l", "l_orderkey", 4)
    // disable broadcast so the planner takes the bucketed SMJ path (at
    // real fact-fact scale neither side broadcasts; sf0.001 dims do)
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldBc = spark.conf.getOption(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() === items.count())
    } finally {
      oldBc match {
        case Some(v) => spark.conf.set(bcKey, v)
        case None    => spark.conf.unset(bcKey)
      }
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("ANN rankers keep the top-k aggregate HASH-based above 128 groups/task") {
    // Spark's ObjectHashAggregate silently reverts to sort-based
    // aggregation at 128 distinct keys per task (the default
    // fallbackThreshold) — for the ANN rankers that re-materializes
    // every candidate row into the very sort TopKByAgg exists to kill
    // (measured 66 GB re-spill at the 2M-vector decade, SCALE.md).
    // The house session owns the conf: a ranker on it plans zero
    // fallback tasks, and a ranker on a session left at 128 only warns.
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.functions._
    import graft.functions.{Similarity, TopK}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(allNodes)
    }
    def fallbackTasks(df: DataFrame): Long = {
      // collect() drives df's OWN QueryExecution (a write would plan a
      // separate one whose metrics this plan never sees)
      df.collect()
      val aggs = allNodes(df.queryExecution.executedPlan)
        .collect { case o: ObjectHashAggregateExec => o }
      assert(aggs.nonEmpty, "expected an ObjectHashAggregate in the plan")
      aggs.map(_.metrics("numTasksFallBacked").value).sum
    }
    def vecs(s: SparkSession): DataFrame = s.range(1200).select(col("id"),
      array((col("id") % 7).cast("double"), (col("id") % 5).cast("double"),
        (col("id") % 3).cast("double"), lit(1.0)).as("v"))
    // a clone at Spark's default; the shared session is never touched
    val low = spark.newSession()
    low.conf.set(TopK.FallbackConf, "128")
    // negative control: at the Spark default the metric DOES fire —
    // proving the assertion below can actually detect the regression.
    // 2000 query groups, all in ONE partition — far past the 128 default
    val joined = low.range(2000).selectExpr("id % 2000 as qid")
      .crossJoin(low.range(8).selectExpr("id as nid"))
      .selectExpr("qid", "nid", "cast(qid * 8 + nid as double) as sim")
      .repartition(1)
    val bare = joined.groupBy(col("qid"))
      .agg(TopK.topKBy(col("sim"), col("nid"), 3).as("tk"))
    assert(fallbackTasks(bare) > 0, "negative control: expected sort fallback at threshold 128")

    // a PUBLIC ranker on the low session checks the conf and leaves it
    val (_, warns) = Observe.log("graft.TopK", org.apache.logging.log4j.Level.WARN) {
      Similarity.lshTopK(vecs(low), "id", "v", k = 3, bits = 2)
    }
    assert(low.conf.get(TopK.FallbackConf) === "128", "ranker changed the session's conf")
    assert(warns.size === 1, warns)
    assert(warns.head.contains(TopK.FallbackConf) &&
      warns.head.contains(TopK.RequiredFallbackThreshold.toString), warns.head)

    // the house session carries the threshold: zero fallback tasks
    assert(spark.conf.get(TopK.FallbackConf).toLong >= TopK.RequiredFallbackThreshold)
    val ranked = Similarity.lshTopK(vecs(spark), "id", "v", k = 3, bits = 2)
    assert(fallbackTasks(ranked) === 0L,
      "ranker's top-k aggregate fell back to sort-based aggregation")
  }

  test("classifier scoring broadcasts the model relations; ER links without cartesian") {
    // nbScoreCounts: the class relation (k rows) and word relation
    // (vocabulary-sized) must broadcast — a shuffled join against
    // corpus-sized tf rows would re-exchange the corpus per model
    // relation
    val pc = plan("q_text_classify")
    assert(pc.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 1, pc)
    assert(pc.contains("BroadcastNestedLoopJoin") || pc.contains("BroadcastHashJoin"), pc)
    assert(!pc.contains("CartesianProduct"), pc)
    // recordLink: blocking self-join is an equi-join on (bi, bk) —
    // never a cartesian/BNLJ; payload joins are equi on i/j
    val pe = plan("q_er_customer")
    assert(!pe.contains("CartesianProduct"), pe)
    assert(!pe.contains("BroadcastNestedLoopJoin"), pe)
  }

  test("bm25 serving broadcasts the query side; rrf fuses without cartesian") {
    // the corpus-scale postings relation must stream through a
    // BroadcastHashJoin against the KB-scale query terms — a shuffled
    // join would exchange the whole postings relation per query batch
    val pb = plan("q_search_bm25")
    assert(pb.contains("BroadcastHashJoin"), pb)
    assert(!pb.contains("CartesianProduct"), pb)
    // the fused ranking ranks through the map-side top-k aggregate,
    // not a window sort over every candidate
    val pr = plan("q_search_rrf")
    assert(pr.contains("top_k_by"), pr)
    assert(!pr.contains("CartesianProduct"), pr)
  }

  test("delta rollup: changed keys broadcast into the base scan; no corpus-wide aggregation") {
    import org.apache.spark.sql.functions._
    // production shape: prevAgg is a MATERIALIZED artifact (parquet),
    // not an inline recompute (the gate recomputes it only to stay
    // self-contained — that pair must not be mistaken for a base re-agg)
    val ords = Tables.load(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dir = java.nio.file.Files.createTempDirectory("graft-deltaplan").toString
    ords.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("spend"))
      .write.parquet(s"$dir/prev")
    val prev = spark.read.parquet(s"$dir/prev")
    val changes = ords.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1.0).as("o_totalprice"))
    val p = graft.functions.Maintain.refreshAggDelta(prev, ords, changes,
        "o_orderkey", Seq("o_custkey"), Seq(("o_totalprice", "spend")), "n")
      .queryExecution.executedPlan.toString
    // the departing-rows filter is a broadcast LeftSemi against the
    // changed-key set — a shuffled semi would exchange the whole base
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // exactly one grouped aggregation pair (partial+final over the
    // ±weighted delta rows): a second pair would mean the base was
    // re-aggregated wholesale, the exchange this operator exists to kill
    val aggs = "HashAggregate.*keys=\\[o_custkey".r.findAllIn(p).length
    assert(aggs === 2, s"expected 1 partial+final delta aggregate pair, plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("funnel reuses the entity partitioning; cohort is two exchanges") {
    // a cached subtree prints once per reference, so count DISTINCT
    // exchange plan_ids, not textual occurrences
    def shuffles(p: String): Int = {
      val ex = """Exchange hashpartitioning[^\n]*plan_id=(\d+)""".r
      ex.findAllMatchIn(p).map(_.group(1)).toSet.size
    }
    // funnel: the rounds run EAGERLY inside the call (the shared
    // checkpoint lifecycle — superseded rounds are released, the
    // final relation has truncated lineage), so the plan-shape claim
    // ("one data-scale shuffle per step; everything else moves
    // entity-scale checkpoint rows") is asserted on the EXECUTED
    // stages: a shuffle-map stage whose RDD DAG contains the event
    // FileScan moves data-scale rows — a 3-step funnel must run
    // exactly 3 of those. Broadcast disabled so the join shape is
    // the at-scale one.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(e.stageInfo); ()
      }
    }
    def dataScaleShuffles: Int = {
      import scala.jdk.CollectionConverters._
      stages.asScala.count(si =>
        si.taskMetrics.shuffleWriteMetrics.bytesWritten > 0 &&
          si.rddInfos.exists(_.name.contains("FileScan")))
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = SparkEntry.queries("q_events_funnel")(spark, sf0001)
      // the returned frame is a truncated-lineage checkpoint scan:
      // re-consuming the funnel result re-runs NOTHING
      val p = res.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), p)
      assert(!p.contains("Exchange"), p)
      // listener bus delivery is async: poll (bounded), then settle
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline && dataScaleShuffles < 3)
        Thread.sleep(100)
      Thread.sleep(300)
      assert(dataScaleShuffles === 3,
        s"expected exactly 3 data-scale shuffle stages for a 3-step funnel, got $dataScaleShuffles")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val prev2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      // cohort: one user-keyed collect_set exchange (map-side dedup)
      // + the small (cohort, offset) aggregation — never a third
      val c = plan("q_events_cohort")
      assert(shuffles(c) === 2, s"expected exactly 2 shuffles:\n$c")
      // sessionize: one exchange + in-partition sort, no range sort
      val s = plan("q_events_session")
      assert(shuffles(s) === 1, s"expected exactly one shuffle:\n$s")
      assert(!s.contains("Exchange rangepartitioning"), s)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev2)
  }

  test("attribution: one pair pass — windows reuse the join's entity partitioning") {
    // the scale contract in the scaladoc: the pair relation is built
    // ONCE (one SortMergeJoin) and the per-conversion facts come from
    // window aggregates whose (entity, conv) clustering the join's
    // entity-hash layout already satisfies — so the whole operator
    // runs exactly 3 exchanges (touch slice → user; conversion
    // distinct → (user, conv_us); conversion re-key → user) and the
    // pair relation itself NEVER re-exchanges. The groupBy-and-join-
    // back formulation this replaced executed the pair join 3× and
    // exchanged the pair relation twice more (plan-measured).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(allNodes)
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val ev = Tables.load(spark, sf0001, "events")
      val d = graft.functions.Events.attribution(ev, "user_id", "ts",
        "event_type", "event_id", "event_type", "purchase",
        Seq("view", "click", "signup"), 86400000000L, "position")
      d.collect()
      val nodes = allNodes(d.queryExecution.executedPlan)
      val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      val joins = nodes.count(_.isInstanceOf[SortMergeJoinExec])
      val windows = nodes.count(_.isInstanceOf[WindowExec])
      assert(joins === 1, s"expected ONE pair join, got $joins")
      assert(windows === 3, s"expected 3 window aggregates, got $windows")
      assert(shuffles === 3,
        s"expected 3 exchanges (touch, conv distinct, conv re-key), got $shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("clusteringCoefficient canonicalizes + aggregates degrees exactly once") {
    // the operator runs eagerly (Rounds lifecycle), so the claim is
    // asserted on EXECUTED stages, the funnel-spec way: (1) exactly
    // ONE stage reads the edge source — the single canonical
    // distinct's map side (the pre-refactor compose re-canonicalized
    // and re-aggregated inside triangles: a second source-reading
    // shuffle); (2) clustering's total shuffle work is the triangle
    // core's + at most the node-keyed cc join — not two extra
    // edge-set exchanges. Broadcast disabled so join shapes are the
    // at-scale ones.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    import scala.jdk.CollectionConverters._
    def stagesOf(body: => Unit): Seq[StageInfo] = {
      val q = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
      val l = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          q.add(e.stageInfo); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // listener bus is async: settle until no new stages arrive
        var last = -1
        val deadline = System.currentTimeMillis() + 15000
        while (System.currentTimeMillis() < deadline && q.size != last) {
          last = q.size; Thread.sleep(500)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      q.asScala.toSeq
    }
    // a stage physically containing the FileScanRDD (exact RDD name —
    // AQE names wrapper RDDs with the whole plan STRING, which
    // mentions "FileScan" textually without scanning anything)
    def sourceReads(ss: Seq[StageInfo]): Int =
      ss.count(_.rddInfos.exists(_.name.startsWith("FileScanRDD")))
    def shuffles(ss: Seq[StageInfo]): Int =
      ss.count(_.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    val dir = java.nio.file.Files.createTempDirectory("ccplan").toString
    spark.range(2, 4000).selectExpr("id AS src", "id DIV 2 AS dst")
      .write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val tri = stagesOf {
        graft.functions.Graph.triangles(spark.read.parquet(dir)).count()
      }
      val cc = stagesOf {
        graft.functions.Graph.clusteringCoefficient(spark.read.parquet(dir)).count()
      }
      assert(sourceReads(cc) === 1,
        s"clustering must read+canonicalize the edge source exactly once, got ${sourceReads(cc)}")
      assert(sourceReads(tri) === 1,
        s"triangles must read+canonicalize the edge source exactly once, got ${sourceReads(tri)}")
      assert(shuffles(cc) <= shuffles(tri) + 2,
        s"clustering should add at most the node-keyed cc join over the triangle core: " +
          s"tri=${shuffles(tri)} cc=${shuffles(cc)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("segment-five plans: anomaly broadcast-back, resample join-free, mmr/bloom/scd2 shapes") {
    // anomalies: the one-row-per-group stats relation joins BACK via
    // broadcast (the corpus never re-shuffles for the flag), and the
    // median selection never range-sorts the corpus
    val a = plan("q_events_anomaly")
    assert(a.contains("BroadcastHashJoin"), a)
    assert(!a.contains("Exchange rangepartitioning"), a)

    // resample: the validity-range rewrite has NO join of any kind —
    // one aggregate, one observation-scale window, one explode
    val r = plan("q_events_resample")
    assert(!r.contains("Join"), s"resample must be join-free:\n$r")
    assert(r.contains("Generate explode"), r)
    assert(r.contains("Window"), r)

    // mmr: the greedy select is the codegen'd expression over the
    // packed candidates — present once, no cartesian anywhere in the
    // candidate construction
    val m = plan("q_embed_mmr")
    assert(m.toLowerCase.contains("mmrselect"), m)
    assert(!m.contains("CartesianProduct"), m)

    // bloom-reduced join: the membership probe is a FILTER on the
    // probe side (a literal sketch — no sketch relation join), and the
    // exact join still runs
    val b = plan("q_bloom_join")
    assert(b.toLowerCase.contains("bloomcontains"), b)
    assert(!b.contains("CartesianProduct") && !b.contains("BroadcastNestedLoopJoin"), b)

    // scd2: the touched-key routing broadcasts (semi + anti), and NO
    // exchange sits over the DIMENSION scans — every hash exchange in
    // the plan moves change-batch rows (the key distinct, printed once
    // per reference and AQE-reused at runtime, plus the touched
    // candidate window); closed and untouched history rows pass
    // through shuffle-free
    val s = plan("q_scd2")
    assert(s.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2, s)
    val lines = s.linesIterator.toVector
    val antiIdx = lines.indexWhere(_.contains("LeftAnti"))
    assert(antiIdx >= 0 &&
      lines(antiIdx + 1).contains("FileScan") &&
      lines(antiIdx + 1).contains("customer.parquet"),
      s"untouched rows must anti-join directly over the dimension scan:\n$s")
  }

  test("round-10 plans: winsorize/bucketize broadcast bounds back, corr is one scan, containment never cartesians") {
    // winsorize + bucketize: the group-bounds relation joins BACK via
    // broadcast — the data never re-shuffles for the clamp/bin, and
    // there is exactly one grouped percentile aggregate pair
    for (q <- Seq("q_winsorize", "q_bucketize")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q bounds must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
      val aggs = p.linesIterator.count(l =>
        l.contains("Aggregate") && l.contains("percentile"))
      assert(aggs > 0 && aggs <= 2,
        s"$q: expected one partial+final percentile aggregate pair:\n$p")
    }
    // corrExact: all co-moments ride ONE aggregate over ONE scan —
    // no join anywhere (the k²-sized face explodes a 1-row aggregate)
    val c = plan("q_corr")
    assert("FileScan".r.findAllIn(c).length === 1, s"q_corr must be one scan:\n$c")
    assert(!c.contains("Join"), s"q_corr must not join:\n$c")
    // containment rides the inverted index exactly like the jaccard
    // path: the pair join is keyed on the shingle hash, no cartesian
    val d = plan("q_dedup_containment")
    assert(!d.contains("CartesianProduct") &&
      !d.contains("BroadcastNestedLoopJoin"), d)
    // pmi: the only nested-loop is the documented 1-row total
    // broadcast; bigram/unigram joins are keyed
    val m = plan("q_text_pmi")
    assert(!m.contains("CartesianProduct"), m)
  }

  test("TtlCache expires entries and isolates operator instances") {
    val a = TtlCache.instance[String, Int]("op-a", ttlMillis = 50)
    val b = TtlCache.instance[String, Int]("op-b", ttlMillis = 50)
    var fetches = 0
    def fetch() = { fetches += 1; fetches }
    assert(a.getOrFetch("k", fetch) === 1)
    assert(a.getOrFetch("k", fetch) === 1) // cached
    assert(b.getOrFetch("k", fetch) === 2) // separate instance, own entry
    Thread.sleep(80)
    assert(a.getOrFetch("k", fetch) === 3) // expired, refetched
  }
}
