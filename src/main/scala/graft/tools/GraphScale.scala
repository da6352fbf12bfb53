package graft.tools

import org.apache.spark.sql.functions._

/** Scale harness for Graph.pageRank: synthetic graph (the CcScale
  * random shape — ~2N nodes at N edges, so degrees are small and
  * plentiful — or a hub-skewed shape where ~20% of edges point at a
  * 16-node hub set, the web-graph regime), fixed iterations, then the
  * invariants validated DISTRIBUTEDLY (no driver union of ranks):
  *
  *  - every node carries rank >= base (the (1-d)/N floor term)
  *  - Σ rank <= unit (mass never inflates; dangling/floor leak only)
  *  - rank relation has exactly one row per node
  *  - partition-invariance at the first decade: repartition(17) input
  *    yields the identical rank relation (except-count 0 both ways)
  *
  * args: [edges (default 1,000,000)] [iterations (default 3)]
  *       [shape: random|hub]
  */
object GraphScale {
  def main(args: Array[String]): Unit = {
    val nEdges = if (args.length > 0) args(0).toLong else 1000000L
    val iters = if (args.length > 1) args(1).toInt else 3
    val shape = if (args.length > 2) args(2) else "random"
    val cpus = graft.Session.cpus(32)
    val spark = graft.Session.local(cpus, "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))
    // Reliable round checkpoints (the cluster-recommended mode): the
    // local-block path lost evicted blocks once under 8g-heap GC
    // pressure at the third decade — checkpoint files don't evict.
    val ckpt = java.nio.file.Files.createTempDirectory("graphscale-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)

    // Skew/memory evidence for the shuffled-hash join conversions
    // (r16, guide §2.3/§5): per-task shuffle-read max vs a running
    // total (max/mean ratio proxies partition skew), cumulative spill,
    // and whether any executed plan carried an AQE skew-split read —
    // printed alongside the timing line so decade rows in SCALE.md can
    // cite task-balance and spill directly.
    val maxTaskShufRead = new java.util.concurrent.atomic.AtomicLong(0)
    val sumShufRead = new java.util.concurrent.atomic.AtomicLong(0)
    val nTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val totalSpill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            val rd = m.shuffleReadMetrics.totalBytesRead
            maxTaskShufRead.accumulateAndGet(rd, Math.max(_: Long, _: Long))
            sumShufRead.addAndGet(rd)
            nTasks.incrementAndGet()
            totalSpill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
          }
        }
      })
    @volatile var sawSkewSplit = false
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          if (qe.executedPlan.toString.contains("skewed=true") ||
              qe.executedPlan.toString.contains("isSkew=true"))
            sawSkewSplit = true
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })

    val n = nEdges * 2
    val edges = (shape match {
      case "hub" =>
        // 20% of edges land on a 16-node hub set: heavy in-degree skew
        spark.range(nEdges).select(
          pmod(xxhash64(col("id")), lit(n)).as("src"),
          when(pmod(xxhash64(col("id"), lit(2)), lit(5)) === 0,
            pmod(xxhash64(col("id"), lit(3)), lit(16)))
            .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(n))).as("dst"))
      case "rings" =>
        // disjoint directed 64-cycles covering the id space: maximal
        // SCC mass at min-label diameter 63 — exercises the scc
        // fixpoints' depth where the random shape is acyclic-thin
        spark.range(nEdges).select(col("id").as("src"),
          when(pmod(col("id") + 1, lit(64L)) === 0, col("id") - 63)
            .otherwise(col("id") + 1).as("dst"))
      case "ktmix" =>
        // cascade-vs-survivor mix for incremental k-truss: per
        // 16-id block, ids 0-7 carry a triangle strip (path r<7 +
        // skip r<6 — at k=4 the strip CASCADES to empty: skips and
        // end path edges die round 1, stripped interiors round 2)
        // while ids 8-15 carry two 4-cliques (support 2 = k−2,
        // SURVIVE untouched). Round 2+ must cost ∝ the strip
        // cascade, never re-enumerating the surviving cliques'
        // wedges — the full-recompute formulation pays the clique
        // mass every round, the incremental one only the cascade.
        // 25 edges per block.
        {
          val blocks = math.max(1L, nEdges / 25L)
          val o = spark.range(blocks * 16)
            .select(col("id").as("k"), pmod(col("id"), lit(16L)).as("r"),
              (col("id") - pmod(col("id"), lit(16L))).as("base"))
          val strip1 = o.filter(col("r") < 7)
            .select(col("k").as("src"), (col("k") + 1).as("dst"))
          val strip2 = o.filter(col("r") < 6)
            .select(col("k").as("src"), (col("k") + 2).as("dst"))
          val m = o.filter(col("r") >= 8)
            .select(col("k"), col("base"),
              (col("base") + when(col("r") < 12, lit(8L))
                .otherwise(lit(12L))).as("cl"))
          val clique = m.as("x").join(m.as("y"),
              col("x.cl") === col("y.cl") && col("x.k") < col("y.k"))
            .select(col("x.k").as("src"), col("y.k").as("dst"))
          strip1.unionByName(strip2).unionByName(clique)
        }
      case _ =>
        spark.range(nEdges).select(
          pmod(xxhash64(col("id")), lit(n)).as("src"),
          pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst"))
    }).cache()
    edges.count()

    val unit = 1000000000000L
    val op = if (args.length > 3) args(3) else "pagerank"
    // bfs: a 0.1%-of-id-space seed set, depth capped at `iters`
    lazy val seeds = spark.range(0L, n, 1000L).select(col("id"))
    // sssp: per-edge weight 1..8 derived from the endpoint hash, so
    // re-derivation in the invariant join sees the identical weights
    def weighted(ed: org.apache.spark.sql.DataFrame) =
      ed.withColumn("w",
        pmod(xxhash64(col("src"), col("dst")), lit(8L)) + lit(1L))
    def run(ed: org.apache.spark.sql.DataFrame) = op match {
      case "hits" => graft.functions.Graph.hits(ed, iters)
      case "lpa" => graft.functions.Graph.labelPropagation(ed, iters)
      case "bfs" => graft.functions.Graph.bfsDistance(ed, seeds, iters)
      case "sssp" => graft.functions.Graph.sssp(weighted(ed), seeds, iters)
      case "harmonic" =>
        // p=8 (256 B/node): the harness measures the round/exchange
        // shape across decades, not estimator precision
        graft.functions.Graph.harmonicCentrality(ed, iters, p = 8)
      case "triangles" => graft.functions.Graph.triangles(ed)
      case "kcore" => graft.functions.Graph.kcore(ed, 2, iters)
      // maxK 4, per-k rounds = iters: the random shape's degeneracy
      // is small (mean degree ~1 at 2N nodes), so the empty early
      // exit fires well inside the cap
      case "coreness" => graft.functions.Graph.coreness(ed, 4, iters)
      case "scc" => graft.functions.Graph.stronglyConnectedComponents(ed)
      // k=3 (support ≥ 1): the random shape's sparse triangle mass
      // peels to the mutual-embedding skeleton in a few rounds; the
      // synthetic edge-id column gives the harness's dup check a
      // meaningful target (one row per surviving edge)
      case "ktruss" =>
        // ktmix runs at k=4, where its strip mass cascades and its
        // clique mass survives; the random shape keeps k=3
        graft.functions.Graph.ktruss(ed, if (shape == "ktmix") 4 else 3,
            iters)
          .select((col("a") * lit(4294967296L) + col("b")).as("id"),
            col("a"), col("b"), col("support"))
      case "betweenness" =>
        graft.functions.Graph.betweenness(ed, seeds, iters)
      // deterministic walk corpus: `iters` steps, one walk per node;
      // the synthetic id makes the harness dup check pin "one row per
      // (start, walk, step)" — start ids are < 2n, so the packing is
      // collision-free at every decade
      case "walks" =>
        graft.functions.Graph.randomWalks(ed, iters, 1, 42L)
          .select(((col("start") * lit(2) + col("walk")) *
              lit(iters + 1L) + col("step")).as("id"),
            col("start"), col("walk"), col("step"), col("id").as("node"))
      // embedding-corpus tail: walks → skip-gram pairs → k=2
      // negative draws from the corpus unigram^0.75 distribution at
      // buckets=1024; the packed id pins exactly one row per
      // ((center, context), j)
      case "negs" =>
        val w = graft.functions.Graph.randomWalks(ed, iters, 1, 42L)
        val pairs = graft.functions.Graph.skipGramPairs(w, 2)
        val freqs = w.groupBy(col("id")).count()
        graft.functions.Graph.skipGramNegatives(pairs, freqs, k = 2,
            seed = 91L, buckets = 1024)
          .select(((col("center") * lit(nEdges * 2L) + col("context"))
              * 2 + col("j")).as("id"),
            col("center"), col("context"), col("j"), col("neg"))
      // node2vec face, (p, q) = (4, 2): same output shape, so it
      // shares the walks invariants below
      case "walks_n2v" =>
        graft.functions.Graph.randomWalksBiased(ed, iters, 1, 42L,
            returnW = 250L, commonW = 1000L, exploreW = 500L)
          .select(((col("start") * lit(2) + col("walk")) *
              lit(iters + 1L) + col("step")).as("id"),
            col("start"), col("walk"), col("step"), col("id").as("node"))
      case _ => graft.functions.Graph.pageRank(ed, iters)
    }
    val t0 = System.nanoTime()
    val pr = run(edges).cache()
    val nodes = pr.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val nodeCount = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct().count()
    val dupIds = pr.groupBy(col("id")).count().filter(col("count") > 1).count()
    // op-specific mass/range invariants
    val (badRows, total) = op match {
      case "hits" =>
        val bad = pr.filter(col("hub") < 0 || col("auth") < 0).count()
        val t = pr.agg(greatest(
          sum(col("hub")).cast("decimal(38,0)"),
          sum(col("auth")).cast("decimal(38,0)"))).head().getDecimal(0)
        (bad, t)
      case "lpa" =>
        // every label must be a node id (labels only ever copy ids);
        // set semantics — many nodes legitimately share a label
        val ids = pr.select(col("id"))
        val bad = pr.select(col("label").as("id")).distinct()
          .join(ids, Seq("id"), "left_anti").count()
        (bad, java.math.BigDecimal.ZERO)
      case "bfs" =>
        // parent-level consistency, distributed: every reached
        // non-seed node's BEST in-neighbor sits exactly one level up
        // (a closer parent would have discovered it a level earlier)
        val d1 = pr.select(col("id").as("dst"), col("dist").as("ddist"))
        val d0 = pr.select(col("id").as("src"), col("dist").as("sdist"))
        val bad = edges.join(d1, Seq("dst")).join(d0, Seq("src"))
          .groupBy(col("dst"), col("ddist"))
          .agg(min(col("sdist")).as("mp"))
          .filter(col("ddist") > 0 && col("mp") + 1 =!= col("ddist"))
          .count()
        val range = pr.filter(col("dist") < 0 || col("dist") > iters).count()
        val t = pr.agg(max(col("dist")).cast("decimal(38,0)")).head().getDecimal(0)
        (bad + range, t)
      case "sssp" =>
        // Bellman–Ford fixpoint consistency, distributed: at
        // convergence every reached NON-SEED node's dist equals
        // min over reached in-neighbors of (parent dist + edge w);
        // dist < that minimum is impossible by construction, dist >
        // means the loop exited before the fixpoint (raise iters)
        val ew = weighted(edges)
        val d1 = pr.select(col("id").as("dst"), col("dist").as("ddist"))
        val d0 = pr.select(col("id").as("src"), col("dist").as("sdist"))
        val bad = ew.join(d1, Seq("dst")).join(d0, Seq("src"))
          .groupBy(col("dst"), col("ddist"))
          .agg(min(col("sdist") + col("w")).as("best"))
          .filter(col("ddist") =!= 0 && col("ddist") =!= col("best"))
          .count()
        val neg = pr.filter(col("dist") < 0).count()
        val t = pr.agg(max(col("dist")).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (bad + neg, t)
      case "harmonic" =>
        // every node reaches itself (ball ≥ ~1 even at p=8 linear
        // counting) and harmonic mass is non-negative
        val bad = pr.filter(col("harmonic") < 0 || col("reachable") < 0.5)
          .count()
        val t = pr.agg(max(col("reachable")).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (bad, t)
      case "triangles" =>
        // corner-sum parity: Σ per-node counts = 3 × #triangles —
        // an orientation bug that double-generates a triangle breaks
        // the mod as soon as it hits an asymmetric wedge
        val neg = pr.filter(col("triangles") < 0).count()
        val t = pr.agg(sum(col("triangles")).cast("decimal(38,0)"))
          .head().getDecimal(0)
        val parity = if (t.remainder(java.math.BigDecimal.valueOf(3))
          .compareTo(java.math.BigDecimal.ZERO) == 0) 0L else 1L
        (neg + parity, t)
      case "kcore" =>
        // survivors carry their degree in the surviving subgraph:
        // strictly positive (isolated nodes leave the edge set) and
        // Σ deg = 2 × surviving edges — odd totals mean a half-edge
        val neg = pr.filter(col("deg") < 1).count()
        val t = pr.agg(coalesce(sum(col("deg")), lit(0L))
          .cast("decimal(38,0)")).head().getDecimal(0)
        val parity = if (t.remainder(java.math.BigDecimal.valueOf(2))
          .compareTo(java.math.BigDecimal.ZERO) == 0) 0L else 1L
        (neg + parity, t)
      case "coreness" =>
        // distributed bounds: 1 ≤ coreness ≤ maxK, and coreness(v) ≤
        // deg(v) (a node cannot out-survive its own degree — the
        // undirected degree bounds every core membership). Degrees
        // re-derived from the canonical edge set for the join.
        val range = pr.filter(col("coreness") < 1 || col("coreness") > 4)
          .count()
        val canon = edges
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b")).distinct()
        val deg = canon.select(col("a").as("id"))
          .union(canon.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        val over = pr.join(deg, Seq("id"))
          .filter(col("coreness") > col("deg")).count()
        val t = pr.agg(sum(col("coreness")).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (range + over, t)
      case "ktruss" =>
        // canonical edge order, non-negative supports, and the
        // corner-sum parity: Σ support = 3 × #triangles in the
        // SURVIVING subgraph (supports are always measured there)
        val neg = pr.filter(col("support") < 0 ||
          col("a") >= col("b")).count()
        val t = pr.agg(coalesce(sum(col("support")), lit(0L))
          .cast("decimal(38,0)")).head().getDecimal(0)
        val parity = if (t.remainder(java.math.BigDecimal.valueOf(3))
          .compareTo(java.math.BigDecimal.ZERO) == 0) 0L else 1L
        // ktmix's closed form: every strip edge cascades away, the
        // two 4-cliques per block survive (12 edges, support 2 each)
        // — any incremental-decrement error leaves strays or wrong
        // supports
        val mixBad = if (shape != "ktmix") 0L else {
          val blocks = math.max(1L, nEdges / 25L)
          val wrong = pr.filter(col("support") =!= 2).count()
          val cnt = pr.count()
          wrong + math.abs(cnt - blocks * 12L)
        }
        (neg + parity + mixBad, t)
      case "scc" =>
        // distributed invariants: rep ≤ id (rep is the SCC minimum);
        // every rep maps to ITSELF (rep rows are fixpoints of the
        // assignment); every rep is an assigned node. Output must
        // cover all nodes (the harness does NOT exempt scc from the
        // node-count check — an outer-cap miss fails loudly).
        val over = pr.filter(col("rep") > col("id")).count()
        val selfMap = pr.select(col("rep").as("id")).distinct()
          .join(pr, Seq("id"), "left")
          .filter(col("rep").isNull || col("rep") =!= col("id")).count()
        val t = pr.agg(countDistinct(col("rep")).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (over + selfMap, t)
      case "betweenness" =>
        // non-negative scores, zero-filled coverage of exactly the
        // non-self-loop edge nodes (self-loops are erased by the op)
        val neg = pr.filter(col("btw") < 0).count()
        val expected = edges.filter(col("src") =!= col("dst"))
          .select(col("src").as("id"))
          .union(edges.filter(col("src") =!= col("dst"))
            .select(col("dst").as("id"))).distinct().count()
        val cover = if (nodes == expected) 0L else 1L
        val t = pr.agg(coalesce(sum(col("btw")), lit(0L))
          .cast("decimal(38,0)")).head().getDecimal(0)
        (neg + cover, t)
      case "walks" | "walks_n2v" =>
        // distributed invariants: every consecutive hop is a real
        // edge (the correctness core — a wrong rank join or hash
        // mismatch fabricates hops), step 0 covers every src exactly
        // once per walk, and steps are gap-free per walk
        val hops = pr.as("p").join(pr.as("q"),
            col("p.start") === col("q.start") &&
              col("p.walk") === col("q.walk") &&
              col("p.step") + 1 === col("q.step"))
          .select(col("p.node").as("hsrc"), col("q.node").as("hdst"))
        val badHop = hops.join(
          edges.select(col("src").as("hsrc"), col("dst").as("hdst"))
            .distinct(), Seq("hsrc", "hdst"), "left_anti").count()
        val starts = edges.select(col("src")).distinct().count()
        val s0bad = if (pr.filter(col("step") === 0).count() == starts) 0L
          else 1L
        val gaps = pr.groupBy(col("start"), col("walk"))
          .agg(count(lit(1)).as("cnt"), max(col("step")).as("mx"))
          .filter(col("cnt") =!= col("mx") + 1).count()
        val t = pr.agg(count(lit(1)).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (badHop + s0bad + gaps, t)
      case "negs" =>
        // one draw per ((center, context), j): row count = 2 × the
        // pair-multiset size; every neg must be a positive-frequency
        // corpus node (walks re-derive deterministically)
        val w = graft.functions.Graph.randomWalks(edges, iters, 1, 42L)
        val nPairs = graft.functions.Graph.skipGramPairs(w, 2).count()
        val sizeBad = if (nodes == nPairs * 2) 0L else 1L
        val corpusNodes = w.groupBy(col("id")).count()
          .filter(col("count") > 0).select(col("id").as("neg"))
        val offCorpus = pr.join(corpusNodes, Seq("neg"), "left_anti")
          .count()
        val t = pr.agg(count(lit(1)).cast("decimal(38,0)"))
          .head().getDecimal(0)
        (sizeBad + offCorpus, t)
      case _ =>
        val base = java.math.BigDecimal.valueOf((unit * 150L / 1000L) / nodeCount)
        val bad = pr.filter(col("rank") < lit(base)).count()
        val t = pr.agg(sum(col("rank")).cast("decimal(38,0)")).head().getDecimal(0)
        (bad, t)
    }

    var mismatch = -1L
    if (nEdges <= 1000000L) {
      val pr2 = run(edges.repartition(17))
      mismatch = pr.exceptAll(pr2).count() + pr2.exceptAll(pr).count()
    }

    val meanRd = if (nTasks.get() == 0) 0.0
      else sumShufRead.get().toDouble / nTasks.get()
    println(f"""{"op":"$op","edges":$nEdges,"iters":$iters,"shape":"$shape","nodes":$nodes,"sec":$sec%.1f,"bad_rows":$badRows,"total":${total},"unit":$unit,"dup_ids":$dupIds,"partition_mismatch":$mismatch,"max_task_shuffle_read_mb":${maxTaskShufRead.get() / 1e6}%.1f,"mean_task_shuffle_read_mb":${meanRd / 1e6}%.3f,"spill_mb":${totalSpill.get() / 1e6}%.1f,"aqe_skew_split":$sawSkewSplit}""")
    require((op == "bfs" || op == "sssp" || op == "kcore" ||
        op == "coreness" || op == "ktruss" || op == "walks" ||
        op == "walks_n2v" || op == "negs" || op == "betweenness" ||
        nodes == nodeCount) &&
      badRows == 0 && dupIds == 0 &&
      (op == "lpa" || op == "bfs" || op == "sssp" || op == "triangles" ||
        op == "kcore" || op == "harmonic" || op == "coreness" ||
        op == "scc" || op == "ktruss" || op == "walks" ||
        op == "walks_n2v" || op == "negs" || op == "betweenness" ||
        total.compareTo(java.math.BigDecimal.valueOf(unit)) <= 0) &&
      mismatch <= 0, "invariant violation")
    spark.stop()
  }
}
