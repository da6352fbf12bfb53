package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Link-graph analytics over plain edge relations — the web-graph
  * curation face of the corpus toolkit: PageRank-style authority
  * scores are a standard quality prior for crawl corpora (Page et al.
  * 1999; Common Crawl publishes harmonic-centrality/rank files used
  * exactly this way in pretraining pipelines).
  *
  * Everything here is DETERMINISTIC EXACT-INTEGER arithmetic in
  * micro-units (decimal(38,0)), like the house Gopher/per-mille and
  * sampling operators: double summation order varies per partitioning
  * on Spark, so a float PageRank is not reproducible run-to-run —
  * while a corpus quality prior must be (retries, incremental
  * refreshes, and the DuckDB oracle all demand bit-stable scores).
  * The quantization error is bounded by one micro-unit per edge per
  * round (floor division), orders of magnitude below any ranking
  * decision at unit = 1e12.
  */
object Graph {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Graph")

  /** Exact integer division on non-negative decimal(38,0) columns:
    * (a - a mod b) / b is exactly representable, so the decimal divide
    * (which would otherwise round at scale 6) is exact and the cast
    * back to scale 0 lossless. DuckDB mirror: HUGEINT `//`.
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Fixed-iteration PageRank over a directed edge relation whose
    * first two columns are (src, dst) node ids — returns (id, rank)
    * with rank in micro-units of `unit` (Σ ranks ≈ unit, minus
    * deterministic floor loss and dangling-node leakage).
    *
    * Semantics: r₀(v) = unit/N;
    * r₊(v) = ((1000−d)·unit/1000)/N + (d · Σ_{u→v} r(u)/out(u))/1000
    * with d = `dampingPermille` and every division a floor — the
    * classic power-iteration update in exact per-mille integer
    * arithmetic. Duplicate edges collapse (simple-graph semantics),
    * self-loops participate normally, dangling nodes (no out-edges)
    * leak their mass — the MapReduce-standard simplification;
    * re-normalize downstream if Σ rank must stay constant.
    *
    * Scale shape per iteration: one src-keyed join of the edge
    * relation against the N-row rank relation and one dst-keyed sum —
    * two hash exchanges, both partial-aggregable (decimal sums), no
    * window, no driver state. Like [[Dedup.connectedComponents]], the
    * operator RUNS actions: each round is materialized into a
    * checkpoint and the superseded round's blocks released — a pure
    * lazy plan re-derives every previous round per reference, making
    * the join work QUADRATIC in iterations (measured: the lazy form
    * spent 3× the per-round cost at 3 rounds). The static edge/node/
    * degree relations persist for the loop and release on return
    * (the final round's checkpoint carries the result). With a
    * session checkpoint dir set, rounds use reliable checkpoints
    * (executor-loss-safe on a real cluster); otherwise local blocks.
    */
  def pageRank(edges: DataFrame, iterations: Int,
      dampingPermille: Int = 850, unit: Long = 1000000000000L): DataFrame =
    powerIteration("pageRank", edges, iterations, dampingPermille, unit,
        longExact = unit <= LongExactUnitBound)(simpleDirected)(
      uniformTeleport(_, dampingPermille, unit))

  /** Edge-weighted PageRank: a node's rank splits across its
    * out-edges PROPORTIONALLY TO EDGE WEIGHT (w_uv / Σ_u w) instead
    * of uniformly — the natural form when edges carry link counts,
    * click-through volume, or co-occurrence strength (the co-order
    * graph's "shared orders" multiplicity). First three columns =
    * (src, dst, weight); weights cast to BIGINT, non-positive-weight
    * edges are dropped (they carry no mass and would poison Σw),
    * PARALLEL EDGES SUM their weights (multi-edge multiplicity is the
    * point of the weighted form — the uniform operator collapses
    * them). Same exact micro-unit arithmetic (contribution =
    * ⌊rank·w / Σw⌋, one floor per edge per round), damping, dangling
    * leak, round lifecycle, and scale shape as [[pageRank]] — the two
    * share one loop, and constant weights reduce BIT-IDENTICALLY to
    * the uniform ranks (⌊r·w/(w·od)⌋ = ⌊r/od⌋, spec-pinned). Keep
    * |rank·w| inside decimal(38,0): weights up to ~10²⁵ at the
    * default unit, far past any real multiplicity.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int,
      dampingPermille: Int = 850, unit: Long = 1000000000000L): DataFrame =
    powerIteration("pageRankWeighted", edges, iterations, dampingPermille,
        unit, longExact = false) { edges =>
      val Array(cs, cd, cw) = edges.columns.take(3)
      edges.select(col(cs).as("src"), col(cd).as("dst"),
          col(cw).cast("long").as("w"))
        .filter(col("w") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }(uniformTeleport(_, dampingPermille, unit))

  /** Seed-personalized PageRank — TrustRank (Gyöngyi et al.,
    * VLDB'04): teleport mass restricted to `seeds` (first column =
    * node id), so scores measure LINK-PROXIMITY TO A TRUSTED SET —
    * the curation move when a vetted sub-corpus exists (Wikipedia-
    * linked domains, curated feeds) and crawl quality should follow
    * the link graph outward from it. r₀ = unit/|S| on seeds and 0
    * elsewhere; the per-round base term likewise lands only on seeds;
    * nodes unreachable from the seed set score exactly 0. Same exact
    * micro-unit arithmetic, round lifecycle, and scale shape as
    * [[pageRank]]. Seeds that are not graph nodes are ignored (they
    * would hold teleport mass a linkless node can never spread); an
    * empty effective seed set yields all-zero ranks.
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
      dampingPermille: Int = 850, unit: Long = 1000000000000L): DataFrame =
    powerIteration("trustRank", edges, iterations, dampingPermille, unit,
        longExact = unit <= LongExactUnitBound)(simpleDirected) { nodes0 =>
      val seedIds = seeds.select(col(seeds.columns.head).as("id")).distinct()
      val flagged = nodes0.join(seedIds.withColumn("s", lit(1)), Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0)).as("s"))
      val n = flagged.agg(dec(sum(col("s"))).as("sn"))
        .select(col("sn"),
          when(col("sn") === dec(lit(0)), dec(lit(0)))
            .otherwise(idiv(idiv(dec(lit(unit)) * dec(lit(1000 - dampingPermille)),
              dec(lit(1000))), col("sn"))).as("sbase"),
          when(col("sn") === dec(lit(0)), dec(lit(0)))
            .otherwise(idiv(dec(lit(unit)), col("sn"))).as("sr0"))
      flagged.crossJoin(broadcast(n))
        .select(col("id"),
          when(col("s") === 1, col("sbase")).otherwise(dec(lit(0))).as("base"),
          when(col("s") === 1, col("sr0")).otherwise(dec(lit(0))).as("r0"))
    }

  /** The first two columns of `edges` as a duplicate-free (src, dst)
    * relation. */
  private def simpleDirected(edges: DataFrame): DataFrame = {
    val Array(cs, cd) = edges.columns.take(2)
    edges.select(col(cs).as("src"), col(cd).as("dst")).distinct()
  }

  /** The uniform teleport terms (id, base, r0): N and the constant
    * per-node base term come from a 1-row relation broadcast into the
    * update — never a driver-side collect.
    */
  private def uniformTeleport(nodes: DataFrame, dampingPermille: Int,
      unit: Long): DataFrame = {
    val consts = nodes.agg(dec(count(lit(1))).as("n"))
      .select(col("n"),
        idiv(idiv(dec(lit(unit)) * dec(lit(1000 - dampingPermille)),
          dec(lit(1000))), col("n")).as("base"),
        idiv(dec(lit(unit)), col("n")).as("r0"))
    nodes.crossJoin(broadcast(consts)).select(col("id"), col("base"), col("r0"))
  }

  /** The front end [[pageRank]], [[pageRankWeighted]] and [[trustRank]]
    * share: `prep` turns the caller's edges into the loop's
    * (src, dst[, w]) relation and `teleport` the node set into the
    * per-node (id, base, r0) teleport terms; zero iterations return
    * r0 as a lazy plan. The edge relation and the node set are pinned:
    * the edges feed the node derivation, the out-degree aggregate AND
    * the loop relation, the nodes the N aggregate and the teleport
    * vector — unpinned, the canonicalized edge subtree re-computes ~4x
    * during the build (measured: the build was 5 s of the sf0.1 gate's
    * 7 s wall; guide §1.2 "don't compute things twice").
    */
  private def powerIteration(op: String, edges: DataFrame, iterations: Int,
      dampingPermille: Int, unit: Long, longExact: Boolean)(
      prep: DataFrame => DataFrame)(
      teleport: DataFrame => DataFrame): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille in [0,1000], got $dampingPermille")
    require(unit > 0, "unit must be positive")
    Rounds.run(edges, op) { rounds =>
      val e0 = rounds.pin(prep(edges))
      val nodes0 = rounds.pin(e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id"))).distinct())
      val based = teleport(nodes0)
      if (iterations == 0) based.select(col("id"), col("r0").as("rank"))
      else propagate(rounds, e0, based, iterations, dampingPermille, longExact)
    }
  }

  /** Largest `unit` for which the UNIFORM power iteration is run in
    * native LONG arithmetic instead of decimal(38,0): every loop value
    * is non-negative and bounded by the total teleport mass (floors
    * only shed mass, so Σ rank ≤ unit in every round and each rank,
    * contribution, and contribution sum is ≤ unit individually), so
    * the largest intermediate is dampingPermille·agg ≤ 1000·unit ≤
    * 9·10¹⁸ < 2⁶³−1 — provably overflow-free, making the long path
    * BIT-IDENTICAL to the decimal path (non-negative long division IS
    * the floor) at a fraction of the per-row cost (decimal(38,0) is
    * software Int128; the graph loops are the measured hot path).
    * Units above the bound, and the weighted face (rank·w is
    * caller-weight-unbounded), keep the decimal(38,0) arithmetic and
    * its loud-overflow posture.
    */
  private val LongExactUnitBound = 9000000000000000L

  /** Ceiling on MEASURED build-side rows per shuffle partition for the
    * EDGE-sided shuffle_hash hints (the wedge self-join/closing join
    * and the betweenness frontier⋈edge loops). ShuffledHashJoin's
    * build map cannot spill, so past this bound the hint is withheld
    * and the planner keeps sort-merge's graceful-spill fallback
    * (r15 ADVICE: the hints were unconditional — correct and faster at
    * the gate scale, an executor-OOM risk on large graphs with modest
    * parallelism). ~2M rows of (long, long, struct) is low hundreds of
    * MB of hash map per task — safe for typical task memory, and
    * parallelism scaling with the data keeps the hint on at every
    * GraphScale decade with proportional partitions. NODE-sized build
    * hints (rank/frontier/label/star-center checkpoints) are not
    * gated: their build side is node-scale by construction.
    */
  private val HashBuildRowsPerPartition = 2000000L

  /** `df.hint("shuffle_hash")` only when `buildRows` spread over the
    * session's shuffle partitions stays under the per-partition bound;
    * otherwise `df` unhinted (planner's choice — sort-merge for the
    * stats-less relations this guards).
    */
  private def hashHintIfBounded(df: DataFrame, buildRows: Long): DataFrame = {
    val p = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    if (buildRows <= HashBuildRowsPerPartition * p) df.hint("shuffle_hash") else df
  }

  /** The shared power-iteration loop: `based` is (id, base, r0) — the
    * per-node teleport terms. Each round materializes into a
    * checkpoint and the superseded round's is released — a pure lazy
    * plan re-derives every previous round per reference, making join
    * work QUADRATIC in iterations (measured: the lazy form spent 3×
    * the per-round cost at 3 rounds). The static edge/node/degree
    * relations are pinned for the loop; the final round's checkpoint
    * carries the result.
    */
  private def propagate(rounds: Rounds, e0: DataFrame, based0: DataFrame,
      iterations: Int, dampingPermille: Int, longExact: Boolean): DataFrame = {
    // weighted flavor: when the edge relation carries a `w` column,
    // a node's mass splits w_uv/Σ_u w instead of 1/outdeg — for
    // constant w the floor divisions cancel exactly
    // (⌊r·w/(w·od)⌋ = ⌊r/od⌋), so the uniform path is the w≡1 case
    val weighted = e0.columns.contains("w")
    // the LongExactUnitBound overflow proof holds only for the UNIFORM
    // face (rank·w mass is caller-weight-unbounded): enforce the
    // invariant here rather than at call sites, so a future weighted
    // caller can never take the long branch into silent wraparound
    require(!(weighted && longExact),
      "propagate: longExact is provably safe only for the unweighted face")
    val wc = if (weighted) col("w") else lit(1L)
    // the out-mass denominator is a node property consumed at edges:
    // fold it into the edge relation ONCE and pin the result on src,
    // so each iteration joins only the node-sized rank relation
    // against a stationary layout — the per-iteration outdeg join and
    // both full-edge exchanges disappear (guide §2.4; the bfs/sssp
    // pinned-layout precedent). Long od in the longExact path: counts
    // and weight sums are ≤ the decimal od by construction there.
    val outdeg = e0.groupBy(col("src")).agg(
      (if (longExact) sum(wc).cast("long") else dec(sum(wc))).as("od"))
    val e = rounds.pin(e0.join(outdeg, Seq("src")).repartition(col("src")))
    e.count()
    val based = rounds.pin((if (longExact)
        based0.select(col("id"), col("base").cast("long").as("base"),
          col("r0").cast("long").as("r0"))
      else based0)
      .repartition(col("id")))
    var cur = rounds.mark(based.select(col("id"), col("r0").as("rank")))
    for (it <- 0 until iterations) {
      val rank = cur
      // non-negative long division IS the floor, so `DIV` on the long
      // path equals idiv on the decimal path bit-for-bit (see
      // [[LongExactUnitBound]] for the no-overflow proof)
      // shuffle_hash on the node-sized rank side: sort-merge would
      // re-SORT the pinned edge relation every round (the sort is not
      // cacheable); hash-building the rank side costs |N|/P per
      // partition and leaves the edge side streaming (guide §3.1)
      val contrib = e.join(rank.hint("shuffle_hash"),
          e("src") === rank("id"))
        .select(col("dst").as("id"),
          (if (weighted) idiv(dec(col("rank")) * dec(col("w")), col("od"))
           else if (longExact) expr("rank DIV od")
           else idiv(col("rank"), col("od"))).as("c"))
        .groupBy(col("id")).agg(
          (if (longExact) sum(col("c")).cast("long")
           else sum(col("c")).cast("decimal(38,0)")).as("agg"))
      // the final long-path round casts back to decimal(38,0) inside
      // the same checkpoint, so the public schema never changes and
      // no extra materialization job runs
      val rankExpr =
        if (longExact) {
          val r = col("base") + expr(
            s"(${dampingPermille}L * coalesce(agg, 0L)) DIV 1000L")
          if (it == iterations - 1) r.cast("decimal(38,0)")
          else r.cast("long")
        } else
          (col("base") + idiv(dec(lit(dampingPermille)) *
            coalesce(col("agg"), dec(lit(0))), dec(lit(1000))))
            .cast("decimal(38,0)")
      cur = rounds.replace(cur,
        based.join(contrib.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), rankExpr.as("rank")))
    }
    cur
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM'99) in the same exact
    * micro-unit arithmetic: h⁰(v) = unit; each iteration computes
    * a(v) = Σ_{u→v} h(u) then h(v) = Σ_{v→w} a(w), each
    * sum-normalized back to Σ ≈ unit by exact floor division (the
    * integer-friendly normalization; classic L2 would leave the
    * integer lattice). Returns (id, hub, auth) for every node,
    * zero-filled — on a bipartite graph the two scores live on
    * opposite sides, which is exactly the curation read (hub =
    * well-linking page, authority = well-linked page). Duplicate
    * edges collapse; a structurally-zero total (possible only on a
    * degenerate normalized-out graph) yields all-zero scores rather
    * than a division error. Per iteration: two edge⋈score joins and
    * two partial-aggregable decimal sums, each checkpointed raw by a
    * [[Rounds]] mark whose one job also folds the exact total; the
    * normalization is a lazy projection over that checkpoint with the
    * total as a literal, so no aggregate or broadcast job prices it.
    */
  def hits(edges: DataFrame, iterations: Int,
      unit: Long = 1000000000000L): DataFrame = Rounds.run(edges, "hits") { rounds =>
    require(iterations >= 0, "iterations must be >= 0")
    require(unit > 0, "unit must be positive")
    val e = rounds.pin(simpleDirected(edges))
    val nodes = rounds.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // sum-normalize a raw score relation to Σ ≈ unit (exact floor):
    // the round's mark folds the exact total in its own job, and the
    // normalization is a lazy projection over the checkpoint with the
    // total as a literal; an all-zero total yields zeros, never a
    // division error. `prev` (None: the uniform start) is released
    // once the round is marked.
    def normalized(prev: Option[DataFrame], raw: DataFrame,
        c: String): DataFrame = {
      val total = Rounds.fold(col(c))(BigInt(0))((t, r: Row) =>
        if (r.isNullAt(0)) t else t + BigInt(r.getDecimal(0).toBigInteger))(
        _ + _)
      val (ck, tot) = prev.fold(rounds.markWith(raw)(total))(
        rounds.replaceWith(_, raw)(total))
      ck.select(col("id"), (if (tot == 0) dec(lit(0))
        else idiv(col(c) * dec(lit(unit)),
          dec(lit(new java.math.BigDecimal(tot.bigInteger))))).as(c))
    }
    val h0 = nodes.select(col("id"), dec(lit(unit)).as("hub"))
    var h = Option.empty[DataFrame]
    var a = Option.empty[DataFrame]
    for (_ <- 0 until iterations) {
      // shuffle_hash on the node-sized score side: sort-merge would
      // sort the edge relation every round; hash-building the score
      // side leaves the edge side streaming (guide §3.1). Pinning
      // eSrc/eDst layouts was MEASURED SLOWER here (hits runs 2
      // iterations; two extra cache builds never amortize)
      val hub = h.getOrElse(h0)
      a = Some(normalized(a, e.join(hub.hint("shuffle_hash"),
          e("src") === hub("id"))
        .groupBy(e("dst").as("id"))
        .agg(sum(col("hub")).cast("decimal(38,0)").as("auth")), "auth"))
      val auth = a.get
      h = Some(normalized(h, e.join(auth.hint("shuffle_hash"),
          e("dst") === auth("id"))
        .groupBy(e("src").as("id"))
        .agg(sum(col("auth")).cast("decimal(38,0)").as("hub")), "hub"))
    }
    val out = nodes.join(h.getOrElse(h0), Seq("id"), "left")
      .join(a.getOrElse(nodes.select(col("id"), dec(lit(0)).as("auth"))),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hub"), dec(lit(0))).as("hub"),
        coalesce(col("auth"), dec(lit(0))).as("auth"))
    // the final join must not out-live the static relations: its own
    // checkpoint is all the result reads
    rounds.mark(out)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection for link-graph curation (domain clustering, spam-farm
    * discovery): label⁰(v) = v; each round every node adopts the most
    * frequent label among its IN-neighbors, DETERMINISTIC tie-break
    * to the smallest label (classic LPA breaks ties randomly, which
    * is not reproducible run-to-run; the house rule is bit-stable
    * results). Nodes with no in-edges keep their label. Propagation
    * follows edge direction — symmetrize (`union` the reversed edges)
    * for undirected communities.
    *
    * The argmax is a plain partial-aggregable `max(struct(cnt,
    * ~label))`: bitwise NOT is order-reversing and total on Long
    * (never overflows, unlike negation at MinValue), so maximizing
    * the struct maximizes count then minimizes label — no window, no
    * sort. Per round: one edge⋈label join, one (dst, label) count,
    * one dst-keyed max — two hash exchanges, both partial-aggregable;
    * rounds run the shared checkpoint lifecycle.
    */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame =
      Rounds.run(edges, "labelPropagation") { rounds =>
    require(iterations >= 0, "iterations must be >= 0")
    // pinned on src: every round joins the label relation on src, so
    // with the stationary layout only the node-sized label relation
    // exchanges per round (guide §2.4; the bfs/sssp precedent)
    val e = rounds.pin(simpleDirected(edges).repartition(col("src")))
    val nodes = rounds.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    var lab = rounds.mark(nodes.select(col("id"), col("id").as("label")))
    for (_ <- 0 until iterations) {
      val best = e.join(lab.hint("shuffle_hash"), e("src") === lab("id"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("id"))
        .agg(max(struct(col("cnt").as("c"),
          bitwise_not(col("label")).as("nl"))).as("m"))
        .select(col("id"), bitwise_not(col("m.nl")).as("adopted"))
      lab = rounds.replace(lab,
        lab.join(best.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("adopted"), col("label")).as("label")))
    }
    lab
  }

  /** Multi-source BFS distances: hop count from a SEED SET along edge
    * direction (symmetrize for undirected distance) — the frontier
    * companion to [[trustRank]]: trust scores weight by proximity,
    * this reports the proximity itself (crawl-frontier depth from
    * vetted domains, blast-radius of a removal set). Output: (id,
    * dist) for every node within `maxDepth` hops — seeds at 0
    * (including seeds absent from the edge set: distance-from-set is
    * defined on the set), unreached nodes absent.
    *
    * Per round: one src-keyed join frontier⋈edges + a distinct + one
    * anti-join against the discovered set, no windows; rounds run the
    * shared [[Rounds.fixpoint]] lifecycle and the loop EXITS EARLY when
    * a frontier comes back empty (the count is free: the round
    * checkpoint already materializes), so `maxDepth` is a cap, not a
    * cost. The discovered set is the union of the checkpointed
    * frontiers (disjoint, so compaction only re-marks the union); a
    * round marks its frontier and nothing else. The edge relation is
    * hash-partitioned on `src` ONCE and persisted — checkpointed
    * frontiers carry no size stats, so the optimizer won't broadcast
    * them, and without the pinned layout every round RE-EXCHANGES the
    * full edge set (measured: the 100M-edge depth-3 run dropped
    * 42.8 s → 32.5 s locally when the per-round edge shuffle
    * disappeared — and only frontier-sized relations moving per round
    * is the property that matters on a cluster, where the exchange is
    * network, not memcpy).
    */
  def bfsDistance(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = Rounds.run(edges, "bfsDistance") { rounds =>
    require(maxDepth >= 0, "maxDepth must be >= 0")
    val e = rounds.pin(simpleDirected(edges).repartition(col("src")))
    val (dist, _) = rounds.fixpoint(
        seeds.select(col(seeds.columns.head).as("id"))
          .distinct().withColumn("dist", lit(0L)), maxDepth) {
      (dist, frontier, depth) =>
        // shuffle_hash: sort-merge would re-sort the pinned edge set
        // AND the frontier every round; hashing the frontier (and the
        // discovered set for the anti-join) leaves both streaming
        e.join(frontier.hint("shuffle_hash"), e("src") === frontier("id"))
          .select(e("dst").as("id")).distinct()
          .join(dist.hint("shuffle_hash"), Seq("id"), "left_anti")
          .withColumn("dist", lit(depth.toLong))
    }(identity)
    dist
  }

  /** Exact per-node triangle counts over the UNDIRECTED simple graph
    * induced by `edges` (first two columns = endpoints; direction,
    * duplicates, and self-loops are erased) — the local-clustering
    * face of the link-graph toolkit: triangle density separates
    * organically-linked communities from spam farms and follower
    * rings (a link farm has star shape: high degree, near-zero
    * triangles), and feeds clustering-coefficient features directly.
    *
    * Algorithm: degree-ordered edge orientation (Suri &
    * Vassilvitskii, WWW'11 node-iterator++). Every edge is oriented
    * from its lower-(degree, id) endpoint to the higher, making the
    * orientation a DAG along a total order in which each node's
    * OUT-degree is O(√m) regardless of its true degree — a hub with
    * 10⁶ neighbors contributes wedges only through the ≤ O(√m)
    * neighbors above it in rank order, so the wedge self-join is
    * bounded by Σ out² ≤ m^1.5 instead of the Σ deg² hub blowup of
    * the naive form. Wedges (u→v, u→w with rank v < rank w) then
    * close against the oriented edge (v→w); each triangle is
    * generated EXACTLY once (its lowest-rank node is the only wedge
    * center whose two out-edges cover it), so the per-node count is a
    * plain explode of the three corners + one count — two shuffles
    * on edge-sized relations, one on the wedge relation, no windows.
    *
    * Output: (id, triangles) for EVERY node, zero-filled. Exact
    * BIGINT counts — nothing sampled, nothing probabilistic.
    */
  def triangles(edges: DataFrame): DataFrame = Rounds.run(edges, "triangles") { rounds =>
    val e = rounds.pin(canonicalUndirected(edges))
    trianglesCanonical(rounds, e, rounds.pin(undirectedDegrees(e)))
  }

  /** Canonical simple-graph edge set from the first two columns of
    * `edges`: (a, b) with a < b, self-loops dropped, duplicates (and
    * reversed duplicates) collapsed — ONE distinct exchange. Shared
    * by [[triangles]], [[clusteringCoefficient]], [[kcore]],
    * [[connectedComponents]] so composite operators canonicalize
    * exactly once.
    */
  private def canonicalUndirected(edges: DataFrame): DataFrame = {
    val Array(cs, cd) = edges.columns.take(2)
    edges.select(least(col(cs), col(cd)).as("a"),
        greatest(col(cs), col(cd)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** Undirected degree per node over a [[canonicalUndirected]] edge
    * set — one grouped count; its key set is exactly the node set, so
    * callers needing nodes read `deg.select("id")` instead of paying
    * a second union+distinct exchange.
    */
  private def undirectedDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Triangle core over a PRE-canonicalized edge set `e` (a, b) and
    * its PRE-aggregated degree relation `deg` (id, deg) — both pinned
    * by the caller. Lets [[clusteringCoefficient]] reuse its own
    * canonicalization + degree aggregate instead of paying them twice
    * (two redundant full edge-set exchanges at the 100M-edge decade).
    * Returns the checkpointed zero-filled (id, triangles) relation.
    */
  private def trianglesCanonical(rounds: Rounds, e: DataFrame,
      deg: DataFrame): DataFrame =
    closedWedges(rounds, e, deg) { tri =>
      val cnt = tri.select(explode(array(col("n0"), col("x"), col("y"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
      rounds.mark(deg.select(col("id")).join(cnt, Seq("id"), "left")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles")))
    }

  /** Every triangle of a canonical edge set `e` (a, b), given its degree
    * relation `deg` (id, deg), exactly once as (n0, x, y): the
    * degree-ordered orientation (wedge work ≤ m^1.5, see [[triangles]])
    * is pinned, `close` derives and marks its relation from the
    * triangles, and the orientation is released once that mark exists.
    */
  private def closedWedges(rounds: Rounds, e: DataFrame, deg: DataFrame)(
      close: DataFrame => DataFrame): DataFrame = {
    // rank = (degree, id): a total order, so orientation is acyclic;
    // rv carries the HEAD's rank key so the wedge join can order the
    // two out-neighbors without re-joining degrees
    val wd = e.join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = rounds.pin(wd.select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"),
        when(lowFirst, struct(col("db").as("d"), col("b").as("i")))
          .otherwise(struct(col("da").as("d"), col("a").as("i"))).as("rv")))
    // the count both materializes the pinned orientation ONCE for its
    // three readers and sizes the hint gate below
    val eN = oriented.count()
    // both joins hinted shuffle_hash (bounded — see hashHintIfBounded):
    // sort-merge would SORT the wedge relation (m^1.5 rows — the
    // dominant CPU term measured at sf0.1: 416 task-seconds, mostly
    // sort) where a shuffled-hash join only builds a hash map of the
    // EDGE-sized side per partition (|E|/P rows — bounded, and P
    // scales with the cluster), guide §3.1
    val wedges = oriented.as("e1")
      .join(hashHintIfBounded(oriented.as("e2"), eN),
        col("e1.u") === col("e2.u") && col("e1.rv") < col("e2.rv"))
      .select(col("e1.u").as("n0"), col("e1.v").as("x"), col("e2.v").as("y"))
    val res = close(wedges.join(
      hashHintIfBounded(
        oriented.select(col("u").as("x"), col("v").as("y")), eN),
      Seq("x", "y")))
    rounds.release(oriented)
    res
  }

  /** Local clustering coefficient in exact micro-units:
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) over the undirected
    * simple graph, floor(unit·…) per node — the normalized form of
    * [[triangles]] (a hub with a million neighbors and 10 triangles
    * is MORE suspicious than a 5-neighbor node with 10; the raw
    * count can't say that). Nodes with deg < 2 score 0 (no possible
    * wedge). ONE canonicalization + ONE degree aggregate shared with
    * the triangle core ([[trianglesCanonical]]) + a node-keyed join —
    * the naive compose (calling [[triangles]] on re-canonicalized
    * edges) pays two redundant full edge-set exchanges, the dominant
    * avoidable term at the 100M-edge decade. Same integer-exactness
    * rationale as [[pageRank]] — a float coefficient is not
    * bit-reproducible under re-partitioning, a curation score must
    * be. Output: (id, deg, triangles, cc) with cc in micro-units of
    * `unit` as BIGINT.
    */
  def clusteringCoefficient(edges: DataFrame,
      unit: Long = 1000000L): DataFrame =
      Rounds.run(edges, "clusteringCoefficient") { rounds =>
    require(unit > 0, "unit must be positive")
    val e = rounds.pin(canonicalUndirected(edges))
    val deg = rounds.pin(undirectedDegrees(e))
    val tri = trianglesCanonical(rounds, e, deg)
    val out = tri.join(deg, Seq("id"))
      .select(col("id"), col("deg"), col("triangles"),
        when(col("deg") < 2, lit(0L)).otherwise(
          idiv(dec(lit(unit)) * dec(lit(2L)) * dec(col("triangles")),
            dec(col("deg")) * dec(col("deg") - lit(1L))).cast("long"))
          .as("cc"))
    rounds.replace(tri, out)
  }

  /** k-core peeling over the UNDIRECTED simple graph induced by
    * `edges` (canonicalized like [[triangles]]): repeatedly delete
    * every node whose current degree is < k, up to `maxRounds`
    * iterations, EXITING EARLY at the fixpoint (at which point the
    * survivors are exactly the classical k-core). Output: (id, deg)
    * for each surviving node with its degree IN THE SURVIVING
    * subgraph — the degeneracy-ordering face of link curation: the
    * k-core isolates densely-interlinked regions (topic cores, but
    * also collusion rings when k is high relative to organic
    * density), and core-number thresholds are a standard crawl-
    * frontier prioritization signal.
    *
    * Deterministic for ANY fixed `maxRounds`: peeling is synchronous
    * (all sub-k nodes of a round drop together), so round r's edge
    * set is a pure function of round r−1's — an unconverged run is
    * still bit-stable and oracle-verifiable by unrolling exactly
    * `maxRounds` peels (extra unrolled rounds past the fixpoint are
    * no-ops, so the oracle need not replicate the early exit).
    *
    * Scale shape per round: one degree aggregation + two left-semi
    * joins of the edge set against the (aggregated, node-sized)
    * survivor relation — shrinking monotonically; rounds run the
    * shared eager checkpoint lifecycle ([[Rounds]]) so the plan
    * stays linear in rounds, and the fixpoint test rides the degree
    * relation already computed for the peel (one extra count on a
    * node-sized aggregate, no new scan of the edge set).
    */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame =
      Rounds.run(edges, "kcore") { rounds =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val (e, _) = peel(rounds.mark(canonicalUndirected(edges)), k, maxRounds,
      rounds)
    rounds.replace(e, undirectedDegrees(e).select(col("id"), col("deg")))
  }

  /** The synchronous sub-k peel shared by [[kcore]] and [[coreness]]:
    * from the checkpointed canonical edge set `e0`, drop every edge
    * touching a node of current degree < k, up to `maxRounds` peels.
    * Returns the surviving edge checkpoint and whether the fixpoint
    * was reached (a round with no sub-k node).
    */
  private def peel(e0: DataFrame, k: Int, maxRounds: Int,
      rounds: Rounds): (DataFrame, Boolean) = {
    var e = e0
    var r = 0
    var fix = false
    while (r < maxRounds && !fix) {
      val deg = rounds.pin(undirectedDegrees(e))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      // one aggregate answers the fixpoint test (total == survivors)
      // that two separate count() jobs used to: the agg job also
      // materializes the persisted degree relation for the joins
      val fx = deg.agg(count(lit(1)).as("t"),
        count(when(col("deg") >= k, 1)).as("s")).head()
      fix = fx.getLong(0) == fx.getLong(1)
      if (!fix) {
        e = rounds.replace(e,
          e.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
            .select(col("a"), col("b")))
        r += 1
      }
      rounds.release(deg)
    }
    (e, fix)
  }

  /** Per-node core numbers — the degeneracy decomposition the
    * single-k [[kcore]] answers one slice of: coreness(v) = the
    * maximum k such that v survives the k-core peel, capped at
    * `maxK`. The standard crawl-prioritization scalar (a node's
    * embeddedness in densely-interlinked regions) and the natural
    * companion feature to [[triangles]]/[[clusteringCoefficient]]
    * in link-curation pipelines; every node appearing in an edge
    * gets a value ≥ 1.
    *
    * Algorithm: iterated synchronous peel, INCREMENTAL in k — the
    * (k+1)-core is a subgraph of the k-core, so each threshold peels
    * the PREVIOUS threshold's survivors, never the full graph (the
    * total edge work is the k-shell telescoping sum, not maxK scans
    * of the input). Each threshold's peel is the [[kcore]] loop:
    * synchronous rounds (all sub-k nodes of a round drop together),
    * capped at `maxRoundsPerK`, exiting EARLY at both the per-k
    * fixpoint and the empty graph. Deterministic for any fixed
    * (maxK, maxRoundsPerK): round r's edge set is a pure function of
    * round r−1's, so an oracle unrolls exactly maxRoundsPerK peels
    * per k (extra unrolled rounds past a fixpoint are no-ops — the
    * [[kcore]] precedent); an uncapped-converged run needs
    * maxRoundsPerK ≥ the longest peel cascade (a path peels one
    * layer per round — size the cap generously for stringy graphs;
    * the early exit makes unused rounds free).
    *
    * Scale shape: per (k, round) one degree aggregation + two
    * left-semi joins of the CURRENT (monotonically shrinking) edge
    * set against the node-sized survivor relation, under the shared
    * eager checkpoint lifecycle ([[Rounds]]); per k one node-sized
    * survivor layer is checkpointed, and the final coreness is ONE
    * union + max aggregate over those layers — no windows, no
    * driver-side graph state.
    *
    * Output: (id, coreness). A node whose true coreness exceeds
    * `maxK` reports maxK (the cap is the documented contract — pick
    * maxK ≥ the graph's degeneracy for exact values). `maxK = 0` is
    * AUTO-DEGENERACY mode: peel until the graph empties, so every
    * node reports its exact core number and the maximum reported
    * value IS the graph's degeneracy — no a-priori bound needed.
    * Auto mode always terminates (the k = degeneracy + 1 peel
    * empties the graph and fires the early exit), and the edge work
    * is the same k-shell telescoping sum as a correctly-guessed cap;
    * the only reason to pass a finite maxK is to stop early when
    * only "coreness ≥ small k" matters on a graph with a deep core.
    *
    * CONVERGENCE IS SIGNALED, not silent: a peel that hits
    * `maxRoundsPerK` before its fixpoint (verified by one extra
    * sub-k degree probe on the cap path only — the early exit makes
    * converged runs probe-free) leaves survivors that report
    * membership they may not have, so the run logs a WARNING naming
    * the affected k thresholds — or THROWS when
    * `requireConverged = true` — letting callers distinguish exact
    * values from cap-truncated upper bounds (the
    * [[stronglyConnectedComponents]] posture, soft by default
    * because the bounded-round semantics are themselves the
    * documented deterministic contract the gate oracle unrolls).
    */
  def coreness(edges: DataFrame, maxK: Int, maxRoundsPerK: Int,
      requireConverged: Boolean = false): DataFrame =
      Rounds.run(edges, "coreness") { rounds =>
    require(maxK >= 0,
      s"maxK must be >= 1, or 0 for auto-degeneracy mode, got $maxK")
    require(maxRoundsPerK >= 0, "maxRoundsPerK must be >= 0")
    // auto mode terminates via the peel-to-empty early exit, which a
    // zero-round peel can never reach: the k-loop would run forever,
    // one Spark job per k — refuse the combination up front
    require(maxK > 0 || maxRoundsPerK >= 1,
      "coreness: auto-degeneracy mode (maxK = 0) requires " +
        "maxRoundsPerK >= 1 — a zero-round peel never empties the " +
        "graph, so the unbounded k-loop would never terminate")
    var e = rounds.mark(canonicalUndirected(edges))
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every node in the edge set has degree ≥ 1: the 1-core layer
    layers += rounds.mark(undirectedDegrees(e)
      .select(col("id"), lit(1L).as("coreness")))
    var k = 2
    var empty = false
    val cappedKs = scala.collection.mutable.ArrayBuffer.empty[Int]
    while ((maxK == 0 || k <= maxK) && !empty) {
      val (peeled, fix) = peel(e, k, maxRoundsPerK, rounds)
      e = peeled
      // cap path only: did the cap land exactly on the fixpoint?
      if (!fix &&
          !undirectedDegrees(e).filter(col("deg") < k).isEmpty)
        cappedKs += k
      val (layer, nLayer) = rounds.markN(undirectedDegrees(e)
        .select(col("id"), lit(k.toLong).as("coreness")))
      if (nLayer == 0) empty = true
      else { layers += layer; k += 1 }
    }
    if (cappedKs.nonEmpty) {
      // k-core is monotone in the edge set: a truncated peel at k
      // hands a SUPERSET edge set to every later threshold, so all
      // thresholds >= the first capped k are potentially inflated —
      // even those whose own peels converged.
      val msg = s"coreness: peel hit maxRoundsPerK=$maxRoundsPerK " +
        s"before its fixpoint at k=${cappedKs.mkString(",")} — " +
        s"reported values at ALL thresholds >= ${cappedKs.min} are " +
        "cap-truncated UPPER bounds, not exact core numbers (each " +
        "truncated peel carries surplus edges into every later " +
        "threshold; raise maxRoundsPerK — a path graph peels one " +
        "layer per round)"
      if (requireConverged) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    rounds.mark(layers.reduce(_ unionByName _)
      .groupBy(col("id")).agg(max(col("coreness")).as("coreness")))
  }

  /** Per-edge triangle support over a PRE-canonicalized edge set
    * (a, b) — the edge-level analogue of [[trianglesCanonical]] over
    * the same [[closedWedges]]: each triangle (n0, x, y) credits its
    * THREE canonical edges, one grouped count, zero-filled onto the
    * edge set. `markAs` checkpoints the (a, b, support) relation while
    * the oriented edge set is still pinned; the caller owns the
    * checkpoint.
    */
  private def edgeSupport(rounds: Rounds, e: DataFrame)(
      markAs: DataFrame => DataFrame): DataFrame = {
    val deg = rounds.pin(undirectedDegrees(e))
    val res = closedWedges(rounds, e, deg) { tri =>
      val hits = tri.select(explode(array(
          struct(least(col("n0"), col("x")).as("a"),
            greatest(col("n0"), col("x")).as("b")),
          struct(least(col("n0"), col("y")).as("a"),
            greatest(col("n0"), col("y")).as("b")),
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b")))).as("ed"))
        .groupBy(col("ed.a").as("a"), col("ed.b").as("b"))
        .agg(count(lit(1)).as("support"))
      markAs(e.join(hits, Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support")))
    }
    rounds.release(deg)
    res
  }

  /** k-truss peeling over the UNDIRECTED simple graph induced by
    * `edges` (canonicalized like [[triangles]]): repeatedly delete
    * every edge whose SUPPORT (triangles containing it in the
    * current subgraph) is < k−2, synchronously, up to `maxRounds`
    * rounds with fixpoint EARLY EXIT — at convergence the survivors
    * are the classical k-truss. The EDGE-level cohesion companion to
    * [[kcore]] (strictly stronger: the k-truss sits inside the
    * (k−1)-core): a follower ring inflates degrees but not shared
    * neighbors, so truss membership separates mutually-embedded
    * communities from stars and chains at the EDGE where the k-core
    * can only speak per node. Output: (a, b, support) for each
    * surviving edge with its support IN THE SURVIVING subgraph
    * (k = 2 degrades to "all edges + their raw support" — the
    * per-edge triangle report).
    *
    * Deterministic for ANY fixed `maxRounds` (the [[kcore]]
    * unrolling argument verbatim: synchronous rounds, round r a pure
    * function of round r−1), so an oracle unrolls exactly
    * `maxRounds` support-and-filter steps. A cap hit before the
    * fixpoint is SIGNALED, not silent (the [[coreness]] posture):
    * the final support relation already proves it (any surviving
    * edge with support < k−2 means the peel was truncated and the
    * result is a SUPERSET of the k-truss), so the run logs a
    * WARNING — or THROWS when `requireConverged = true` — at zero
    * extra plan cost.
    *
    * Scale shape: the full oriented wedge join (≤ m^1.5) runs ONCE,
    * on the input graph; every later round is ADAPTIVE. The thin-
    * cascade branch maintains support INCREMENTALLY — a triangle
    * dies exactly when its first member edge dies, so the round
    * enumerates only triangles CONTAINING a just-deleted edge (per
    * deleted edge (x, y): common neighbors z via one adjacency
    * probe + one pair semi-join — work ∝ the cascade's wedge mass
    * Σ deg(x), not the survivor set's m^1.5), dedupes the triple (a
    * triangle with 2–3 deleted member edges counts ONCE), and
    * subtracts each lost triangle from its SURVIVING member edges;
    * the deleted relation is cascade-sized, so AQE broadcasts it
    * against the adjacency scans and the survivor relation never
    * re-exchanges. The mass-extinction branch (deleted > surviving,
    * e.g. the first round at k ≫ the graph's truss depth) instead
    * RE-RUNS the wedge join on the small survivor subgraph — there
    * the cascade IS the graph and recompute ∝ survivors is the
    * cheap side. Both branches produce the survivor subgraph's
    * exact support (a triangle survives iff all three edges do), so
    * the choice is bit-invisible in the output and the round budget
    * semantics are unchanged. All under the shared [[Rounds]]
    * lifecycle; the fixpoint test rides the maintained support
    * relation.
    */
  def ktruss(edges: DataFrame, k: Int, maxRounds: Int,
      requireConverged: Boolean = false): DataFrame =
      Rounds.run(edges, "ktruss") { rounds =>
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val e0 = rounds.mark(canonicalUndirected(edges))
    var supp = edgeSupport(rounds, e0)(rounds.replace(e0, _))
    var r = 0
    var fixpoint = false
    while (r < maxRounds && !fixpoint) {
      val (deleted, delCnt) = rounds.markN(
        supp.filter(col("support") < k - 2).select(col("a"), col("b")))
      if (delCnt == 0) fixpoint = true
      else {
        val (keep, keepCnt) = rounds.markN(
          supp.filter(col("support") >= k - 2))
        // ADAPTIVE branch: incremental decrement costs ∝ the
        // cascade's wedge mass, full recompute ∝ the survivor set's.
        // A mass-extinction round (most edges below threshold — the
        // k ≫ truss-depth first round on a thin graph) is cheaper
        // recomputed over the small survivor graph; a thin cascade
        // over a big survivor set is cheaper decremented. Both
        // produce the survivor subgraph's exact support, so the
        // choice is invisible in the output (bit-identical either
        // way) and the round stays deterministic.
        supp = if (delCnt > keepCnt) {
          // a projection over keep's checkpoint — edgeSupport's
          // scans all read the stored relation, no extra mark
          edgeSupport(rounds, keep.select(col("a"), col("b")))(
            rounds.replace(supp, _))
        } else {
          // triangles of the PRE-deletion graph containing a deleted
          // edge: z is a common neighbor of both endpoints (the
          // adjacency is two scans of the checkpointed support
          // relation — no re-exchange; `deleted` is the small side)
          val nbr = supp.select(col("a").as("u"), col("b").as("v"))
            .unionByName(supp.select(col("b").as("u"), col("a").as("v")))
          val lost = deleted
            .join(nbr, col("u") === col("a"))
            .select(col("a"), col("b"), col("v").as("z"))
            .filter(col("z") =!= col("b"))
            .join(nbr.select(col("u").as("u2"), col("v").as("z2")),
              col("u2") === col("b") && col("z2") === col("z"),
              "left_semi")
          // canonical triple ONCE per lost triangle (it may carry
          // 2-3 deleted member edges and be found once per each)
          val tri = lost
            .select(array_sort(array(col("a"), col("b"), col("z")))
              .as("t"))
            .distinct()
          val lostEd = tri.select(explode(array(
              struct(element_at(col("t"), 1).as("a"),
                element_at(col("t"), 2).as("b")),
              struct(element_at(col("t"), 1).as("a"),
                element_at(col("t"), 3).as("b")),
              struct(element_at(col("t"), 2).as("a"),
                element_at(col("t"), 3).as("b")))).as("ed"))
            .select(col("ed.a").as("a"), col("ed.b").as("b"))
          val loss = lostEd
            .join(keep.select(col("a"), col("b")), Seq("a", "b"),
              "left_semi")
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("loss"))
          rounds.replace(supp, keep.join(loss, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("loss"), lit(0L)))
                .as("support")))
        }
        rounds.release(keep); rounds.release(deleted)
        r += 1
      }
    }
    if (!fixpoint && !supp.filter(col("support") < k - 2).isEmpty) {
      val msg = s"ktruss: peel hit maxRounds=$maxRounds before its " +
        s"fixpoint — the returned edge set is a cap-truncated " +
        s"SUPERSET of the $k-truss (raise maxRounds)"
      if (requireConverged) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    supp
  }

  /** Connected components over the UNDIRECTED simple graph induced by
    * `edges` (first two columns = endpoints; direction, duplicates,
    * self-loops erased): (id, rep) for every node appearing in an
    * edge, rep = the MINIMUM id of its component — the graph-operator
    * face of the alternating large-star/small-star contraction
    * (Kiveris et al., SoCC'14) that already powers the dedup
    * clustering path ([[Dedup.connectedComponents]], used by
    * `curateClustered`): O(log² n) rounds regardless of diameter,
    * each round two edge-local transforms + a per-node min — no
    * driver-side graph state. Promoted here so link-graph users get
    * it without importing the dedup module; the single shared
    * implementation keeps the two faces bit-identical. Runs the same
    * eager per-round checkpoint lifecycle as the other fixpoints in
    * this object (reliable checkpoints when the session has a
    * checkpoint dir — set one in production); each round's
    * convergence signature is folded by its mark's own job.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    Dedup.connectedComponents(edges, maxIter)

  /** Strongly connected components over the DIRECTED simple graph
    * induced by `edges` (first two columns = (src, dst); duplicates
    * collapse, self-loops participate harmlessly): (id, rep) for
    * every node appearing in an edge, rep = the MINIMUM id of its
    * SCC. The directed companion to [[connectedComponents]] and the
    * web-graph bow-tie operator: the giant SCC vs IN/OUT tendril
    * split is the classic crawl-frontier structure, and mutual-link
    * cores (rings that cite each other) are collusion candidates
    * exactly where one-directional citation chains are not.
    *
    * Algorithm: iterative trim + min-label coloring + same-color
    * forward flood (the relational form of FW-BW-Trim — McLendon et
    * al., J.Par.Dist.Comp. 2005 — with Orzan-style coloring in place
    * of pivot recursion):
    *
    *  0. TRIM: iteratively peel nodes with in-degree 0 or
    *     out-degree 0 in the CURRENT subgraph — no such node can lie
    *     on a cycle, so each is a PROVABLE singleton SCC, emitted
    *     immediately ((v, v)). One partial-aggregable degree
    *     aggregate + two anti-joins against the (cascade-sized,
    *     AQE-broadcastable) trimmed set per round, fixpoint with
    *     early exit. The
    *     acyclic-thin common case (DAG-like web frontiers, random
    *     sparse graphs — every SCC a singleton) exhausts HERE, in
    *     edge-local rounds over a geometrically-shrinking edge set,
    *     and never pays min-label propagation at all; cycle-free
    *     tendrils of mixed graphs (the bow-tie IN/OUT mass) peel
    *     before the color fixpoint prices them. A `maxPropRounds`
    *     cap hit on trim is BENIGN (unlike color/flood): trim is an
    *     optimization, and untrimmed mass falls through to the
    *     complete color+flood path.
    *  1. COLOR: c(v) = min id REACHABLE from v (v included) — a
    *     frontier-pruned min propagation along REVERSE edges (only
    *     nodes whose color improved last round can improve an
    *     in-neighbor's — the [[sssp]] loop with min-of-label for
    *     min-of-dist), fixpoint with early exit. The color relation
    *     is the [[Rounds.fixpoint]] delta union (last per-id `min`
    *     compaction plus the improvement rounds since), so a round
    *     marks only its improvements.
    *  2. FLOOD: seed every root r with c(r) = r and flood FORWARD
    *     along edges whose endpoints BOTH carry color r
    *     (frontier-pruned, fixpoint; the flooded set is the union
    *     of the disjoint checkpointed frontiers). A flooded node v
    *     satisfies r →* v (the flood path) and v →* r (c(v) = r means
    *     the min v reaches is r), so flooded(r) is EXACTLY the SCC of r;
    *     conversely every SCC whose members' minimum reachable id is
    *     their own minimum is flooded completely this round.
    *  3. PEEL: emit flooded nodes as (v, r), drop every edge
    *     touching them. Repeat on the remaining subgraph: an SCC
    *     whose color pointed at a now-removed downstream component
    *     becomes a root itself. Nodes left EDGE-LESS anywhere along
    *     the way (their last edge died with a trimmed or flooded
    *     partner) are provably singleton SCCs, swept as (v, v) by
    *     ONE end-of-operator anti-join against the pinned original
    *     node set — no per-round isolation bookkeeping.
    *
    * Each outer round extracts at least every current color root's
    * SCC, so the edge set strictly shrinks; DAG regions collapse in
    * ONE round (every node is its own root or goes edge-less).
    * `maxOuter` caps the outer peel, and a cap hit with edges still
    * unpeeled THROWS — silently omitting the unassigned nodes would
    * let a downstream join lose nodes with no signal (raise the cap;
    * the round count is graph-structural: one round per layer of
    * SCCs whose minimum points downstream — DAGs of SCCs need one
    * round per such layer, rarely more than a handful).
    * `maxPropRounds` is a WALL-TIME GUARD on the
    * inner fixpoints, not a semantics knob: both propagations
    * terminate on their own (the color lattice only descends, the
    * flood only grows), but their round counts scale with the
    * graph's min-label diameter, so a cap hit THROWS rather than
    * emit — a partially-flooded SCC would otherwise be peeled apart
    * and mis-reported as smaller components. Unconverged ⇒ error,
    * never a wrong answer.
    *
    * LONG-CYCLE ACCELERATION (adaptive relation squaring): plain
    * label propagation pays one round per label hop, so a cycle of
    * length L costs O(L) rounds — the measured worst wall/edge shape
    * (disjoint 64-cycles). When a propagation loop is still
    * unconverged after a few rounds, its edge relation SQUARES:
    * prop ← dedup(prop ∪ prop∘prop), adding shortcut pairs that are
    * themselves genuine reachability pairs (src →* dst), so the
    * fixpoint is untouched while the remaining label diameter halves
    * per squaring — O(log L) rounds where the shapes demand it. Each
    * squaring re-arms the frontier to the full relation (shortcuts
    * can improve nodes a pruned frontier no longer covers), and the
    * squared relation is size-capped (~24× the round's edge count,
    * checked before adoption) so hub-dense graphs where composition
    * would blow up simply keep the plain frontier loop; shapes that
    * converge inside the threshold never pay a single composition
    * join. The flood loop accelerates independently the same way
    * (reusing the color loop's squared relation when one exists) —
    * forward flood distance can exceed the min-label diameter (short
    * paths TO the minimum, one long path FROM it).
    *
    * Scale shape: all four phases move frontier-sized or edge-sized
    * relations under the shared [[Rounds]] lifecycle — trim is one
    * partial-aggregable degree-presence aggregate + two anti-joins
    * over the geometrically-shrinking edge set per round, color
    * joins the changed-label frontier against a dst-pinned edge
    * layout, the flood joins the newly-flagged frontier against a
    * src-pinned layout, and the peel is two left-anti joins; no
    * windows, no driver-side graph state beyond the loop counters.
    * The loop runs at the session's shuffle width. Its relations are
    * thin (two longs), so a wide session pays its partition count on
    * every shrinking trim round: the 10M-edge random decade on 4
    * cores measured 77 s at width 4 and 165 s at width 128 (SCALE.md).
    */
  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 20,
      maxPropRounds: Int = 100): DataFrame =
      Rounds.run(edges, "stronglyConnectedComponents") { rounds =>
    require(maxOuter >= 1, "maxOuter must be >= 1")
    require(maxPropRounds >= 1, "maxPropRounds must be >= 1")
    // every emptiness/size probe below rides the count the mark
    // already runs (markN) — a separate .count()/.isEmpty costs one
    // extra Spark job per probe, round-multiplied (measured: 136 jobs
    // for 17 s of task time on the sf0.1 gate — job-overhead-bound)
    var (e, eN) = rounds.markN(simpleDirected(edges))
    // the full node set, pinned once: nodes that drop out of the
    // edge set un-emitted (their last edge died with a trimmed or
    // flooded partner) are provably singleton SCCs, swept by ONE
    // anti-join at the end instead of per-round bookkeeping
    val nodes0 = rounds.mark(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var emptied = eN == 0
    while (outer < maxOuter && !emptied) {
      // 0. TRIM — peel in-degree-0 / out-degree-0 nodes to fixpoint:
      // provable singleton SCCs, emitted without touching the color
      // machinery. Each round: one partial-aggregable degree-presence
      // aggregate + two anti-joins of the shrinking edge set against
      // the cascade-sized trimmed set. A cap hit here is benign:
      // remaining mass falls through to the complete color+flood
      // path below.
      var tr = 0
      var tDone = false
      while (tr < maxPropRounds && !tDone) {
        // one partial-aggregable degree-presence pass → the trimmed
        // set, checkpointed directly (no intermediate relation);
        // nodes stripped of their LAST edge by a peel are swept by
        // the single end-of-operator missing-node pass, not here
        val (trimmed, nTrim) = rounds.markN(
          e.select(col("src").as("id"), lit(1).as("o"), lit(0).as("i"))
            .unionByName(
              e.select(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))
            .groupBy(col("id"))
            .agg(max(col("o")).as("o"), max(col("i")).as("i"))
            .filter(col("o") === 0 || col("i") === 0)
            .select(col("id"), col("id").as("c")))
        if (nTrim == 0) tDone = true
        else {
          // anti-join on the TRIMMED side (not semi on keep): the
          // cascade is the small side, so AQE broadcasts it and the
          // edge relation streams map-side on thin cascades
          val (nextE, nE) = rounds.replaceN(e,
            e.join(trimmed.select(col("id").as("src")), Seq("src"),
                "left_anti")
              .join(trimmed.select(col("id").as("dst")), Seq("dst"),
                "left_anti")
              .select(col("src"), col("dst")))
          layers += trimmed
          e = nextE
          eN = nE
          tr += 1
        }
      }
      emptied = eN == 0
      if (emptied) { outer += 1 }
      else {
      // pin both join layouts once per outer round (materialized
      // lazily inside their first consuming round — a separate
      // count() job would add no work, only a job)
      val eSrc = rounds.pin(e.repartition(col("src")))
      val eDst = rounds.pin(e.repartition(col("dst")))
      val eCnt = math.max(eN, 1L)
      // squared-relation lifecycle: compose prop with itself, dedup,
      // pin on the loop's probe side; adopted only under the size cap
      // (composition on hub-dense graphs can blow up — the plain
      // frontier loop is the fallback, not an error)
      val sqCap = 24L * eCnt
      def squareOf(p: DataFrame, pin: String): Option[DataFrame] = {
        val comp = p.as("a").join(p.as("b"),
            col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"))
        val sq = rounds.pin(p.select(col("src"), col("dst")).unionByName(comp)
          .filter(col("src") =!= col("dst")).distinct()
          .repartition(col(pin)))
        if (sq.count() > sqCap) { rounds.release(sq); None }
        else Some(sq)
      }
      val squareAfter = 6
      // one propagation loop's relation: once the loop is still
      // running after `squareAfter` rounds it squares (while the cap
      // allows), and the round after a squaring propagates from the
      // full state — shortcuts can improve nodes a pruned frontier no
      // longer covers. The relation a squaring supersedes is released.
      class Prop(var rel: DataFrame, pin: String) {
        private var canSquare = true
        def source(state: DataFrame, frontier: DataFrame, t: Int): DataFrame =
          if (!canSquare || t <= squareAfter) frontier
          else squareOf(rel, pin) match {
            case Some(sq) => rounds.release(rel); rel = sq; state
            case None => canSquare = false; frontier
          }
      }
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      // 1. COLOR — frontier-pruned min-reachable-id fixpoint
      val cProp = new Prop(eDst, "dst")
      val (color, cDone) = rounds.fixpoint(
          nodes.select(col("id"), col("id").as("c")), maxPropRounds) {
        (color, frontier, t) =>
          val from = cProp.source(color, frontier, t)
          cProp.rel.join(from.select(col("id").as("dst"),
              col("c").as("fc")), Seq("dst"))
            .groupBy(col("src").as("id")).agg(min(col("fc")).as("cand"))
            // the sssp improvement test (and its shuffle_hash reason)
            .join(color.select(col("id").as("pid"), col("c").as("pc"))
                .hint("shuffle_hash"),
              col("id") === col("pid") && col("pc") <= col("cand"),
              "left_anti")
            .select(col("id"), col("cand").as("c"))
      }(_.groupBy(col("id")).agg(min(col("c")).as("c")))
      require(cDone, s"color propagation did not converge within " +
        s"$maxPropRounds rounds — raise maxPropRounds (the graph's " +
        "min-label diameter exceeds the wall-time guard)")
      // 2. FLOOD — forward within color classes from the roots; the
      // flood relation inherits the color loop's squared relation
      // (re-pinned on src) and can square further on its own: flood
      // distance can exceed the min-label diameter
      val fProp =
        if (cProp.rel ne eDst) {
          val s = rounds.pin(cProp.rel.repartition(col("src")))
          s.count()
          new Prop(s, "src")
        } else new Prop(eSrc, "src")
      val (flood, fDone) = rounds.fixpoint(
          color.filter(col("id") === col("c")), maxPropRounds) {
        (flood, frontier, t) =>
          val from = fProp.source(flood, frontier, t)
          fProp.rel.join(from.select(col("id").as("src"),
              col("c").as("fc")), Seq("src"))
            .select(col("dst").as("id"), col("fc")).distinct()
            .join(color.withColumnRenamed("c", "vc"), Seq("id"))
            .filter(col("fc") === col("vc"))
            .select(col("id"), col("vc").as("c"))
            .join(flood, Seq("id"), "left_anti")
      }(identity)
      require(fDone, s"SCC flood did not converge within " +
        s"$maxPropRounds rounds — raise maxPropRounds (a partially " +
        "flooded SCC must never be peeled)")
      // 3. PEEL — emit flooded SCCs, drop their edges (nodes the
      // peel isolates are caught by the final missing-node sweep)
      val flaggedIds = flood.select(col("id"))
      val (nextE, nE2) = rounds.replaceN(e,
        e.join(flaggedIds.withColumnRenamed("id", "src"), Seq("src"),
            "left_anti")
          .join(flaggedIds.withColumnRenamed("id", "dst"), Seq("dst"),
            "left_anti")
          .select(col("src"), col("dst")))
      layers += flood
      Seq(color, eSrc, eDst, cProp.rel, fProp.rel).foreach(rounds.release)
      e = nextE
      eN = nE2
      emptied = eN == 0
      outer += 1
      }
    }
    require(emptied, s"SCC outer peel did not exhaust the graph " +
      s"within maxOuter=$outer rounds — raise maxOuter (one round " +
      "per layer of SCCs whose minimum reachable id points " +
      "downstream); emitting a partial assignment would silently " +
      "drop the unpeeled nodes")
    // final sweep: every node never emitted by trim or flood lost
    // its edges to removed partners — provably cycle-free, singleton
    val emitted = layers.foldLeft(
      nodes0.select(col("id"), col("id").as("c")).limit(0))(
      _ unionByName _)
    val missing = nodes0
      .join(emitted.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("c"))
    rounds.mark(emitted.unionByName(missing)
      .select(col("id"), col("c").as("rep")))
  }

  /** Approximate harmonic centrality via HyperBall (Boldi & Vigna,
    * 2013) — the centrality Common Crawl publishes as its page-level
    * quality prior, exactly the ranking this object's header cites:
    * H(v) = Σ_{u≠v} 1/d(u, v) over INCOMING distances (nodes that can
    * reach v along edge direction; symmetrize for undirected
    * closeness). Exact all-pairs distance is hopeless at web scale;
    * HyperBall replaces each ball B_t(v) = {u : d(u,v) ≤ t} with a
    * mergeable HLL sketch ([[Hll]]) and grows all balls one radius
    * per round: B_t(v) = B_{t−1}(v) ∪ ⋃_{u→v} B_{t−1}(u), with
    * H(v) += (|B_t(v)| − |B_{t−1}(v)|)/t from the estimates.
    *
    * Determinism: the register merge is a register-wise max —
    * associative, commutative, idempotent — and the estimate a pure
    * function of registers, so results are BIT-IDENTICAL under any
    * partitioning (spec-pinned); accuracy is the standard HLL
    * 1.04/√2^p relative error on each ball size (p=12 → ~1.6%).
    *
    * Scale shape per round (FRONTIER-PRUNED — see
    * [[hyperBallTrace]]): the changed-ball frontier joins the pinned
    * src-partitioned edge relation (frontier-out-edge-sized — NOT
    * the full fan-out), one delta-sized partial-aggregable
    * register-max merge, and one left join folding deltas into the
    * ball table via the scalar [[Hll.hllMerge2]] — the ball table
    * moves ONCE per round (down from three full exchanges in the
    * dense formulation), and late rounds cost work proportional to
    * how many balls still grow. The 2^p-byte payload stays the cost
    * knob: at 100M nodes, p=12 is ~400 GB and p=8 ~25 GB for the
    * ball-table move — pick p by the accuracy the downstream ranking
    * needs. Rounds run the shared checkpoint lifecycle and EXIT
    * EARLY when no sketch changed (a register-level comparison, not
    * an estimate comparison — in the linear-counting range an
    * estimate can sit still while registers move). `maxRadius` caps
    * the effective diameter swept.
    *
    * Output: (id, harmonic, reachable) for every node — `reachable` =
    * the final ball-size estimate (the node's incoming-reachability
    * count), `harmonic` the centrality. Exact zero harmonic = no
    * in-edges within the radius.
    */
  def harmonicCentrality(edges: DataFrame, maxRadius: Int,
      p: Int = 12): DataFrame =
    Rounds.run(edges, "hyperBall")(hyperBallTrace(_, edges, maxRadius, p)._1
      .select(col("id"), col("harmonic"), col("est").as("reachable")))

  /** Lin's closeness centrality from the same HyperBall sweep —
    * closeness that is WELL-DEFINED on disconnected graphs (raw
    * closeness 1/Σd degenerates: an almost-isolated pair beats the
    * giant component's center): Lin(v) = r(v)² / Σ_u d(u, v) with
    * r(v) = |{u : d(u,v) < ∞}| (self included), isolated nodes = 1
    * by convention (Boldi & Vigna's survey treatment). Σd comes from
    * the same ball deltas as the harmonic sum (Σd = Σ_t t·Δ|B_t|),
    * so one sweep prices both; output (id, reachable, sum_dist,
    * lin). Same determinism, `p` knob, and per-round scale shape as
    * [[harmonicCentrality]].
    */
  def linCentrality(edges: DataFrame, maxRadius: Int,
      p: Int = 12): DataFrame =
    Rounds.run(edges, "hyperBall")(hyperBallTrace(_, edges, maxRadius, p)._1
      .select(col("id"), col("est").as("reachable"),
        col("sumd").as("sum_dist"),
        when(col("sumd") > 0.0, col("est") * col("est") / col("sumd"))
          .otherwise(lit(1.0)).as("lin")))

  /** The radius-`r` incoming-reachability sketch per node — the
    * HyperBall counters themselves as a servable relation: (id, sk)
    * where `sk` is the [[Hll]] sketch of {u : d(u, id) ≤ r}. Persist
    * it and the expensive sweep amortizes across every downstream
    * question — blast-radius of a removal set ([[Hll.hllMerge]] over
    * the set's rows), reach estimates ([[Hll.hllEstimate]]),
    * audience-overlap between nodes — without touching the edge set
    * again. Same loop, determinism, and per-round scale shape as
    * [[harmonicCentrality]]; the register evolution is exact integer
    * max-merging, so the q_graph_reach gate pins TWO full rounds of
    * ball growth register-by-register against a DuckDB re-derivation.
    */
  def reachabilitySketches(edges: DataFrame, radius: Int,
      p: Int = 12): DataFrame =
    Rounds.run(edges, "hyperBall")(hyperBallTrace(_, edges, radius, p)._1
      .select(col("id"), col("sk")))

  /** HyperANF effective diameter (Boldi, Rosa & Vigna, WWW'11) from
    * the same sweep: the smallest radius t (linearly interpolated
    * between rounds) at which the neighborhood function
    * N(t) = Σ_v |B_t(v)| reaches `quantile` of its final value — the
    * "90% of connected pairs are within t hops" statistic crawl and
    * social-graph reports lead with. N(t) is folded by each round's
    * own checkpoint job (deterministic: per-row estimates round into
    * decimal(38,6) before the order-insensitive exact sum), so the
    * trace costs no job of its own. If
    * `maxRadius` caps the sweep before the balls stop growing, the
    * quantile reads against the SWEPT horizon — raise the cap until
    * the early exit fires for the true diameter.
    */
  def effectiveDiameter(edges: DataFrame, maxRadius: Int,
      p: Int = 12, quantile: Double = 0.9): Double = {
    require(quantile > 0.0 && quantile <= 1.0,
      s"quantile in (0, 1], got $quantile")
    val trace = Rounds.run(edges, "hyperBall")(
      hyperBallTrace(_, edges, maxRadius, p)._2)
    // running max: raw HLL estimates are not strictly monotone across
    // the linear-counting/bias-correction switch, and the N(t)
    // interpolation assumes a non-decreasing trace
    val ns = trace.map(_.doubleValue)
      .scanLeft(Double.NegativeInfinity)(math.max).drop(1)
    if (ns.isEmpty || ns.last <= 0.0) 0.0
    else {
      val target = quantile * ns.last
      if (ns.head >= target) 0.0
      else {
        val t = ns.indexWhere(_ >= target)
        (t - 1) + (target - ns(t - 1)) / (ns(t) - ns(t - 1))
      }
    }
  }

  /** FRONTIER-PRUNED sweep (the [[sssp]] insight applied to sketch
    * propagation): a node's ball can only grow this round if some
    * in-neighbor's ball GREW last round, so each round pulls sketches
    * from the changed-node frontier only — never the full node set.
    * Per round: frontier ⋈ pinned edge layout (frontier-out-edge-
    * sized, the relation that was the full edge fan-out before),
    * one delta-sized partial-aggregable register-max group, and ONE
    * node-table join folding deltas into the persisted balls via the
    * scalar [[Hll.hllMerge2]] (register max is associative/
    * commutative/idempotent, so delta-then-fold is BIT-IDENTICAL to
    * the all-at-once merge — the q_graph_reach register-level oracle
    * pins it). The node table moves once per round (the floor without
    * a mutable state store — down from three: the union-merge, the
    * prev-join, and the pull each exchanged it before); late rounds,
    * where few balls grow, now cost frontier-proportional work
    * instead of full re-exchanges (GraphScale hyperball decades
    * record the per-round decay). Returns the final ball table and
    * the trace N(0), N(1), … of [[effectiveDiameter]].
    */
  private def hyperBallTrace(rounds: Rounds, edges: DataFrame,
      maxRadius: Int, p: Int): (DataFrame, Vector[java.math.BigDecimal]) = {
    require(maxRadius >= 1, "maxRadius must be >= 1")
    val e = rounds.pin(simpleDirected(edges).repartition(col("src")))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // N(t) = Σ est, each estimate rounded into decimal(38,6) inside the
    // fold's projection and summed exactly, is folded by every mark's
    // own job (a round's fold also counts the balls that grew)
    val est6 = col("est").cast("decimal(38,6)")
    val zero = java.math.BigDecimal.ZERO.setScale(6)
    def plus(n: java.math.BigDecimal, r: Row, i: Int) =
      if (r.isNullAt(i)) n else n.add(r.getDecimal(i))
    // splitmix64 node hashes — the q_hll gates' oracle-renderable
    // hash family (xxhash64 has no DuckDB rendering)
    val (ball0, n0) = rounds.markFold(nodes.groupBy(col("id"))
      .agg(Hll.hllSketch(Sampling.splitmix64(col("id")), p).as("sk"))
      .select(col("id"), col("sk"), Hll.hllEstimate(col("sk")).as("est"),
        lit(0.0).as("harmonic"), lit(0.0).as("sumd")), est6)(zero)(
      plus(_, _, 0))(_ add _)
    var cur = ball0
    // round-0 frontier: every ball was just created
    var changed = cur.select(col("id"), col("sk"))
    val trace = Vector.newBuilder[java.math.BigDecimal] += n0
    val grewAndN = Rounds.fold(col("__grew"), est6)((0L, zero))(
      (a, r: Row) => (a._1 + (if (r.getBoolean(0)) 1L else 0L), plus(a._2, r, 1)))(
      (x, y) => (x._1 + y._1, x._2.add(y._2)))
    var t = 1
    var done = false
    while (t <= maxRadius && !done) {
      // shuffle_hash: both the frontier and the delta are stats-less
      // checkpoint derivations — sort-merge would re-sort the pinned
      // edge layout / the ball table (2^p-byte payload rows) per round
      val pulled = e.join(changed.withColumnRenamed("id", "src")
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("id"), col("sk"))
      val delta = pulled.groupBy(col("id"))
        .agg(Hll.hllMerge(col("sk")).as("__dsk"))
      // the mark's one job counts the grown balls (the next frontier)
      // and sums N(t); a round where nothing grew equals its input, so
      // it replaces it all the same
      val (nxt, (grew, n)) = rounds.replaceWith(cur,
        cur.join(delta.hint("shuffle_hash"), Seq("id"), "left")
          .withColumn("__nsk", when(col("__dsk").isNull, col("sk"))
            .otherwise(Hll.hllMerge2(col("sk"), col("__dsk"))))
          .withColumn("__grew", col("__nsk") =!= col("sk"))
          .withColumn("__nest", when(col("__grew"),
            Hll.hllEstimate(col("__nsk"))).otherwise(col("est")))
          .select(col("id"), col("__nsk").as("sk"), col("__nest").as("est"),
            (col("harmonic") + when(col("__grew"),
              greatest(col("__nest") - col("est"), lit(0.0)) /
                lit(t.toDouble)).otherwise(lit(0.0))).as("harmonic"),
            (col("sumd") + when(col("__grew"),
              greatest(col("__nest") - col("est"), lit(0.0)) *
                lit(t.toDouble)).otherwise(lit(0.0))).as("sumd"),
            col("__grew")))(grewAndN)
      cur = nxt
      if (grew == 0) done = true
      else {
        changed = cur.filter(col("__grew")).select(col("id"), col("sk"))
        t += 1
        trace += n
      }
    }
    (cur, trace.result())
  }

  /** Multi-source single-source-shortest-paths over a WEIGHTED edge
    * relation whose first three columns are (src, dst, weight) — the
    * weighted companion to [[bfsDistance]]: hop count answers "how
    * many links away", this answers "how cheap is the best route"
    * (crawl cost from vetted hosts with per-link latencies,
    * trust-decay along weighted citation edges). Output: (id, dist)
    * with dist = the exact minimum path weight from the SEED SET
    * along edge direction (symmetrize for undirected distance); seeds
    * at 0 (including seeds absent from the edge set — distance-from-
    * set is defined on the set), unreached nodes absent.
    *
    * Weights cast to BIGINT and must be NON-NEGATIVE and NON-NULL
    * for "shortest" to be well-defined on cyclic graphs (a negative
    * cycle has no minimum; a NULL weight — NULL input, or in
    * non-ANSI sessions a non-numeric value nulled by the cast — has
    * no order at all and would propagate NULL distances that
    * re-enter the improvement filter forever; under ANSI, Spark's
    * own cast error covers the non-numeric case upstream of this
    * guard). The contract FAILS LOUDLY on both: the check
    * rides the weight column itself via `raise_error` inside the
    * codegen'd projection (zero extra pass, un-prunable), naming the
    * offending edge. Bad input data is surfaced, never silently
    * excluded (the repo's "unconverged ⇒ error, never a different
    * answer" posture — [[stronglyConnectedComponents]]); weight-0
    * edges are valid ("free hop"). Callers who WANT drop semantics
    * filter upstream, visibly. Parallel edges collapse to their
    * lightest weight up front.
    *
    * Algorithm: frontier-pruned Bellman–Ford relaxation (the
    * distributed formulation delta-stepping generalizes — Meyer &
    * Sanders, J.Alg 2003; one bucket here, since a relational round
    * is one shuffle whatever the bucket width). Per round: the
    * frontier (nodes whose dist improved last round — NOT the full
    * dist table) joins the src-partitioned edge relation, a dst-keyed
    * MIN collapses candidates (partial-aggregable, map-side
    * combined), and an anti-join against the running dist keeps only
    * strict improvements (no row of the id is as short); the loop
    * EXITS EARLY when a round improves nothing (the count is free: the
    * round checkpoint already materializes). The running dist is the
    * [[Rounds.fixpoint]] delta union — the last per-id `min`
    * compaction plus the improvement rounds since — so a round marks
    * its improvements and nothing else. Rounds ≤ the edge count of
    * the longest shortest path — `maxIter` is a cap, not a cost. The
    * edge relation is hash-partitioned on `src` ONCE and persisted
    * (the [[bfsDistance]] lesson: checkpointed frontiers carry no size
    * stats, so without the pinned layout every round re-exchanges the
    * full edge set — only frontier-sized relations should move per
    * round on a cluster). Exact BIGINT arithmetic end-to-end:
    * distances are bit-stable under any partitioning.
    */
  def sssp(edges: DataFrame, seeds: DataFrame, maxIter: Int = 50): DataFrame =
      Rounds.run(edges, "sssp") { rounds =>
    require(maxIter >= 0, "maxIter must be >= 0")
    val Array(cs, cd, cw) = edges.columns.take(3)
    val e = rounds.pin(edges.select(col(cs).as("src"), col(cd).as("dst"),
        col(cw).cast("long").as("w"))
      .select(col("src"), col("dst"),
        when(col("w").isNull || col("w") < 0, raise_error(concat(
            lit("sssp: negative- or null-weight edge "), col("src"),
            lit("->"), col("dst"),
            lit(" (w="), coalesce(col("w").cast("string"), lit("NULL")),
            lit("); shortest paths are undefined under negative or "),
            lit("non-numeric/null weights — filter or clamp upstream")))
            .cast("long"))
          .otherwise(col("w")).as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .repartition(col("src")))
    val (dist, _) = rounds.fixpoint(
        seeds.select(col(seeds.columns.head).as("id"))
          .distinct().withColumn("dist", lit(0L)), maxIter) {
      (dist, frontier, _) =>
        // shuffle_hash: the bfs rationale — never re-sort the pinned
        // edge layout for a frontier-sized probe
        e.join(frontier.hint("shuffle_hash"), e("src") === frontier("id"))
          .select(e("dst").as("id"), (frontier("dist") + e("w")).as("cand"))
          .groupBy(col("id")).agg(min(col("cand")).as("cand"))
          // strict improvements only: no state row of the id is as
          // short (the state may hold several rows per id). Plain
          // renames, not `.as` aliases: with aliases, constraint
          // inference over the state's union failed (Spark 4.1).
          // shuffle_hash on the state: AQE would otherwise broadcast
          // the already-shuffled small state, one more job per round
          .join(dist.select(col("id").as("pid"), col("dist").as("pd"))
              .hint("shuffle_hash"),
            col("id") === col("pid") && col("pd") <= col("cand"),
            "left_anti")
          .select(col("id"), col("cand").as("dist"))
    }(_.groupBy(col("id")).agg(min(col("dist")).as("dist")))
    dist
  }

  /** Per-node degree report: (id, out_deg, in_deg) over the
    * simple-graph edge set — the sanity face next to [[pageRank]]
    * (hubs, dangling nodes, isolated-side checks), two count
    * aggregates and one full-outer merge.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val Array(cs, cd) = edges.columns.take(2)
    val e = edges.select(col(cs).as("src"), col(cd).as("dst")).distinct()
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Deterministic uniform random-walk corpus over the DIRECTED
    * simple graph (DeepWalk — Perozzi et al., KDD'14; node2vec's
    * p=q=1 case): `walksPerNode` walks of up to `walkLength` steps
    * from every node with at least one out-edge, each step choosing
    * uniformly among the current node's out-neighbors. The walk
    * sentences are the standard input to skip-gram graph embeddings —
    * the link-graph face of a training-data pipeline's representation
    * stage (walk corpus → embedding table → [[Similarity]] ANN).
    * Output: (start, walk, step, id) in LONG form — one row per
    * visited position, step 0 = the start itself; a walk that reaches
    * a sink (no out-edges) STOPS, its remaining steps absent
    * (DeepWalk's truncated-walk semantics).
    *
    * Determinism is the whole design: step t of walk (start, w) picks
    * neighbor index `(splitmix64(wh XOR t) >>> 32) mod out_deg(cur)`
    * where `wh = splitmix64(splitmix64(seed XOR start) XOR w)` is the
    * walk's private stream key — a pure function of (seed, start, w,
    * t), so results are bit-identical under any partitioning, retries
    * included, and an oracle re-derives every choice (splitmix64 and
    * the top-32-bit mod are UBIGINT-renderable, the house sampling
    * hash posture). The modulo bias at out_deg ≪ 2³² is ≤ 2⁻³² per
    * step — irrelevant for embedding corpora, and exactness of the
    * DISTRIBUTION is not the contract; exactness of REPRODUCTION is.
    *
    * Scale shape: the ranked adjacency (src, dst, rk, deg) — rk =
    * the neighbor's rank in dst order and deg = the src's out-degree,
    * BOTH from one window pass — is hash-partitioned on src ONCE and
    * persisted; each of the `walkLength` rounds moves ONLY the
    * walk-set relation (n·walksPerNode rows, shrinking as walks
    * sink) through ONE src-keyed join against that pinned layout
    * (src equality drives the exchange; the rank pick is a residual
    * predicate over the src's rows, so the degree never needs its
    * own join — one walk-set exchange per step, the minimum), under
    * the shared [[Rounds]] checkpoint lifecycle. Driver state: the
    * step counter. At 100 TB the walk corpus dwarfs the graph — it
    * streams out of the final union of per-step checkpoints rather
    * than ever sitting in one task's memory.
    */
  def randomWalks(edges: DataFrame, walkLength: Int, walksPerNode: Int,
      seed: Long): DataFrame = Rounds.run(edges, "randomWalks") { rounds =>
    require(walkLength >= 1, s"walkLength must be >= 1, got $walkLength")
    require(walksPerNode >= 1,
      s"walksPerNode must be >= 1, got $walksPerNode")
    import org.apache.spark.sql.expressions.Window
    val e = simpleDirected(edges)
    val w = Window.partitionBy(col("src"))
    val adj = rounds.pin(e.select(col("src"), col("dst"),
        (row_number().over(w.orderBy(col("dst"))) - 1)
          .cast("long").as("rk"),
        count(lit(1)).over(w).as("deg"))
      .repartition(col("src")))
    adj.count()
    def pick(t: Int): Column =
      col("adjr.rk") === pmod(shiftrightunsigned(
        Sampling.splitmix64(col("wh").bitwiseXOR(lit(t.toLong))), 32),
        col("adjr.deg"))
    walkCorpus(walkStarts(e, walksPerNode, seed), walkLength,
      rounds)(firstOrderStep(adj, pick))
  }

  /** The walk set at step 0: (start, w, id = start, wh) for every node
    * with an out-edge, `wh` the walk's private hash-stream key
    * splitmix64(splitmix64(seed XOR start) XOR w).
    */
  private def walkStarts(e: DataFrame, walksPerNode: Int,
      seed: Long): DataFrame =
    e.select(col("src").as("start")).distinct()
      .select(col("start"), explode(sequence(lit(0L),
        lit(walksPerNode - 1L))).as("w"))
      .select(col("start"), col("w"), col("start").as("id"),
        Sampling.splitmix64(
          Sampling.splitmix64(lit(seed).bitwiseXOR(col("start")))
            .bitwiseXOR(col("w"))).as("wh"))

  /** One first-order step of [[randomWalks]]/[[randomWalksWeighted]]:
    * ONE src-keyed join of the walk set against the pinned adjacency
    * `adj` (aliased `adjr`), the face-specific `residual` predicate
    * choosing exactly one neighbor row per live walk.
    */
  private def firstOrderStep(adj: DataFrame, residual: Int => Column)(
      cur: DataFrame, t: Int): DataFrame =
    cur.join(adj.as("adjr"), col("id") === col("adjr.src") && residual(t))
      .select(col("start"), col("w"), col("adjr.dst").as("id"), col("wh"))

  /** The shared walk loop behind every walk corpus: from the `init`
    * walk set, `step(walkSet, t)` for t = 1..walkLength until no walk
    * is left, then the union of all steps as (start, walk, step, id).
    */
  private def walkCorpus(init: DataFrame, walkLength: Int,
      rounds: Rounds)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    // ONE checkpoint per step: the per-step output rows are a pure
    // projection of that step's walk-set checkpoint, so a second
    // "outs" mark per step (a full second materialization job +
    // walk-set-sized copy) is redundant — the step checkpoints stay
    // alive until the final union reads them, exactly the peak
    // storage the old outs copies already paid (they are freed with
    // the call). Emptiness rides the count the mark already runs
    // (markN), not a per-step isEmpty job.
    var (cur, curN) = rounds.markN(init)
    val steps = scala.collection.mutable.ArrayBuffer(cur)
    var t = 1
    while (t <= walkLength && curN > 0) {
      val (nxt, n) = rounds.markN(step(cur, t))
      steps += nxt
      cur = nxt
      curN = n
      t += 1
    }
    rounds.mark(steps.zipWithIndex.map { case (df, i) =>
        df.select(col("start"), col("w"), lit(i.toLong).as("step"),
          col("id"))
      }.reduce(_ unionByName _)
      .select(col("start"), col("w").as("walk"), col("step"), col("id")))
  }

  /** Weight-proportional random-walk corpus over a (src, dst, weight)
    * relation — [[randomWalks]]' weighted face (node2vec on affinity /
    * citation / co-click graphs, where transition probability follows
    * edge strength): step t picks the neighbor whose cumulative-weight
    * interval [lo, hi) contains `x = ⌊u32·total/2³²⌋`, u32 = the same
    * per-walk hash stream's top 32 bits — Lemire's fast-range mapped
    * onto the weight line, EXACT in decimal(38,0), so the choice is a
    * pure function of (seed, start, walk, t) and the weights, bit-
    * stable under any partitioning and UBIGINT-renderable for oracles.
    * Resolution: weight masses differing only beyond 2⁻³² of the
    * node's total are indistinguishable — irrelevant for corpus
    * generation, and REPRODUCTION (not distribution) is the contract,
    * as in the uniform face.
    *
    * Input contract: weights cast to BIGINT; w ≤ 0 edges are
    * zero-probability and DROPPED (a documented semantic, not bad
    * data — unlike [[sssp]], where a negative weight corrupts the
    * answer and raises); parallel edges SUM their weights
    * (the [[pageRankWeighted]] posture). Nodes whose only out-edges
    * are non-positive become sinks.
    *
    * Scale shape: identical to [[randomWalks]] — the adjacency
    * carries (lo, hi, total) from ONE window pass over the summed
    * edge relation, pinned on src; each step is one walk-set-sized
    * exchange, the interval pick a residual predicate on the src's
    * rows.
    */
  def randomWalksWeighted(edges: DataFrame, walkLength: Int,
      walksPerNode: Int, seed: Long): DataFrame =
      Rounds.run(edges, "randomWalksWeighted") { rounds =>
    require(walkLength >= 1, s"walkLength must be >= 1, got $walkLength")
    require(walksPerNode >= 1,
      s"walksPerNode must be >= 1, got $walksPerNode")
    import org.apache.spark.sql.expressions.Window
    val Array(cs, cd, cw) = edges.columns.take(3)
    val dec38 = "decimal(38,0)"
    // Cumulative-interval sums in decimal(38,0), NOT raw LONG: long
    // window sums of caller-supplied weights wrap silently under
    // non-ANSI Spark and would corrupt the interval picks with no
    // signal. In decimal the overflow fails loudly under EITHER
    // session mode: ANSI raises its own arithmetic error, and under
    // non-ANSI the sum surfaces as NULL — which `tot` never is
    // organically (ew > 0, non-null, partitions non-empty), so the
    // null-check raises (the betweenness posture). Guarding tot
    // covers lo/hi too: prefix sums of positive terms are bounded by
    // the total.
    val e = edges.select(col(cs).as("src"), col(cd).as("dst"),
        col(cw).cast("long").as("ew"))
      .filter(col("ew") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(dec(col("ew"))).as("ew0"))
      // window SUM skips nulls, so an overflowed (null) parallel-edge
      // sum would be silently excluded from the intervals — guard it
      // here, where null ⇔ overflow (inputs are non-null post-filter)
      .select(col("src"), col("dst"),
        when(col("ew0").isNull, raise_error(concat(
            lit("randomWalksWeighted: parallel-edge weight sum "),
            lit("overflowed decimal(38,0) at "), col("src"),
            lit("->"), col("dst"), lit(" — rescale the weights")))
          .cast("decimal(38,0)")).otherwise(col("ew0")).as("ew"))
    val w = Window.partitionBy(col("src"))
    val wo = w.orderBy(col("dst"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totRaw = sum(col("ew")).over(w)
    val adj = rounds.pin(e.select(col("src"), col("dst"),
        (sum(col("ew")).over(wo) - col("ew")).as("lo"),
        sum(col("ew")).over(wo).as("hi"),
        when(totRaw.isNull, raise_error(concat(
            lit("randomWalksWeighted: per-node weight total "),
            lit("overflowed decimal(38,0) at src="), col("src"),
            lit(" — the cumulative-interval pick is undefined; "),
            lit("rescale the weights")))
          .cast("decimal(38,0)")).otherwise(totRaw).as("tot"))
      .repartition(col("src")))
    adj.count()
    def pick(t: Int): Column = {
      val u32 = shiftrightunsigned(
        Sampling.splitmix64(col("wh").bitwiseXOR(lit(t.toLong))), 32)
      val x = idiv(u32.cast(dec38) * col("adjr.tot").cast(dec38),
        lit(4294967296L).cast(dec38))
      x >= col("adjr.lo").cast(dec38) && x < col("adjr.hi").cast(dec38)
    }
    walkCorpus(walkStarts(e, walksPerNode, seed), walkLength,
      rounds)(firstOrderStep(adj, pick))
  }

  /** Newman modularity report for a community assignment — the
    * standard "is this partition actually community-like?" score for
    * [[labelPropagation]] / [[connectedComponents]] / external
    * clusterings (Newman & Girvan 2004): over the UNDIRECTED simple
    * graph with m edges, Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c =
    * intra-community edges and d_c = the community's degree sum.
    * Output: one row per community, (community, nodes, e_in, d_tot,
    * q_num) with `q_num = 4·m·e_in − d_tot²` in exact decimal(38,0)
    * micro-arithmetic — Q = Σ q_num / (4m²) EXACTLY, so community
    * rankings and A/B deltas are bit-stable under any partitioning
    * (the house integer-PageRank posture; a double Q varies with
    * summation order). Nodes absent from `assign` default to
    * SINGLETON communities of their own id — a partial labeling
    * (LPA on a capped round budget, an external clustering that only
    * labels the head) still scores, with the unlabeled tail priced
    * honestly as isolated vertices.
    *
    * Scale shape: one node-sized assignment join onto each edge
    * endpoint (two shuffles of the edge relation — the unavoidable
    * exchange: community membership is a node property consumed at
    * edges), then partial-aggregable grouped counts; the scalar m
    * rides a 1-row broadcast. Nothing all-pairs, nothing driver-side.
    */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val Array(ai, ac) = assign.columns.take(2)
    val e = canonicalUndirected(edges)
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
    val comm = nodes.join(
        assign.select(col(ai).as("id"), col(ac).as("community"))
          .groupBy(col("id")).agg(min(col("community")).as("community")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("community"), col("id"))
        .as("community"))
    val dec38 = "decimal(38,0)"
    val mRel = e.agg(count(lit(1)).cast(dec38).as("m"))
    val withC = e
      .join(comm.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(comm.select(col("id").as("b"), col("community").as("cb")), "b")
    val eIn = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val dTot = undirectedDegrees(e)
      .join(comm, Seq("id"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("nodes"), sum(col("deg")).as("d_tot"))
    dTot.join(eIn, Seq("community"), "left")
      .select(col("community"), col("nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"))
      .crossJoin(broadcast(mRel))
      .select(col("community"), col("nodes"), col("e_in"), col("d_tot"),
        (lit(4).cast(dec38) * col("m") * col("e_in").cast(dec38) -
          col("d_tot").cast(dec38) * col("d_tot").cast(dec38))
          .cast(dec38).as("q_num"))
  }

  /** Sampled-source betweenness centrality over the DIRECTED simple
    * graph — Brandes' dependency accumulation (Brandes, J.Math.Soc.
    * 2001) batched across an explicit `seeds` source set (the
    * standard scalable estimator: sampled sources, Brandes & Pich
    * 2007; seeds = all nodes gives the exact directed betweenness).
    * The broker-detection companion to the volume centralities
    * ([[pageRank]]/[[hits]] score endorsement mass, [[harmonicCentrality]]
    * closeness — betweenness scores CHOKEPOINTS: hosts on many
    * shortest routes, the gateway/bridge pages volume ranks miss).
    *
    * Output: (id, btw) for every node in the edge set, zero-filled,
    * in exact micro-units (`unit` = 1.0): btw(v) = Σ_{s∈seeds, s≠v}
    * δ_s(v), where δ accumulates along the shortest-path DAG as
    * δ(v) = Σ_{v→w, d(w)=d(v)+1} ⌊σ_v·(unit + δ_w)/σ_w⌋ — path
    * counts σ in exact decimal(38,0), every division floored, so the
    * score is BIT-STABLE under any partitioning (the house integer-
    * PageRank posture; Brandes' double ratios vary with reduction
    * order). Quantization: ≤ one micro-unit per DAG edge, far below
    * ranking resolution at unit = 1e12.
    *
    * Algorithm, both phases frontier-shaped:
    *  - FORWARD (≤ maxDepth rounds): batched BFS with path counting —
    *    the (s, v, σ) frontier joins the src-pinned edge relation,
    *    a (s, dst) grouped SUM accumulates σ (partial-aggregable),
    *    a left-anti against the visited set keeps first-discovery
    *    depths only; per-depth layers checkpoint ([[Rounds]]), each
    *    mark's one job also folding the layer's row count and max σ.
    *  - BACKWARD (one round per depth, deepest first): layer t joins
    *    the same pinned edges, meets layer t+1's (σ, δ) on (s, w),
    *    floors the per-edge term, and a (s, v) grouped SUM folds it;
    *    leaves and the cap-truncated deepest layer carry δ = 0 —
    *    `maxDepth` bounds BOTH phases, giving the bounded-horizon
    *    betweenness (exact when maxDepth ≥ the eccentricity of every
    *    seed; the standard truncation for web-scale graphs, where
    *    ultra-long geodesics carry no routing meaning).
    *
    * Scale shape: state is Σ_s |B_maxDepth(s)| rows — the inherent
    * cost of per-source dependency trees; size the seed sample to
    * the cluster (k seeds ≈ k BFS passes batched into diameter-many
    * rounds, NOT k separate sweeps). Edge relation pinned once;
    * every per-round exchange is frontier/layer-sized.
    */
  def betweenness(edges: DataFrame, seeds: DataFrame, maxDepth: Int = 12,
      unit: Long = 1000000000000L): DataFrame =
      Rounds.run(edges, "betweenness") { rounds =>
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    require(unit >= 1L, s"unit must be >= 1, got $unit")
    val Array(cs, cd) = edges.columns.take(2)
    val dec38 = "decimal(38,0)"
    val e = rounds.pin(edges.select(col(cs).as("src"), col(cd).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")))
    val eN = Rounds.rows(e)
    // decimal(38,0) overflow surfaces as NULL under non-ANSI Spark;
    // sigma/delta are never organically null, so a null HERE is a
    // path-count explosion (hub-dense graph at depth) — raise, never
    // let a left-join coalesce downstream read it as zero
    def guard(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(s"betweenness: $what overflowed " +
        "decimal(38,0) — shortest-path counts explode on this graph; " +
        "reduce maxDepth or shrink the seed sample")).cast(dec38))
        .otherwise(c)
    // FORWARD: per-depth layers (s, id, sigma)
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val layerCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the largest σ over the non-seed layers (seeds carry σ = 1),
    // folded by each layer's own mark for the backward phase's choice
    var maxSigma = BigDecimal(1)
    val (seedLayer, nSeeds) = rounds.markN(
      seeds.select(col(seeds.columns.head).as("s"))
        .distinct()
        .select(col("s"), col("s").as("id"), lit(1L).cast(dec38).as("sigma")))
    layers += seedLayer
    layerCounts += nSeeds
    // the visited set is a LAZY union of the per-depth checkpoints —
    // re-marking it every round would double the forward phase's
    // checkpoint work for a relation the anti-join only reads once
    var vis = layers.head
    var depth = 0
    var exhausted = false
    while (depth < maxDepth && !exhausted) {
      // shuffle_hash building the EDGE side (size-gated): the
      // per-source layers are the big relation here (Σ_s |B_t(s)|
      // rows); sort-merge would sort them every depth, hashing |E|/P
      // per task instead
      val cand = hashHintIfBounded(e, eN)
        .join(layers(depth).withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("s"), col("dst").as("id"))
        .agg(guard(sum(col("sigma")).cast(dec38), "sigma").as("sigma"))
      val (fresh, (nFresh, freshMax)) = markLayer(rounds,
        cand.join(vis.select(col("s"), col("id")), Seq("s", "id"),
          "left_anti"))
      if (nFresh == 0) exhausted = true
      else {
        maxSigma = maxSigma.max(freshMax)
        vis = vis.unionByName(fresh)
        layers += fresh
        layerCounts += nFresh
        depth += 1
      }
    }
    // LONG fast path for the backward phase (the pageRank LongExact
    // precedent, provable here only AFTER the forward phase): every
    // per-edge term is σ_v·(unit + δ_w) with σ_v ≤ maxσ (folded by the
    // forward marks) and δ_w ≤ unit·D, where
    // D = Σ_{t≥1} n_t (the non-seed layer rows) upper-bounds any
    // seed's deeper-target count — Brandes' δ_s(v) = Σ_t σ_st(v)/σ_st
    // is at most the number of deeper targets, the unit-scaled
    // recursion multiplies that by `unit`, and flooring only ever
    // decreases δ (monotone in every δ_w). So when
    // maxσ·unit·(1 + D) < 2⁶³ the whole backward phase runs in native
    // long, bit-identical to the decimal path (non-negative long DIV
    // is the floor); otherwise the decimal(38,0) path with its
    // loud-overflow guards runs as before.
    val deeperPairs = layerCounts.drop(1).sum
    val useLong = maxSigma * BigDecimal(unit) * BigDecimal(1L + deeperPairs) <=
      BigDecimal(Long.MaxValue)
    val zeroDelta = if (useLong) lit(0L) else lit(0L).cast(dec38)
    def sigmaOut(c: Column): Column = if (useLong) c.cast("long") else c
    // BACKWARD: deepest layer's delta = 0, walk up accumulating; the
    // delta frames at depth >= 1 ARE the betweenness contributions and
    // stay checkpointed until the final union (the seeds' own depth-0
    // frame contributes nothing, so it is never built). The deepest
    // frame is a lazy projection of its checkpointed layer, not a mark.
    val contribs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (layers.size > 1) contribs += layers.last
      .select(col("s"), col("id"), sigmaOut(col("sigma")).as("sigma"))
      .withColumn("delta", zeroDelta)
    for (t <- layers.size - 2 to 1 by -1) {
      val succ = contribs.last
      val termCol =
        if (useLong)
          expr(s"(CAST(sigma AS BIGINT) * (${unit}L + dw)) DIV sw")
        else guard(
          idiv(col("sigma") * (lit(unit).cast(dec38) + col("dw")),
            col("sw")), "delta term")
      val terms = layers(t).withColumnRenamed("id", "src")
        .join(hashHintIfBounded(e, eN), Seq("src"))
        .join(succ.select(col("s"), col("id").as("dst"),
          col("sigma").as("sw"), col("delta").as("dw")), Seq("s", "dst"))
        .groupBy(col("s"), col("src").as("id"))
        .agg((if (useLong) sum(termCol)
          else guard(sum(termCol).cast(dec38), "delta")).as("delta"))
      contribs += rounds.mark(layers(t)
        .join(terms, Seq("s", "id"), "left")
        .select(col("s"), col("id"), sigmaOut(col("sigma")).as("sigma"),
          coalesce(col("delta"), zeroDelta).as("delta")))
    }
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val btw =
      if (contribs.isEmpty) nodes.select(col("id"),
        lit(0L).cast(dec38).as("btw"))
      else contribs.map(_.select(col("id"),
          (if (useLong) col("delta").cast(dec38) else col("delta"))
            .as("delta")))
        .reduce(_ unionByName _)
        .groupBy(col("id"))
        .agg(guard(sum(col("delta")).cast(dec38), "betweenness total")
          .as("btw"))
    val out = nodes.join(btw, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("btw"), lit(0L).cast(dec38)).as("btw"))
    rounds.mark(out)
  }

  /** Checkpoint a [[betweenness]] forward layer (s, id, sigma); the
    * mark's one job folds its row count and its largest σ (1 when the
    * layer is empty: the seeds' own σ).
    */
  private[graft] def markLayer(rounds: Rounds,
      layer: DataFrame): (DataFrame, (Long, BigDecimal)) =
    rounds.markFold(layer, col("sigma"))((0L, BigDecimal(1)))(
      (acc, r) => (acc._1 + 1, acc._2.max(BigDecimal(r.getDecimal(0)))))(
      (x, y) => (x._1 + y._1, x._2.max(y._2)))

  /** Weighted Newman modularity report — [[modularity]] over a
    * (src, dst, weight) relation (Newman 2004, weighted networks):
    * W = the total undirected edge weight replaces m, per-community
    * intra-weight w_in replaces e_in, weighted degree (strength)
    * s_tot replaces d_tot, and q_num = 4·W·w_in − s_tot² in exact
    * decimal(38,0) — Q = Σ q_num/(4W²) EXACTLY. Canonicalization:
    * non-positive weights dropped PER EDGE as zero-mass FIRST
    * (exactly the [[randomWalksWeighted]] posture, so the graph you
    * walked is the graph you score), THEN direction erased and the
    * surviving parallel/reversed edges SUM; self-loops dropped.
    * Unassigned nodes default to singletons as in the unweighted
    * face. Same two-shuffle scale shape.
    */
  def modularityWeighted(edges: DataFrame, assign: DataFrame): DataFrame = {
    val Array(cs, cd, cw) = edges.columns.take(3)
    val Array(ai, ac) = assign.columns.take(2)
    val dec38 = "decimal(38,0)"
    val e = edges.select(least(col(cs), col(cd)).as("a"),
        greatest(col(cs), col(cd)).as("b"),
        col(cw).cast("long").as("ew"))
      .filter(col("a") =!= col("b") && col("ew") > 0)
      .groupBy(col("a"), col("b")).agg(sum(col("ew")).as("ew"))
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
    val comm = nodes.join(
        assign.select(col(ai).as("id"), col(ac).as("community"))
          .groupBy(col("id")).agg(min(col("community")).as("community")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("community"), col("id"))
        .as("community"))
    val wRel = e.agg(sum(col("ew")).cast(dec38).as("tw"))
    val withC = e
      .join(comm.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(comm.select(col("id").as("b"), col("community").as("cb")), "b")
    val wIn = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(sum(col("ew")).as("w_in"))
    val strength = e.select(col("a").as("id"), col("ew"))
      .union(e.select(col("b").as("id"), col("ew")))
      .groupBy(col("id")).agg(sum(col("ew")).as("st"))
    val sTot = strength.join(comm, Seq("id"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("nodes"), sum(col("st")).as("s_tot"))
    sTot.join(wIn, Seq("community"), "left")
      .select(col("community"), col("nodes"),
        coalesce(col("w_in"), lit(0L)).as("w_in"), col("s_tot"))
      .crossJoin(broadcast(wRel))
      .select(col("community"), col("nodes"), col("w_in"), col("s_tot"),
        (lit(4).cast(dec38) * col("tw") * col("w_in").cast(dec38) -
          col("s_tot").cast(dec38) * col("s_tot").cast(dec38))
          .cast(dec38).as("q_num"))
  }

  /** Degree assortativity over the UNDIRECTED simple graph (Newman,
    * PRL 2002): the Pearson correlation of endpoint degrees across
    * edges — positive on social-style graphs (hubs link hubs),
    * negative on web/biological-style graphs (hubs link leaves), the
    * one-number mixing diagnostic next to [[degrees]] and
    * [[clusteringCoefficient]] in link-corpus profiling. Output: ONE
    * row (m, num, den) in exact decimal(38,0) over the both-
    * orientations edge list (2m rows, j = source-end degree,
    * k = target-end degree; Σj = Σk by symmetry):
    * num = 2m·Σjk − (Σj)², den = 2m·Σj² − (Σj)², and
    * r = num/den exactly — the caller divides at whatever precision
    * it wants; the relation itself stays bit-stable cross-engine
    * (double Pearson varies with summation order — the
    * [[Profile.corrExact]] posture). den = 0 (degree-regular graph,
    * r undefined) is returned as-is, never divided here.
    *
    * Scale shape: one degree aggregate, one degree join onto each
    * edge endpoint (the same two unavoidable exchanges as
    * [[modularity]]), one global 1-row aggregate.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val dec38 = "decimal(38,0)"
    val e = canonicalUndirected(edges)
    val deg = undirectedDegrees(e)
    val pairs = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    // both orientations at once: Σj = Σ(da+db), Σjk = 2Σ(da·db),
    // Σj² = Σ(da²+db²), 2m = 2·count
    pairs.agg(
        count(lit(1)).cast(dec38).as("m"),
        sum(col("da").cast(dec38) + col("db").cast(dec38))
          .cast(dec38).as("sj"),
        sum(col("da").cast(dec38) * col("db").cast(dec38))
          .cast(dec38).as("sjk1"),
        sum(col("da").cast(dec38) * col("da").cast(dec38) +
          col("db").cast(dec38) * col("db").cast(dec38))
          .cast(dec38).as("sj2"))
      .select(col("m"),
        (lit(2).cast(dec38) * col("m") * lit(2).cast(dec38) * col("sjk1") -
          col("sj") * col("sj")).cast(dec38).as("num"),
        (lit(2).cast(dec38) * col("m") * col("sj2") -
          col("sj") * col("sj")).cast(dec38).as("den"))
  }

  /** Second-order biased random walks — node2vec (Grover & Leskovec,
    * KDD'16) with the search bias expressed as three INTEGER weights
    * instead of the paper's continuous (p, q): at step t with
    * previous node u and current node v, a candidate out-neighbor x
    * of v weighs `returnW` when x = u (the paper's 1/p), `commonW`
    * when the edge u→x exists (the paper's 1 — distance-1
    * candidates), and `exploreW` otherwise (the paper's 1/q); set
    * (returnW, commonW, exploreW) = (⌊1000/p⌋, 1000, ⌊1000/q⌋) to
    * reproduce a (p, q) configuration at per-mille resolution —
    * only the RATIOS matter. Step 1 has no previous node and picks
    * UNIFORMLY (the paper's first step). The pick itself is the
    * [[randomWalksWeighted]] machinery: cumulative candidate
    * intervals in dst order, the per-walk hash stream's fast-range
    * point — a pure function of (seed, start, walk, t) and the
    * weights, bit-stable and oracle-renderable. Directed edges
    * throughout (symmetrize upstream for the paper's undirected
    * setting); a walk whose candidates all weigh 0 stops (documented:
    * zero-weight = unreachable, as in the weighted face).
    *
    * Scale shape — the honest second-order cost: step t expands the
    * walk set by the current nodes' out-degrees (candidate relation ≈
    * walks × avg out-degree), flags the u→x membership with one
    * (prev, dst)-keyed join against the edge set, and folds the
    * cumulative intervals with one per-walk window — per step, two
    * candidate-sized exchanges + one walk-set-sized window sort,
    * against the once-pinned adjacency. First-order walks
    * ([[randomWalks]]) stay the cheap path when no bias is needed.
    */
  def randomWalksBiased(edges: DataFrame, walkLength: Int,
      walksPerNode: Int, seed: Long, returnW: Long = 1000L,
      commonW: Long = 1000L, exploreW: Long = 1000L): DataFrame =
      Rounds.run(edges, "randomWalksBiased") { rounds =>
    require(walkLength >= 1, s"walkLength must be >= 1, got $walkLength")
    require(walksPerNode >= 1,
      s"walksPerNode must be >= 1, got $walksPerNode")
    require(returnW >= 0 && commonW >= 0 && exploreW >= 0,
      "bias weights must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val dec38 = "decimal(38,0)"
    val e = simpleDirected(edges)
    val adj = rounds.pin(e.repartition(col("src")))
    // the membership side is a PROJECTION of the already-pinned
    // adjacency — same cache, same src partitioning (the subset rule
    // covers the (pv, emcd) join clustering), no second persist
    val em = adj.select(col("src").as("pv"), col("dst").as("emcd"),
      lit(1L).as("common"))
    adj.count()
    // the walkCorpus loop (see [[randomWalks]]); step 0 carries no
    // previous node
    val init = walkStarts(e, walksPerNode, seed)
      .select(col("start"), col("w"), col("id"),
        lit(null).cast("long").as("prev"), col("wh"))
    walkCorpus(init, walkLength, rounds) { (cur, t) =>
      val cand = cur.join(adj.as("adjr"), col("id") === col("adjr.src"))
        .select(col("start"), col("w"), col("wh"), col("prev"),
          col("id").as("cv"), col("adjr.dst").as("cd"))
        .join(em, col("prev") === col("pv") &&
          col("cd") === col("emcd"), "left")
        .select(col("start"), col("w"), col("wh"), col("prev"),
          col("cv"), col("cd"),
          when(col("prev").isNull, lit(1L))
            .when(col("cd") === col("prev"), lit(returnW))
            .when(col("common").isNotNull, lit(commonW))
            .otherwise(lit(exploreW)).as("cw"))
        .filter(col("cw") > 0)
      val win = Window.partitionBy(col("start"), col("w"))
      val wo = win.orderBy(col("cd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u32 = shiftrightunsigned(
        Sampling.splitmix64(col("wh").bitwiseXOR(lit(t.toLong))), 32)
      val x = idiv(u32.cast(dec38) * col("tot").cast(dec38),
        lit(4294967296L).cast(dec38))
      // cumulative sums in decimal(38,0) with the null-means-overflow
      // raise (the randomWalksWeighted guard): long window sums of
      // the caller's bias weights would wrap silently; decimal fails
      // loudly under both session modes (ANSI raises, non-ANSI NULLs
      // into this check). cw is non-null (the CASE is exhaustive) and
      // positive post-filter, so a null total ⇔ overflow, and the
      // prefix hi is bounded by it.
      val totRaw = sum(col("cw").cast(dec38)).over(win)
      cand
        .withColumn("tot", when(totRaw.isNull, raise_error(concat(
            lit("randomWalksBiased: per-step candidate weight total "),
            lit("overflowed decimal(38,0) at walk ("), col("start"),
            lit(","), col("w"),
            lit(") — rescale returnW/commonW/exploreW")))
          .cast(dec38)).otherwise(totRaw))
        .withColumn("hi", sum(col("cw").cast(dec38)).over(wo))
        .withColumn("lo", col("hi") - col("cw").cast(dec38))
        .filter(x >= col("lo").cast(dec38) && x < col("hi").cast(dec38))
        .select(col("start"), col("w"), col("cd").as("id"),
          col("cv").as("prev"), col("wh"))
    }
  }

  /** Skip-gram training pairs from a walk corpus — the consumer stage
    * completing the DeepWalk/node2vec pipeline ([[randomWalks]] /
    * [[randomWalksBiased]] → THIS → embedding trainer): for every
    * pair of positions on the same walk within `window` steps,
    * emit (center, context) — both directions, the skip-gram
    * convention — aggregated to (center, context, cnt) so the
    * training input is a compact multiset instead of a blown-up pair
    * list (cnt IS the multiplicity; a trainer weights by it).
    * Exact counts, order-free, bit-stable.
    *
    * Input: the walk relation (start, walk, step, id) as produced by
    * the walk operators. Scale shape: one self-join keyed on
    * (start, walk) — walk-length-bounded fan-out per key (≤ 2·window
    * partners per position, so the pair relation is ≤ 2·window ×
    * corpus rows), then one partial-aggregable grouped count on
    * (center, context). No windows, no driver state.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val Array(c0, c1, c2, c3) = walks.columns.take(4)
    val w = walks.select(col(c0).as("start"), col(c1).as("walk"),
      col(c2).as("step"), col(c3).as("id"))
    w.as("p").join(w.as("q"),
        col("p.start") === col("q.start") &&
          col("p.walk") === col("q.walk") &&
          col("q.step") =!= col("p.step") &&
          col("q.step") >= col("p.step") - window &&
          col("q.step") <= col("p.step") + window)
      .groupBy(col("p.id").as("center"), col("q.id").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Deterministic negative samples for skip-gram training — the
    * stage completing the embedding-corpus contract
    * ([[randomWalks]] → [[skipGramPairs]] → THIS → trainer): for
    * every input (center, context) row, draw `k` negatives from the
    * unigram^0.75 distribution (the word2vec smoothing — Mikolov et
    * al., NIPS'13) over `freqs`, a (node, frequency) relation
    * (canonically `walks.groupBy("id").count()`; non-positive
    * frequencies drop, duplicate node rows sum).
    *
    * Determinism is the whole design (the [[randomWalks]] posture):
    * draw j of pair (c, x) lands at
    * `pos = ⌊u32·total/2³²⌋` with `u32` the top 32 bits of
    * `splitmix64(splitmix64(splitmix64(seed XOR c) XOR x) XOR j)` —
    * a pure function of (seed, c, x, j) and the frequency table, so
    * results are bit-identical under any partitioning and an oracle
    * re-derives every draw. The ^0.75 weight is
    * `floor(sqrt(sqrt(f³)) · 1024)` — sqrt is IEEE
    * correctly-rounded in both the JVM and DuckDB (pow is NOT,
    * which is why the exponent is decomposed into two square
    * roots), so the weight table itself is engine-portable and the
    * 1024 scale keeps three binary digits of sub-integer
    * resolution. Draws colliding with the pair's own center or
    * context are KEPT by default (word2vec's re-draw loop is a
    * distribution nicety, not a correctness condition — and dropping
    * makes the output size data-dependent); `dropSelfCollisions =
    * true` applies the strict-negatives filter `neg != center AND
    * neg != context` INSIDE the operator so trainers don't each
    * re-derive it. The flag ONLY filters — both modes share the
    * identical deterministic draws (same (seed, c, x, j) → pos), so
    * strict output is exactly the default output minus collision
    * rows, and j indices keep their draw identity (they are NOT
    * re-densified; a pair may emit fewer than k rows).
    *
    * Scale shape, in two parts. (1) PREFIX SUMS without a global
    * window: `buckets` hash groups (`id mod buckets`) each carry an
    * in-bucket prefix sum from one bucket-partitioned window pass,
    * and only the buckets-sized offset relation pays a
    * single-partition window (B rows — pick `buckets` ≈
    * vocabulary/10⁶ at scale); global interval [glo, ghi) = bucket
    * offset + in-bucket prefix, folded on via one BROADCAST join.
    * (2) The PICK is an interval-bin equi-join, NOT a bucket join:
    * a bucket-keyed join has only `buckets` distinct keys, so at
    * corpus scale it degenerates into a per-bucket cross product.
    * Instead the weight line is cut into fixed-width bins
    * (W = 1024·max(4, tot/(4096·n)) — deterministic, derived from
    * the table itself), each node's interval replicates into the
    * bins it spans (explode of a short sequence; total replication
    * ≤ ~5× the vocabulary because total bins ≤ 4n), each draw
    * probes exactly its own bin (`x div W`), and the in-bin
    * interval residual selects the single owner. Every weight is
    * ≥ 1024 (f ≥ 1 ⇒ floor(sqrt(sqrt(1))·1024) = 1024), so a bin
    * holds at most W/1024 + 2 candidate intervals — near-constant
    * for realistic frequency tables. The corpus-sized draw relation
    * moves through exactly ONE bin-keyed exchange. Total-weight
    * overflow of decimal(38,0) raises (the [[randomWalksWeighted]]
    * guard); an EMPTY frequency table yields an empty result, not
    * an error.
    *
    * Output: (center, context, j, neg) — j = 0..k−1 the draw index,
    * so the result is replay-stable and joinable back onto the pair
    * multiset.
    */
  def skipGramNegatives(pairs: DataFrame, freqs: DataFrame, k: Int,
      seed: Long, buckets: Int = 256,
      dropSelfCollisions: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val dec38 = "decimal(38,0)"
    val Array(pc, px) = pairs.columns.take(2)
    val Array(fi, ff) = freqs.columns.take(2)
    val uni = freqs.select(col(fi).as("id"), col(ff).cast("long").as("f"))
      .filter(col("f") > 0)
      .groupBy(col("id")).agg(sum(col("f")).as("f"))
      .select(col("id"), pmod(col("id"), lit(buckets.toLong)).as("bk"),
        floor(sqrt(sqrt(col("f").cast("double") * col("f") * col("f")))
          * 1024).cast(dec38).as("w"))
    val wb = Window.partitionBy(col("bk")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = uni.select(col("id"), col("bk"), col("w"),
      (sum(col("w")).over(wb) - col("w")).as("wlo"),
      sum(col("w")).over(wb).as("whi"))
    // bucket totals ride the bucket-partitioned prefix relation (max
    // prefix = total — the subset rule keeps this shuffle-free); the
    // B-row offset window is the only global sort, by construction
    val bkt = wn.groupBy(col("bk")).agg(max(col("whi")).as("btot"))
    val wo = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bko = bkt.select(col("bk"), col("btot"),
      (sum(col("btot")).over(wo) - col("btot")).as("boff"))
    // one row: the guarded grand total, the vocabulary size, and the
    // deterministic bin width derived from both
    val totRel = bko.agg(sum(col("btot")).as("tot0"),
        count(lit(1)).as("nb"))
      .crossJoin(broadcast(
        uni.agg(count(lit(1)).cast(dec38).as("nvocab"))))
      .select(
        when(col("nb") > 0 && col("tot0").isNull, raise_error(
            lit("skipGramNegatives: unigram^0.75 weight total " +
              "overflowed decimal(38,0) — shrink the corpus frequency " +
              "scale")).cast(dec38))
          .otherwise(col("tot0")).as("tot"),
        col("nvocab"))
      .select(col("tot"),
        (lit(1024).cast(dec38) * greatest(lit(4).cast(dec38),
          idiv(col("tot"), lit(4096).cast(dec38) *
            greatest(col("nvocab"), lit(1).cast(dec38))))).as("binw"))
    // global intervals via the broadcast bucket offsets, then each
    // interval replicated into the fixed-width bins it spans
    val glob = wn.join(broadcast(bko.select(col("bk"), col("boff"))),
        Seq("bk"))
      .select(col("id"), (col("boff") + col("wlo")).as("glo"),
        (col("boff") + col("whi")).as("ghi"))
    val binned = glob.crossJoin(broadcast(totRel.select(col("binw"))))
      .select(col("id"), col("glo"), col("ghi"),
        explode(sequence(idiv(col("glo"), col("binw")).cast("long"),
          idiv(col("ghi") - lit(1).cast(dec38), col("binw"))
            .cast("long"))).as("bin"))
    val draws = pairs.select(col(pc).as("center"), col(px).as("context"))
      .select(col("center"), col("context"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .withColumn("h1",
        Sampling.splitmix64(lit(seed).bitwiseXOR(col("center"))))
      .withColumn("h2",
        Sampling.splitmix64(col("h1").bitwiseXOR(col("context"))))
      .withColumn("ph",
        Sampling.splitmix64(col("h2").bitwiseXOR(col("j"))))
      .crossJoin(broadcast(totRel))
      .select(col("center"), col("context"), col("j"),
        idiv(shiftrightunsigned(col("ph"), 32).cast(dec38) *
          col("tot").cast(dec38), lit(4294967296L).cast(dec38)).as("x"),
        col("binw"))
      .select(col("center"), col("context"), col("j"), col("x"),
        idiv(col("x"), col("binw")).cast("long").as("bin"))
    val picked = draws.as("d")
      .join(binned.as("u"), col("d.bin") === col("u.bin") &&
        col("d.x") >= col("u.glo") && col("d.x") < col("u.ghi"))
      .select(col("d.center").as("center"), col("d.context").as("context"),
        col("d.j").as("j"), col("u.id").as("neg"))
    if (dropSelfCollisions)
      picked.filter(col("neg") =!= col("center") &&
        col("neg") =!= col("context"))
    else picked
  }
}
