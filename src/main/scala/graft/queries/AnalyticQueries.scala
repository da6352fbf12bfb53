package graft.queries

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsofJoin, Ops, RangeJoin}

/** Multi-join analytic queries — the optimizer-facing workload: star
  * joins with broadcastable dims, selective pushed-down filters, top-N.
  * These exercise Catalyst join planning + AQE the way a reference
  * user's composed dataflow (input → key_on → join → fold → sort) would.
  */
object AnalyticQueries {

  private def d12(c: Column) = c.cast("decimal(12,2)")
  private def d6(c: Column) = c.cast("decimal(6,2)")

  /** 2^64 as a DuckDB literal (HUGEINT context). */
  private val M64 = "18446744073709551616"

  /** DuckDB rendering of a wrapping 64×64→64-bit multiply `z * c mod
    * 2^64` (the [[LlmQueries]] macro): split so every term < 2^97.
    */
  private def mul64(z: String, c: BigInt): String =
    s"CAST(((CAST($z % 4294967296 AS HUGEINT) * $c) + " +
      s"((((CAST($z AS HUGEINT) // 4294967296) * $c) % 4294967296) * 4294967296)) " +
      s"% $M64 AS UBIGINT)"

  /** DuckDB rendering of the splitmix64 finalizer over a UBIGINT
    * expression `z0` ([[graft.functions.SamplingImpl.splitmix64]]).
    * Inlines `z0` ~8×, so stage repeated applications through CTE
    * columns instead of nesting the macro.
    */
  private def smix64Sql(z0: String): String = {
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    val za = s"CAST((CAST($z0 AS HUGEINT) + $c1) % $M64 AS UBIGINT)"
    val zb = mul64(s"xor($za, $za >> 30)", c2)
    val zc = mul64(s"xor($zb, $zb >> 27)", c3)
    s"xor($zc, $zc >> 31)"
  }

  /** One node2vec oracle step: candidate expansion from CTE `prev`
    * over edge CTE `e` (s, d), the return/common/explore class CASE,
    * positive-weight filter, per-walk cumulative intervals, and the
    * fast-range pick.
    */
  private def walkStepN2vSql(prev: String, t: Int, rw: Long, cw: Long,
      ew: Long): String = {
    val u32 = s"(${smix64Sql(s"xor(q.wh, $t::UBIGINT)")} >> 32)"
    val x = s"CAST((CAST($u32 AS HUGEINT) * q.tot) // 4294967296 AS BIGINT)"
    s"""SELECT start, w, wh, cv AS prev, cd AS id FROM (
       |  SELECT c.*, SUM(cw) OVER (PARTITION BY start, w) AS tot,
       |    SUM(cw) OVER (PARTITION BY start, w ORDER BY cd
       |      ROWS UNBOUNDED PRECEDING) AS hi
       |  FROM (
       |    SELECT p.start, p.w, p.wh, p.id AS cv, a.d AS cd,
       |      CASE WHEN p.prev IS NULL THEN 1
       |           WHEN a.d = p.prev THEN $rw
       |           WHEN EXISTS (SELECT 1 FROM e m
       |             WHERE m.s = p.prev AND m.d = a.d) THEN $cw
       |           ELSE $ew END AS cw
       |    FROM $prev p JOIN e a ON a.s = p.id) c
       |  WHERE cw > 0) q
       |WHERE $x >= q.hi - q.cw AND $x < q.hi""".stripMargin
  }

  /** One random-walk oracle step: walks in CTE `prev` advance through
    * the ranked adjacency `adj` by the documented hash pick
    * (top 32 bits of splitmix64(wh XOR t), mod out-degree).
    */
  private def walkStepSql(prev: String, t: Int): String =
    s"""SELECT p.start, p.w, adj.d AS id, p.wh
       |  FROM $prev p JOIN adj ON adj.s = p.id
       |   AND adj.rk = CAST((${smix64Sql(s"xor(p.wh, $t::UBIGINT)")} >> 32)
       |     % CAST(adj.deg AS UBIGINT) AS BIGINT)""".stripMargin

  /** The q_graph_walks oracle body: 3 unrolled hash-pick steps over
    * the ranked adjacency, ending in a `corpus` CTE (start, walk,
    * step, id) — shared by the walks gate and the skip-gram-pairs
    * gate (which self-joins the same corpus).
    */
  private def walksCorpusSql: String =
    s"""WITH o AS MATERIALIZED (
       |  SELECT o_orderkey AS k, o_orderkey % 8 AS r FROM orders),
       |raw AS MATERIALIZED (
       |  SELECT k AS s, k + 1 AS d FROM o WHERE r < 7
       |  UNION ALL SELECT k, k + 2 FROM o WHERE r < 6),
       |e AS MATERIALIZED (SELECT DISTINCT s, d FROM raw),
       |adj AS MATERIALIZED (SELECT s, d,
       |    row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS rk,
       |    COUNT(*) OVER (PARTITION BY s) AS deg
       |  FROM e),
       |h0 AS MATERIALIZED (SELECT start,
       |    ${smix64Sql("xor(42::UBIGINT, CAST(start AS UBIGINT))")} AS h1
       |  FROM (SELECT DISTINCT s AS start FROM e)),
       |w0 AS MATERIALIZED (SELECT start, w, start AS id,
       |    ${smix64Sql("xor(h1, CAST(w AS UBIGINT))")} AS wh
       |  FROM h0 CROSS JOIN (SELECT UNNEST([0, 1]) AS w)),
       |s1 AS MATERIALIZED (${walkStepSql("w0", 1)}),
       |s2 AS MATERIALIZED (${walkStepSql("s1", 2)}),
       |s3 AS MATERIALIZED (${walkStepSql("s2", 3)}),
       |corpus AS MATERIALIZED (
       |  SELECT start, CAST(w AS BIGINT) AS walk, 0::BIGINT AS step, id
       |  FROM w0
       |  UNION ALL SELECT start, w, 1, id FROM s1
       |  UNION ALL SELECT start, w, 2, id FROM s2
       |  UNION ALL SELECT start, w, 3, id FROM s3)""".stripMargin

  /** The coreness oracle: exact per-k unroll of the incremental
    * synchronous peel over the clique-and-pendant fixture — shared
    * verbatim by the capped (maxK = 3) and auto-degeneracy (maxK = 0)
    * gates, whose outputs must be bit-identical on this fixture
    * (degeneracy 3).
    */
  private val corenessOracleSql: String =
    """WITH o AS MATERIALIZED (SELECT o_orderkey AS k, o_orderkey % 8 AS r,
      |    o_orderkey - o_orderkey % 8 AS base,
      |    2 + (o_orderkey // 8) % 3 AS c
      |  FROM orders),
      |m AS MATERIALIZED (SELECT k, base FROM o WHERE r < c),
      |raw AS MATERIALIZED (
      |  SELECT x.k AS s, y.k AS d FROM m x JOIN m y
      |    ON x.base = y.base AND x.k < y.k
      |  UNION ALL
      |  SELECT k, base + r % c FROM o WHERE r >= 4),
      |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
      |  FROM raw WHERE s <> d),
      |d1 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
      |k1 AS MATERIALIZED (SELECT id FROM d1 WHERE deg >= 2),
      |e1 AS MATERIALIZED (SELECT a, b FROM e0
      |  WHERE a IN (SELECT id FROM k1) AND b IN (SELECT id FROM k1)),
      |d2 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
      |k2 AS MATERIALIZED (SELECT id FROM d2 WHERE deg >= 2),
      |e2 AS MATERIALIZED (SELECT a, b FROM e1
      |  WHERE a IN (SELECT id FROM k2) AND b IN (SELECT id FROM k2)),
      |d3 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
      |k3 AS MATERIALIZED (SELECT id FROM d3 WHERE deg >= 2),
      |e3 AS MATERIALIZED (SELECT a, b FROM e2
      |  WHERE a IN (SELECT id FROM k3) AND b IN (SELECT id FROM k3)),
      |d4 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1),
      |k4 AS MATERIALIZED (SELECT id FROM d4 WHERE deg >= 3),
      |e4 AS MATERIALIZED (SELECT a, b FROM e3
      |  WHERE a IN (SELECT id FROM k4) AND b IN (SELECT id FROM k4)),
      |d5 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4) GROUP BY 1),
      |k5 AS MATERIALIZED (SELECT id FROM d5 WHERE deg >= 3),
      |e5 AS MATERIALIZED (SELECT a, b FROM e4
      |  WHERE a IN (SELECT id FROM k5) AND b IN (SELECT id FROM k5)),
      |d6 AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
      |  SELECT a AS id FROM e5 UNION ALL SELECT b FROM e5) GROUP BY 1),
      |k6 AS MATERIALIZED (SELECT id FROM d6 WHERE deg >= 3),
      |e6 AS MATERIALIZED (SELECT a, b FROM e5
      |  WHERE a IN (SELECT id FROM k6) AND b IN (SELECT id FROM k6))
      |SELECT id, CAST(MAX(cor) AS BIGINT) AS coreness FROM (
      |  SELECT DISTINCT id, 1 AS cor FROM (
      |    SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
      |  UNION ALL SELECT DISTINCT id, 2 FROM (
      |    SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
      |  UNION ALL SELECT DISTINCT id, 3 FROM (
      |    SELECT a AS id FROM e6 UNION ALL SELECT b FROM e6))
      |GROUP BY 1""".stripMargin

  /** One WEIGHTED random-walk oracle step: the fast-range pick
    * x = ⌊u32·tot/2³²⌋ landing in the neighbor's cumulative-weight
    * interval [lo, hi).
    */
  private def walkStepWSql(prev: String, t: Int): String = {
    val u32 = s"(${smix64Sql(s"xor(p.wh, $t::UBIGINT)")} >> 32)"
    s"""SELECT p.start, p.w, adj.d AS id, p.wh
       |  FROM $prev p JOIN adj ON adj.s = p.id
       |   AND CAST((CAST($u32 AS HUGEINT) * adj.tot) // 4294967296
       |     AS BIGINT) >= adj.lo
       |   AND CAST((CAST($u32 AS HUGEINT) * adj.tot) // 4294967296
       |     AS BIGINT) < adj.hi""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q3-style: unshipped-order revenue for one segment, top 10
    "q3_topn" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val ord = Tables.load(s, dir, "orders")
        .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val li = Tables.load(s, dir, "lineitem")
        .filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg(CoreQueries.decDouble(sum(d12($"l_extendedprice") * d6(lit(1) - $"l_discount"))).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
        .select($"l_orderkey",
          unix_millis($"o_orderdate".cast("timestamp")).as("o_date_ms"), $"revenue")
    },

    // TPC-H Q5-style: revenue per nation for one region (3 broadcast dims)
    "q5_region_revenue" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region").filter($"r_name" === "ASIA")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy($"n_name")
        .agg(CoreQueries.decDouble(sum(d12($"l_extendedprice") * d6(lit(1) - $"l_discount"))).as("revenue"))
    },

    // composite pipeline: branch + window + join in one flow — orders
    // volume vs high-value volume per month
    "q_pipeline_monthly" -> { (s, dir) =>
      import s.implicits._
      val ord = Tables.load(s, dir, "orders")
      val (hi, lo) = Ops.branch(ord, $"o_totalprice" >= 150000)
      val month = (c: Column) => date_trunc("month", c)
      val hiAgg = hi.groupBy(month($"o_orderdate").as("m")).agg(count(lit(1)).as("hi_n"))
      val loAgg = lo.groupBy(month($"o_orderdate").as("m")).agg(count(lit(1)).as("lo_n"))
      hiAgg.join(loAgg, Seq("m"), "full_outer")
        .select(unix_millis($"m").as("month_ms"),
          coalesce($"hi_n", lit(0L)).as("hi_n"),
          coalesce($"lo_n", lit(0L)).as("lo_n"))
    },

    // as-of joins: click → purchase-as-of per user, all four shapes.
    // Differential surface is real on this data: ~7% of clicks have no
    // prior purchase (backward) and ~7% no later one (forward).
    "q_asof_backward" -> { (s, dir) =>
      val (l, r) = asofSides(s, dir)
      asofOut(AsofJoin.asof(l, r, Seq("user_id" -> "r_uid"), "ts", "r_ts"))
    },

    "q_asof_forward" -> { (s, dir) =>
      val (l, r) = asofSides(s, dir)
      asofOut(AsofJoin.asof(l, r, Seq("user_id" -> "r_uid"), "ts", "r_ts",
        direction = AsofJoin.Forward))
    },

    "q_asof_nearest" -> { (s, dir) =>
      val (l, r) = asofSides(s, dir)
      asofOut(AsofJoin.asof(l, r, Seq("user_id" -> "r_uid"), "ts", "r_ts",
        direction = AsofJoin.Nearest))
    },

    "q_asof_tolerance" -> { (s, dir) =>
      val (l, r) = asofSides(s, dir)
      asofOut(AsofJoin.asof(l, r, Seq("user_id" -> "r_uid"), "ts", "r_ts",
        tolerance = Some(expr("INTERVAL 1 DAY"))))
    },

    // exact 2×K chi-square experiment readout: unit = user, variant
    // = user_id % 3, outcome = "ever purchased" — the per-variant
    // additive contribution in micro-units pins the collapsed
    // (x·N − n·X)²/(n·X·(N−X)) algebra and the floor quantization;
    // oracle = the same formula in HUGEINT (one-stage floor ≡ the
    // op's overflow-safe two-stage at any non-overflowing scale)
    "q_events_ab" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val units = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("conv"))
        .select(pmod(col("user_id"), lit(3L)).as("variant"), col("conv"))
      graft.functions.Profile.chiSquareReport(units, col("variant"),
          col("conv"))
        .select(col("grp").as("variant"), col("n"), col("x"),
          col("chi2_micro").cast("long").as("chi2_micro"))
    },

    // KEYLESS as-of: each click matched to the latest prior purchase of
    // ANY user — binned two-level scan, no single global window
    "q_asof_global" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), unix_micros(col("ts")).as("l_us"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(unix_micros(col("ts")).as("r_us"))
        .agg(max(col("value")).as("r_value"))
      AsofJoin.asofGlobal(l, "l_us", r, "r_us", binWidth = 3600L * 1000000L)
    },

    // keyless interval join: purchases (any user) within ±6h of each
    // click — binned to a 12h-cell equi-join, never a nested loop
    "q_range_join" -> { (s, dir) =>
      val hUs = 3600L * 1000000L
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), unix_micros(col("ts")).as("c_us"))
        .withColumn("lo", col("c_us") - 6 * hUs)
        .withColumn("hi", col("c_us") + 6 * hUs)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(unix_micros(col("ts")).as("p_us"))
      RangeJoin.pointInInterval(pur, "p_us", clicks, "lo", "hi", 12 * hUs)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_nearby"),
          expr("min(p_us) div 1000").as("first_ms"),
          expr("max(p_us) div 1000").as("last_ms"))
    },

    // salted equi-join: the hot-key fix for join→same-key-agg
    // pipelines, where AQE skew-join declines to split (measured,
    // tools/SkewProbe, probe removed; source at `9a1e704`: 2.1× at 100M
    // rows/40% hot key). Salting is
    // invisible in the OUTPUT — the oracle is the plain join — so the
    // gate pins row-identity of the rewrite, integer-exact
    "q_skew_join" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("w", pmod(col("user_id"), lit(97L)))
      graft.operators.SkewJoin.saltedJoin(ev, dim, Seq("user_id"), salt = 8)
        .groupBy(col("user_id"), col("w"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_eid"))
    },

    // bloom-reduced equi-join: the probe side (lineitem) drops
    // non-matching rows map-side against a broadcast Bloom filter of
    // the build side's keys ('P'-status orders, ~1/4 of keys) before
    // the exact join. The filter is pure performance — the oracle is
    // the PLAIN join, so row-identity of the rewrite is what the gate
    // pins (false positives survive the prefilter but die in the join)
    "q_bloom_join" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ords = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.operators.BloomJoin.bloomReduceJoin(li, ords, Seq("l_orderkey"))
    },

    // link-graph authority scores over the customer↔supplier co-order
    // graph (symmetrized; supplier ids offset into a disjoint node
    // space): 3 power iterations in exact micro-unit integer
    // arithmetic — the oracle unrolls each round in HUGEINT, so the
    // distributed fixpoint is hash-verified the q_embed_ivf2 way
    // (fixed iteration count, no recursion needed)
    "q_graph_pagerank" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      // gate face cast to BIGINT: micro-unit ranks are ≤ ~1.6e15, far
      // inside long range — DECIMAL(38,0) stays internal to Graph, but
      // the DECIMAL/HUGEINT rendering boundary between engines is the
      // one face the driver's hasher canonicalizes differently
      graft.functions.Graph.pageRank(edges, iterations = 3)
        .select(col("id"), col("rank").cast("long").as("rank"))
    },

    // weighted PageRank on the co-order MULTIGRAPH: edge weight =
    // shared-lineitem multiplicity (the multiplicity the uniform
    // gate's distinct() erases), so mass splits w/Σw — a floor-per-
    // edge division the oracle re-runs in HUGEINT; 2 rounds unrolled
    "q_graph_pagerank_w" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val edges = half.unionByName(
        half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      graft.functions.Graph.pageRankWeighted(edges, iterations = 2)
        .select(col("id"), col("rank").cast("long").as("rank"))
    },

    // seed-personalized propagation (TrustRank): teleport mass only on
    // the %10 customer seed set, 2 rounds — suppliers score by link
    // proximity to trusted customers, customers outside the seed set
    // only via the symmetrized back-edges
    "q_graph_trustrank" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = o.select(col("o_custkey").as("id"))
        .filter(pmod(col("id"), lit(10L)) === 0).distinct()
      graft.functions.Graph.trustRank(edges, seeds, iterations = 2)
        .select(col("id"), col("rank").cast("long").as("rank"))
    },

    // HITS on the DIRECTED customer→supplier half: customers are
    // hubs, suppliers authorities — the bipartite case where the two
    // scores live on opposite sides; 2 sum-normalized rounds
    "q_graph_hits" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      graft.functions.Graph.hits(half, iterations = 2)
        .select(col("id"), col("hub").cast("long").as("hub"),
          col("auth").cast("long").as("auth"))
    },

    // synchronous LPA communities on the symmetrized co-order graph,
    // 2 rounds: 1600 nodes collapse to 7 labels at sf0.01 with 4
    // fixpoint nodes — adoption, tie-breaks, and keep-own all live
    "q_graph_lpa" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      graft.functions.Graph.labelPropagation(edges, iterations = 2)
    },

    // multi-source BFS depth from the %10 customer seed set over the
    // symmetrized co-order graph, capped at 2 hops: level 1 =
    // suppliers the seeds order from, level 2 = customers sharing
    // those suppliers — all three levels populated, the anti-join
    // (already-discovered nodes never re-level) differentially live.
    // Seeds come from CUSTOMER, so never-ordering seed keys sit at
    // distance 0 with no edges (the distance-from-set contract)
    "q_graph_bfs" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.load(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(10L)) === 0)
        .select(col("c_custkey").as("id"))
      graft.functions.Graph.bfsDistance(edges, seeds, maxDepth = 2)
    },

    // degree report on the DIRECTED customer→supplier half (so in/out
    // are genuinely different: customers out-only, suppliers in-only)
    "q_graph_degrees" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val half = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      graft.functions.Graph.degrees(half)
    },

    // exact per-node triangle counts over the part co-order graph
    // (parts sharing an order link — non-bipartite, so triangles
    // exist, and ~0.5% dense at sf0.1 so the gate measures the
    // orientation, not a near-complete-graph stress). The operator
    // runs the degree-ordered orientation; the oracle is the plain
    // canonical three-way join — the orientation rewrite must be
    // row-invisible, that is the exactness guarantee under test
    "q_graph_triangles" -> { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = l.as("x").join(l.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      graft.functions.Graph.triangles(e)
    },

    // local clustering coefficient in exact micro-units over the same
    // part co-order graph — the normalized triangle face (hub with
    // few triangles ≪ small node with the same count)
    "q_graph_clustering" -> { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val e = l.as("x").join(l.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
      graft.functions.Graph.clusteringCoefficient(e)
    },

    // RFM user-value segmentation: recency/frequency/monetary with
    // exact decimal money, quantile-coded into equi-depth quartiles
    // by one 1-row bounds broadcast (no population sort)
    "q_events_rfm" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.rfm(ev, "user_id", "ts", "value", nBuckets = 4)
        .select(col("user").as("user_id"), col("r_us"), col("f"),
          CoreQueries.decDouble(col("m")).as("m"),
          col("r_b"), col("f_b"), col("m_b"), col("rfm"))
    },

    // multi-touch attribution, all four models over one day of
    // lookback: the 24h window gives every credit branch real mass
    // at sf0.01 (672 single-touch, 476 two-touch, 281 3+-touch
    // conversions), so the U-shape's first/last/middle splits, the
    // linear floor, and the same-instant id tie-break are all pinned
    "q_events_attrib" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      Seq("first", "last", "linear", "position").map { m =>
        graft.functions.Events.attribution(ev, "user_id", "ts",
            "event_type", "event_id", "event_type", "purchase",
            Seq("view", "click", "signup"),
            lookbackUs = 86400000000L, model = m)
          .groupBy(col("channel"))
          .agg(sum(col("credit")).as("credit_mu"),
            count(lit(1)).as("touches"))
          .select(lit(m).as("model"), col("channel"), col("credit_mu"),
            col("touches"))
      }.reduce(_ unionByName _)
    },

    // bounded-round k-core peeling on the binary-tree graph over
    // orderkeys (edge k — k÷2): a tree's 2-core is empty, so peeling
    // erodes exactly one leaf-layer per synchronous round and
    // maxRounds GENUINELY BINDS — the oracle unrolls precisely 3
    // peels, pinning the round-boundary semantics (an off-by-one in
    // the loop or a non-synchronous peel changes the face)
    "q_graph_kcore" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") >= 1)
        .select(col("o_orderkey").as("src"),
          expr("o_orderkey DIV 2").as("dst"))
      graft.functions.Graph.kcore(o, k = 2, maxRounds = 3)
    },

    // per-node core numbers on block-local cliques of VARYING size
    // over orderkeys: block b = k DIV 8 hosts a clique of c = 2+b%3
    // members (keys k%8 < c) plus four pendants (k%8 ≥ 4) hung on
    // member k%c — so coreness 1 (pendants + pair-cliques), 2
    // (triangles), and 3 (4-cliques) all coexist and the INCREMENTAL
    // peel (each threshold peeling the previous survivors) must get
    // every layer boundary right; each per-k peel converges within
    // the 3-round cap (pendants drop in round 1, the c=2 members in
    // round 2), so the oracle's exact 3-peel-per-k unroll equals the
    // operator's early-exited fixpoint
    "q_graph_coreness" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val m = o.filter(col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      graft.functions.Graph.coreness(clique.unionByName(pend),
        maxK = 3, maxRoundsPerK = 3)
    },

    // AUTO-DEGENERACY coreness (maxK = 0): same clique-and-pendant
    // fixture, no a-priori bound — the peel runs until the k=4 round
    // empties the 4-cliques, so the realized degeneracy is 3 and the
    // result must HASH-MATCH the capped maxK=3 run exactly (shared
    // oracle); pins that auto mode adds no phantom layers and stops
    // at the true degeneracy
    "q_graph_coreness_auto" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val m = o.filter(col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      graft.functions.Graph.coreness(clique.unionByName(pend),
        maxK = 0, maxRoundsPerK = 3)
    },

    // k-truss peeling on a mixed graph: EVEN 8-key blocks carry
    // triangle strips (path + skip edges — end edges support 1,
    // interior path edges 2), ODD blocks carry cliques of varying
    // size (c = 2 + (k DIV 16)%3) with pendants. At k=4 the strips
    // CASCADE to empty through the 3 rounds (dropping the
    // support-1 edges zeroes the survivors' support), triangles and
    // pendants die in round 1, and only the 4-cliques survive — a
    // support-computation bug, a wrong threshold, or a broken
    // cascade each leave different classes alive; the oracle unrolls
    // exactly 3 synchronous support-and-filter steps (common-
    // neighbor counts) with MATERIALIZED CTEs
    "q_graph_ktruss" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          pmod(expr("o_orderkey DIV 8"), lit(2L)).as("par"),
          (pmod(expr("o_orderkey DIV 16"), lit(3L)) + 2).as("c"))
      val strip1 = o.filter(col("par") === 0 && col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val strip2 = o.filter(col("par") === 0 && col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      val m = o.filter(col("par") === 1 && col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("par") === 1 && col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      graft.functions.Graph.ktruss(
        strip1.unionByName(strip2).unionByName(clique).unionByName(pend),
        k = 4, maxRounds = 3)
    },

    // strongly connected components on block-local DIRECTED cycles of
    // varying size (c = 2 + b%3 members per 8-key block), pendant
    // edges INTO the cycles (reachability one way only → singleton
    // SCCs), and one-directional base→base+8 cross chains capped at
    // 16 blocks (DAG edges that must NOT merge — and the bound that
    // keeps the oracle's transitive closure small). Pins direction
    // (undirected CC would fuse everything), cycle closure at three
    // different lengths, the pendant/cycle asymmetry, and the
    // isolated-singleton sweep; oracle = full mutual-reachability
    // model (recursive closure + symmetric self-join + per-node MIN)
    "q_graph_scc" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val cyc = o.filter(col("r") < col("c"))
        .select(col("k").as("src"),
          (col("base") + pmod(col("r") + 1, col("c"))).as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"), col("base").as("dst"))
      val cross = o.filter(col("r") === 0 &&
          pmod(expr("k DIV 8"), lit(16L)) =!= 15)
        .select(col("k").as("src"), (col("k") + 8).as("dst"))
      graft.functions.Graph.stronglyConnectedComponents(
        cyc.unionByName(pend).unionByName(cross))
    },

    // weighted modularity over the same clique-and-pendant blocks,
    // edge weight = 1 + (src+dst) % 5 — parallel/reversed raw edges
    // must SUM into the canonical weight, pendant srcs stay
    // unassigned (weighted singleton default), and q_num =
    // 4·W·w_in − s_tot² is exact decimal arithmetic; independent SQL
    // aggregation oracle
    "q_graph_modularity_w" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val m = o.filter(col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      val we = clique.unionByName(pend)
        .select(col("src"), col("dst"),
          (pmod(col("src") + col("dst"), lit(5L)) + 1).as("w"))
      val asg = m.select(col("k").as("id"), col("base").as("community"))
      graft.functions.Graph.modularityWeighted(we, asg)
        .select(col("community"), col("nodes"), col("w_in"), col("s_tot"),
          col("q_num").cast("long").as("q_num"))
    },

    // degree assortativity: one exact-integer Pearson relation
    // (m, num, den) over the clique+pendant mixing graph — cliques
    // are assortative (equal degrees link), pendants disassortative
    // (degree-1 leaves hang on clique members), so num is a genuine
    // balance of both signs; oracle = one SQL aggregation over the
    // degree-joined edge list in HUGEINT
    "q_graph_assortativity" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val m = o.filter(col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      graft.functions.Graph.assortativity(clique.unionByName(pend))
        .select(col("m").cast("long").as("m"),
          col("num").cast("long").as("num"),
          col("den").cast("long").as("den"))
    },

    // deterministic random-walk corpus on block-bounded branching
    // DAGs over orderkeys (k→k+1 for r<7, k→k+2 for r<6): interior
    // nodes offer a REAL 2-way choice (pins the splitmix64 stream
    // key + top-32-bit mod indexing at every step), r=6 nodes force
    // the single edge, r=7 and off-key dsts are sinks (pins the
    // truncated-walk stop). The oracle re-derives every choice from
    // the UBIGINT-rendered hash spec — 3 unrolled step CTEs over the
    // ranked adjacency, the wh stream key staged through a
    // MATERIALIZED CTE so the splitmix64 macro never nests
    "q_graph_walks" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val path = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      graft.functions.Graph.randomWalks(path.unionByName(skip),
        walkLength = 3, walksPerNode = 2, seed = 42L)
    },

    // weight-proportional random walks on the same blocks, path edge
    // weight r+1 vs skip weight 2: the cumulative-interval pick
    // x = ⌊u32·tot/2³²⌋ ∈ [lo, hi) is live wherever both edges exist
    // (tot = r+3, genuinely varied per node); the zero/negative-drop
    // contract is spec-pinned. Oracle: window cumulative sums + the
    // HUGEINT fast-range pick, 3 unrolled steps
    "q_graph_walks_w" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val path = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"),
          (col("r") + 1).as("w"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"),
          lit(2L).as("w"))
      graft.functions.Graph.randomWalksWeighted(path.unionByName(skip),
        walkLength = 3, walksPerNode = 2, seed = 43L)
    },

    // skip-gram pairs over the q_graph_walks corpus (window ±2): the
    // trainer-input multiset (center, context, cnt) — pins the
    // self-join bounds (same walk only, step distance 1..2, both
    // directions) and the exact multiplicities; oracle = the shared
    // walks-corpus CTEs + the same self-join aggregation
    "q_graph_walk_pairs" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val path = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      val walks = graft.functions.Graph.randomWalks(
        path.unionByName(skip), walkLength = 3, walksPerNode = 2,
        seed = 42L)
      graft.functions.Graph.skipGramPairs(walks, window = 2)
    },

    // deterministic negative sampling over the same corpus: k=2
    // draws per (center, context) pair from the unigram^0.75
    // distribution (weight = floor(sqrt(sqrt(f^3))*1024 — sqrt is
    // IEEE-exact in BOTH engines, which is why the oracle can
    // re-derive the weight table bit-for-bit); buckets=8 makes the
    // two-level prefix sums multi-bucket live, and the engine-side
    // interval-bin pick is pure join strategy — the oracle
    // re-derives each draw MATHEMATICALLY (global offset intervals +
    // the staged splitmix64 stream, seed 91 → center → context → j),
    // so it pins the result independent of the join shape
    "q_graph_walk_negs" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val path = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      val walks = graft.functions.Graph.randomWalks(
        path.unionByName(skip), walkLength = 3, walksPerNode = 2,
        seed = 42L)
      val pairs = graft.functions.Graph.skipGramPairs(walks, window = 2)
      val freqs = walks.groupBy(col("id")).count()
      graft.functions.Graph.skipGramNegatives(pairs, freqs, k = 2,
        seed = 91L, buckets = 8)
    },

    // node2vec second-order walks on blocks with reciprocal edges:
    // forward k→k+1, backward k→k−1 (so the previous node is a live
    // RETURN candidate), skip k→k+2 (so from cur=k+1 with prev=k the
    // candidate k+2 is COMMON — edge k→k+2 exists — while k+3 is
    // EXPLORE); weights (250, 1000, 500) ≡ (p, q) = (4, 2). Oracle:
    // per step, candidate expansion + EXISTS membership class + the
    // per-walk window cumulative pick, 3 unrolled steps
    "q_graph_walks_n2v" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val fwd = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val back = o.filter(col("r") >= 1)
        .select(col("k").as("src"), (col("k") - 1).as("dst"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      graft.functions.Graph.randomWalksBiased(
        fwd.unionByName(back).unionByName(skip),
        walkLength = 3, walksPerNode = 2, seed = 47L,
        returnW = 250L, commonW = 1000L, exploreW = 500L)
    },

    // sampled-source Brandes betweenness on the walks gate's
    // path+skip blocks: from a block start, k+3 is reachable by TWO
    // equal 2-hop routes (via k+1's skip and k+2's path), so σ=2 and
    // the ⌊σ_v·(unit+δ_w)/σ_w⌋ ratio split is live at every block;
    // seeds = the r=0 keys, maxDepth=3 pins the bounded-horizon
    // truncation (the depth-3 layer is a δ=0 leaf). Oracle = exact
    // 3-layer forward σ unroll + 3-step backward δ accumulation in
    // HUGEINT floor division
    "q_graph_betweenness" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"))
      val path = o.filter(col("r") < 7)
        .select(col("k").as("src"), (col("k") + 1).as("dst"))
      val skip = o.filter(col("r") < 6)
        .select(col("k").as("src"), (col("k") + 2).as("dst"))
      val seeds = o.filter(col("r") === 0).select(col("k").as("id"))
      graft.functions.Graph.betweenness(path.unionByName(skip), seeds,
          maxDepth = 3)
        .select(col("id"), col("btw").cast("long").as("btw"))
    },

    // Newman modularity report over the coreness gate's clique-and-
    // pendant blocks: clique members are assigned community = their
    // block base, pendant srcs stay UNASSIGNED (the singleton
    // default — their only edge is a boundary edge, e_in = 0), so
    // intra-community counting, degree sums, the 4·m·e − d² exact
    // arithmetic, and the partial-labeling contract are all pinned
    // by one relation; q_num cast to BIGINT for the gate (the values
    // are small at any SF that fits the oracle — the operator itself
    // carries decimal(38,0))
    "q_graph_modularity" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(8L)).as("r"),
          (col("o_orderkey") - pmod(col("o_orderkey"), lit(8L))).as("base"),
          (pmod(expr("o_orderkey DIV 8"), lit(3L)) + 2).as("c"))
      val m = o.filter(col("r") < col("c"))
      val clique = m.as("x").join(m.as("y"),
          col("x.base") === col("y.base") && col("x.k") < col("y.k"))
        .select(col("x.k").as("src"), col("y.k").as("dst"))
      val pend = o.filter(col("r") >= 4)
        .select(col("k").as("src"),
          (col("base") + pmod(col("r"), col("c"))).as("dst"))
      val asg = m.select(col("k").as("id"), col("base").as("community"))
      graft.functions.Graph.modularity(clique.unionByName(pend), asg)
        .select(col("community"), col("nodes"), col("e_in"), col("d_tot"),
          col("q_num").cast("long").as("q_num"))
    },

    // connected components on a CUT binary tree over orderkeys: keep
    // edge (k, k DIV 2) only when the parent is ODD, so the tree
    // shatters into caterpillar components (an odd spine m — 2m+1 —
    // 4m+3 — … with even leaves) of genuinely varying depth — the
    // multi-hop shape that pins TRANSITIVE closure (a pair-local or
    // one-round labeling gets the deep spines wrong), while sparse
    // orderkeys add singleton-pair fragments. Oracle: DuckDB
    // recursive reachability + per-node MIN — component sizes are
    // bounded (~2·log₂ maxkey), so enumerate-reachable stays small
    "q_graph_cc" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") >= 2 &&
          pmod(expr("o_orderkey DIV 2"), lit(2L)) === 1)
        .select(col("o_orderkey").as("src"),
          expr("o_orderkey DIV 2").as("dst"))
      graft.functions.Graph.connectedComponents(o)
    },

    // weighted shortest paths over block-bounded skip DAGs: within
    // each 16-key block, edge k→k+1 (w = k%5+1) and k→k+3 (w = k%7+2)
    // — the skip edge's direct cost races the stepping path, so the
    // gate pins WEIGHTED minimum over alternatives (hop count gets it
    // wrong), and downstream re-relaxation cascades (a first-found
    // dist via the heavy route must be improved later). Seeds: block
    // starts (k%16 = 0). Blocks bound the DuckDB recursion: per
    // component ≤16 source nodes, path sums ≤ 24 — while the
    // operator side is the frontier-pruned Bellman–Ford
    "q_graph_sssp" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders").select(col("o_orderkey").as("k"))
      val e = o.filter(pmod(col("k"), lit(16L)) < 15)
        .select(col("k").as("src"), (col("k") + 1).as("dst"),
          (pmod(col("k"), lit(5L)) + 1).as("w"))
        .unionByName(o.filter(pmod(col("k"), lit(16L)) < 13)
          .select(col("k").as("src"), (col("k") + 3).as("dst"),
            (pmod(col("k"), lit(7L)) + 2).as("w")))
      val seeds = o.filter(pmod(col("k"), lit(16L)) === 0)
        .select(col("k").as("id"))
      graft.functions.Graph.sssp(e, seeds, maxIter = 20)
    },

    // exact quantiles + exact distinct counts per group (single
    // shuffle; percentile is Spark's exact sort-based aggregate)
    "q_quantiles" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        // one array-percentile call: the per-group value buffer is
        // built and sorted ONCE for all four points (four scalar
        // percentile aggs each keep their own buffer — measured 4x
        // the agg memory for identical output)
        .agg(
          expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95))").as("qs"),
          countDistinct(col("l_suppkey")).as("n_supp"))
        .select(col("l_returnflag"),
          col("qs")(0).as("q25"), col("qs")(1).as("q50"),
          col("qs")(2).as("q75"), col("qs")(3).as("q95"), col("n_supp"))
    },

    // per-group winsorization: clamp l_extendedprice into its
    // returnflag-group [p05, p95] — two passes (grouped exact
    // percentile → broadcast-join-back + codegen'd clamp), never a
    // sort or window over the data; per-row face (no float sums, so
    // the doubles are bit-stable)
    "q_winsorize" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"))
      graft.functions.Profile.winsorize(li, Seq("l_returnflag"),
          "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice_lo").as("lo"),
          col("l_extendedprice_hi").as("hi"),
          col("l_extendedprice_w").as("w"))
    },

    // equi-depth binning: per-returnflag quartile bucket of
    // l_extendedprice via the bounds-join form (one grouped
    // percentile + broadcast-back; no ntile, no per-group data sort)
    "q_bucketize" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"))
      graft.functions.Profile.quantileBuckets(li, Seq("l_returnflag"),
          "l_extendedprice", 4)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice_bucket").as("bucket"))
    },

    // exact-aggregate Pearson correlation: bit-stable under any
    // partitioning because the co-moments are exact decimal sums and
    // only the final scalar closed form goes through double — the
    // built-in running-double corr is merge-order-dependent and
    // could never hash-match an oracle
    "q_corr" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      graft.functions.Profile.corrExact(li,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // rollup with grouping ids — subtotal/grand-total rows in one pass
    // (Spark Expand: one shuffle for all grouping sets, not one per level)
    "q_rollup" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          CoreQueries.decDouble(sum(d12(col("l_extendedprice")))).as("rev"),
          grouping_id().as("gid"))
    },

    // cube: all 2^k grouping sets in the same single Expand shuffle
    // (rollup's lattice completion — cross-category subtotals too)
    "q_cube" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          CoreQueries.decDouble(sum(d12(col("l_extendedprice")))).as("rev"),
          grouping_id().as("gid"))
    },

    // ordered analytic window functions: row_number / lag / running sum
    // per customer (running sums evaluate sequentially over the sorted
    // frame in both engines — deterministic double arithmetic)
    "q_window_funcs" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        CoreQueries.decDouble(sum(d12(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("run_total"))
    },

    // z-order curve values: integer min/max bucketize + bit interleave,
    // the write-side layout primitive (LayoutSpec measures the actual
    // file pruning; this gate pins the arithmetic bit-exactly)
    "q_zorder" -> { (s, dir) =>
      import graft.functions.Layout
      val tsMin = 1704067200000000L // 2024-01-01 UTC in micros
      val tsMax = 1706745599999999L // 2024-01-31 23:59:59.999999
      Tables.load(s, dir, "events").select(col("event_id"),
        Layout.zvalue(10,
          Layout.bucketize(col("user_id"), 0L, 1999L, 10),
          Layout.bucketize(unix_micros(col("ts")), tsMin, tsMax, 10)).as("z"))
    },

    // time-RANGE window frame: trailing-30-day order count + spend per
    // customer at each order (range frames bound by VALUE, not row
    // position — the moving-aggregate shape row frames can't express
    // under irregular event spacing)
    "q_window_range" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val days = unix_date(col("o_orderdate").cast("date")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(days)
        .rangeBetween(-29L, Window.currentRow)
      Tables.load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_30d"),
        CoreQueries.decDouble(sum(d12(col("o_totalprice"))).over(w)).as("spend_30d"))
    },

    // pivot: wide per-category counts in one grouped pass
    "q_pivot" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("O", "F"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("F"), lit(0L)).as("n_f"))
    },

    // entity resolution on STRUCTURED records (RecordLink): multi-pass
    // blocking — candidates share (nation, segment) OR the name's
    // hundreds prefix — verified by exact levenshtein on the name.
    // score = 2 − edit ≥ 0 ⇔ edit ≤ 2; the second blocking pass finds
    // cross-nation links the first one can't see (digit-tail typo pairs),
    // so the union + distinct candidate plumbing is differentially live.
    "q_er_customer" -> { (s, dir) =>
      import s.implicits._
      val c = Tables.load(s, dir, "customer")
      graft.functions.RecordLink.linkPairs(c, $"c_custkey",
        blocks = Seq(
          concat_ws("|", $"c_nationkey", $"c_mktsegment"),
          substring($"c_name", 10, 7)),
        payload = Seq($"c_name".as("name")),
        score = (a, b) =>
          (lit(2) - levenshtein(a.getField("name"), b.getField("name"))).cast("long"),
        minScore = lit(0L))
    },

    // data-quality validation: five constraint kinds over lineitem in
    // ONE aggregate/scan + a referential-integrity row against a
    // deliberately-holed orders parent. bounds + unique + foreign_key
    // rows carry LIVE violations (quantities run past 25, orders have
    // many lines, the 0-mod-3 parent keys are removed), not_null /
    // in_set / pattern pass — both verdict polarities exercised.
    "q_validate" -> { (s, dir) =>
      import graft.functions.Validate
      val li = Tables.load(s, dir, "lineitem")
      val ords = Tables.load(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
      Validate.report(li, Seq(
          Validate.NotNull("l_returnflag"),
          Validate.Unique("l_orderkey"),
          Validate.UniqueTuple(Seq("l_orderkey", "l_linenumber")),
          Validate.Bounds("l_quantity", 1.0, 25.0),
          Validate.InSet("l_returnflag", Seq("A", "N", "R")),
          Validate.Pattern("l_linestatus", "^[OF]$")))
        .unionByName(Validate.fkReport(li, "l_orderkey", ords, "o_orderkey"))
    },

    // column profile (dataset-card face): one scan, every stat per
    // column — the gate pins the EXACT face (count-distinct via
    // expand, decimal-rendered numeric endpoints); production defaults
    // to the HLL++ distinct, spec-pinned within its error envelope
    "q_profile" -> { (s, dir) =>
      val ords = Tables.load(s, dir, "orders")
      graft.functions.Profile.profile(ords,
        Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        exactDistinct = true)
    },

    // per-source dataset cards: the same one-scan profile keyed by the
    // stratum — every corpus component's completeness/cardinality/
    // range in one aggregate
    "q_profile_by" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      graft.functions.Profile.profileBy(docs, col("source"),
        Seq("doc_id", "n_chars", "lang"), exactDistinct = true)
    },

    // ordered funnel (windowFunnel semantics): first view → strictly
    // later click → strictly later purchase, all within 24h of the
    // first view; per-user step timestamps with drop-off nulls
    // (150 → 60 → 14 at sf0.01 — every step differentially live)
    "q_events_funnel" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), Some(86400000000L))
        .select(col("user").as("user_id"), col("t1"), col("t2"), col("t3"))
    },

    // cohort retention: 6h activity buckets, cohort = first bucket
    "q_events_cohort" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.cohortRetention(ev, "user_id", "ts",
        21600000000L)
    },

    // gap sessionization: 3h inactivity closes a session (~24%
    // continuation rate at sf0.01 — both polarities live on most users)
    "q_events_session" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.sessionize(ev, "user_id", "ts",
        10800000000L)
        .select(col("event_id"), col("user_id"), col("session_idx"))
    },

    // Markov transition matrix: consecutive event-type pairs per user,
    // event_id tie-break (events DO collide on (user, ts) at whole-us
    // resolution only if generated so; the tie-break makes the lag
    // pairing total either way). All 25 type pairs populated at sf0.01.
    "q_events_transitions" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.transitions(ev, "user_id", "ts",
        "event_type", Seq("event_id"))
    },

    // time-series resample onto a 12h grid with LOCF gap fill: the
    // in-bucket "last" is a partial-aggregable max(struct), the fill
    // rides grid rows; cent-unit values keep the face exact. Gap
    // buckets exist at sf0.01 (users go quiet for >12h), so the
    // carried-forward polarity is live
    "q_events_resample" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
      graft.functions.Events.resampleLocf(ev, "user_id", "ts", "vc",
        43200000000L, Seq("event_id"))
    },

    // one-sided CUSUM level-shift flags per user over cent values:
    // ref 5000 / threshold 50000 trips 43/150 users and flags
    // 761/10000 rows at sf0.01 — both polarities live. The recursion
    // ships as its prefix-sum − running-min closed form (two stacked
    // windows, one exchange, exact longs)
    "q_events_cusum" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("vc"))
      graft.functions.Events.cusum(ev, "user_id", "ts", "vc",
        5000L, 50000L, Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("cusum"),
          col("is_shift"))
    },

    // robust z-score anomalies: per-type lower median + MAD in exact
    // cent units, flag |x − med| > 3·MAD (~230 true / ~1780 false per
    // type at sf0.01 — both polarities live). The median/MAD selection
    // rides a value-frequency histogram, never a per-group row sort.
    "q_events_anomaly" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.functions.Events.anomalies(ev, "event_type", "value", 3L, 100L)
        .select(col("event_id"), col("event_type"), col("med"),
          col("mad"), col("is_anomaly"))
    })

  /** Left = clicks, right = purchases pre-aggregated unique per
    * (user, ts) — the operator's determinism contract. */
  private def asofSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.load(s, dir, "events")
    val l = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("r_uid"), col("ts").as("r_ts"))
      .agg(max(col("value")).as("r_value"))
    (l, r)
  }

  private def asofOut(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"),
      unix_millis(col("ts")).as("ts_ms"),
      unix_millis(col("r_ts")).as("r_ts_ms"), col("r_value"))

  val oracle: Map[String, String] = Map(
    "q3_topn" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(6,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q_pipeline_monthly" ->
      """WITH hi AS (SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS hi_n
        |            FROM orders WHERE o_totalprice >= 150000 GROUP BY 1),
        |     lo AS (SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS lo_n
        |            FROM orders WHERE NOT (o_totalprice >= 150000) GROUP BY 1)
        |SELECT epoch_ms(COALESCE(hi.m, lo.m)) AS month_ms,
        |  COALESCE(hi_n, 0) AS hi_n, COALESCE(lo_n, 0) AS lo_n
        |FROM hi FULL OUTER JOIN lo ON hi.m = lo.m""".stripMargin,
    "q_asof_backward" -> (asofPre +
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  epoch_ms(r.r_ts) AS r_ts_ms, r.r_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.r_uid AND l.ts >= r.r_ts""".stripMargin),
    "q_asof_forward" -> (asofPre +
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  epoch_ms(r.r_ts) AS r_ts_ms, r.r_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.r_uid AND l.ts <= r.r_ts""".stripMargin),
    "q_asof_nearest" -> (asofPre +
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  epoch_ms(m.r_ts) AS r_ts_ms, m.r_value
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r_ts, r_value FROM r
        |  WHERE r.r_uid = l.user_id
        |  ORDER BY ABS(epoch_us(r_ts) - epoch_us(l.ts)), r_ts ASC LIMIT 1
        |) m ON TRUE""".stripMargin),
    "q_asof_tolerance" -> (asofPre +
      """SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms,
        |  epoch_ms(m.r_ts) AS r_ts_ms, m.r_value
        |FROM l LEFT JOIN LATERAL (
        |  SELECT r_ts, r_value FROM r
        |  WHERE r.r_uid = l.user_id AND r.r_ts <= l.ts
        |    AND r.r_ts >= l.ts - INTERVAL 1 DAY
        |  ORDER BY r_ts DESC LIMIT 1
        |) m ON TRUE""".stripMargin),
    "q_asof_global" ->
      """WITH l AS (SELECT event_id, epoch_us(ts) AS l_us FROM events
        |           WHERE event_type='click'),
        |     r AS (SELECT epoch_us(ts) AS r_us, MAX(value) AS r_value
        |           FROM events WHERE event_type='purchase' GROUP BY 1)
        |SELECT l.event_id, l.l_us, r.r_us, r.r_value
        |FROM l ASOF LEFT JOIN r ON l.l_us >= r.r_us""".stripMargin,
    "q_range_join" ->
      """WITH c AS (SELECT event_id, ts FROM events WHERE event_type='click'),
        |     p AS (SELECT ts AS p_ts FROM events WHERE event_type='purchase')
        |SELECT c.event_id, COUNT(*) AS n_nearby,
        |  epoch_ms(MIN(p_ts)) AS first_ms, epoch_ms(MAX(p_ts)) AS last_ms
        |FROM c JOIN p
        |  ON p.p_ts BETWEEN c.ts - INTERVAL 6 HOUR AND c.ts + INTERVAL 6 HOUR
        |GROUP BY 1""".stripMargin,
    "q_skew_join" ->
      """WITH dim AS (SELECT DISTINCT user_id, user_id % 97 AS w FROM events)
        |SELECT e.user_id, d.w, COUNT(*) AS n,
        |  CAST(SUM(e.event_id) AS BIGINT) AS sum_eid
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'P'""".stripMargin,
    "q_events_ab" ->
      """WITH u AS (SELECT user_id % 3 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |g AS (SELECT variant, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(conv) AS HUGEINT) AS x
        |  FROM u GROUP BY 1),
        |t AS (SELECT SUM(n) AS nn, SUM(x) AS xx FROM g)
        |SELECT g.variant, CAST(g.n AS BIGINT) AS n,
        |  CAST(g.x AS BIGINT) AS x,
        |  CAST(CASE WHEN t.xx = 0 OR t.nn = t.xx THEN 0
        |    ELSE ((g.x * t.nn - g.n * t.xx) * (g.x * t.nn - g.n * t.xx)
        |      * 1000000) // (g.n * t.xx * (t.nn - t.xx))
        |    END AS BIGINT) AS chi2_micro
        |FROM g CROSS JOIN t""".stripMargin,

    "q_graph_modularity_w" ->
      """WITH o AS MATERIALIZED (SELECT o_orderkey AS k, o_orderkey % 8 AS r,
        |    o_orderkey - o_orderkey % 8 AS base,
        |    2 + (o_orderkey // 8) % 3 AS c
        |  FROM orders),
        |m AS MATERIALIZED (SELECT k, base FROM o WHERE r < c),
        |raw AS MATERIALIZED (
        |  SELECT x.k AS s, y.k AS d FROM m x JOIN m y
        |    ON x.base = y.base AND x.k < y.k
        |  UNION ALL
        |  SELECT k, base + r % c FROM o WHERE r >= 4),
        |e AS MATERIALIZED (
        |  SELECT a, b, CAST(SUM(ew) AS HUGEINT) AS ew FROM (
        |    SELECT LEAST(s, d) AS a, GREATEST(s, d) AS b,
        |      1 + (s + d) % 5 AS ew
        |    FROM raw WHERE s <> d AND 1 + (s + d) % 5 > 0)
        |  GROUP BY 1, 2),
        |tw AS (SELECT SUM(ew) AS tw FROM e),
        |nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
        |asg AS (SELECT k AS id, base AS community FROM o WHERE r < c),
        |comm AS (SELECT n.id, COALESCE(a.community, n.id) AS community
        |  FROM nodes n LEFT JOIN asg a ON a.id = n.id),
        |st AS (SELECT id, SUM(ew) AS st FROM (
        |  SELECT a AS id, ew FROM e UNION ALL SELECT b, ew FROM e)
        |  GROUP BY 1),
        |win AS (SELECT ca.community, SUM(e.ew) AS w_in FROM e
        |  JOIN comm ca ON ca.id = e.a JOIN comm cb ON cb.id = e.b
        |  WHERE ca.community = cb.community GROUP BY 1),
        |stt AS (SELECT c.community, COUNT(*) AS nodes, SUM(s.st) AS s_tot
        |  FROM comm c JOIN st s ON s.id = c.id GROUP BY 1)
        |SELECT stt.community, CAST(stt.nodes AS BIGINT) AS nodes,
        |  CAST(COALESCE(win.w_in, 0) AS BIGINT) AS w_in,
        |  CAST(stt.s_tot AS BIGINT) AS s_tot,
        |  CAST(4 * (SELECT tw FROM tw) * CAST(COALESCE(win.w_in, 0) AS HUGEINT)
        |    - CAST(stt.s_tot AS HUGEINT) * CAST(stt.s_tot AS HUGEINT)
        |    AS BIGINT) AS q_num
        |FROM stt LEFT JOIN win ON win.community = stt.community""".stripMargin,

    "q_graph_assortativity" ->
      """WITH o AS MATERIALIZED (SELECT o_orderkey AS k, o_orderkey % 8 AS r,
        |    o_orderkey - o_orderkey % 8 AS base,
        |    2 + (o_orderkey // 8) % 3 AS c
        |  FROM orders),
        |m AS MATERIALIZED (SELECT k, base FROM o WHERE r < c),
        |raw AS MATERIALIZED (
        |  SELECT x.k AS s, y.k AS d FROM m x JOIN m y
        |    ON x.base = y.base AND x.k < y.k
        |  UNION ALL
        |  SELECT k, base + r % c FROM o WHERE r >= 4),
        |e AS MATERIALIZED (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        |  FROM raw WHERE s <> d),
        |deg AS (SELECT id, CAST(COUNT(*) AS HUGEINT) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |p AS (SELECT da.deg AS da, db.deg AS db FROM e
        |  JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
        |agg AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
        |    SUM(da + db) AS sj, SUM(da * db) AS sjk1,
        |    SUM(da * da + db * db) AS sj2
        |  FROM p)
        |SELECT CAST(m AS BIGINT) AS m,
        |  CAST(2 * m * 2 * sjk1 - sj * sj AS BIGINT) AS num,
        |  CAST(2 * m * sj2 - sj * sj AS BIGINT) AS den
        |FROM agg""".stripMargin,

    "q_graph_walks" -> (walksCorpusSql +
      "\nSELECT start, walk, step, id FROM corpus"),

    "q_graph_walk_pairs" -> (walksCorpusSql +
      """
        |SELECT p.id AS center, q.id AS context,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM corpus p JOIN corpus q
        |  ON p.start = q.start AND p.walk = q.walk
        | AND q.step <> p.step
        | AND q.step BETWEEN p.step - 2 AND p.step + 2
        |GROUP BY 1, 2""".stripMargin),

    "q_graph_walk_negs" -> (walksCorpusSql + s""",
        |pairsn AS MATERIALIZED (
        |  SELECT p.id AS center, q.id AS context
        |  FROM corpus p JOIN corpus q
        |    ON p.start = q.start AND p.walk = q.walk
        |   AND q.step <> p.step
        |   AND q.step BETWEEN p.step - 2 AND p.step + 2
        |  GROUP BY 1, 2),
        |freq AS MATERIALIZED (SELECT id, COUNT(*) AS f FROM corpus
        |  GROUP BY 1),
        |uni AS MATERIALIZED (SELECT id, id % 8 AS bk,
        |    CAST(FLOOR(SQRT(SQRT(CAST(f AS DOUBLE) * f * f)) * 1024)
        |      AS HUGEINT) AS w
        |  FROM freq WHERE f > 0),
        |wnn AS MATERIALIZED (SELECT id, bk, w,
        |    SUM(w) OVER (PARTITION BY bk ORDER BY id
        |      ROWS UNBOUNDED PRECEDING) AS whi
        |  FROM uni),
        |bkt AS MATERIALIZED (SELECT bk, MAX(whi) AS btot FROM wnn
        |  GROUP BY 1),
        |bko AS MATERIALIZED (SELECT bk, btot,
        |    SUM(btot) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING) - btot
        |      AS boff
        |  FROM bkt),
        |tt AS MATERIALIZED (SELECT SUM(btot) AS tot FROM bkt),
        |n0 AS MATERIALIZED (SELECT center, context, j,
        |    ${smix64Sql("xor(91::UBIGINT, CAST(center AS UBIGINT))")} AS h1
        |  FROM pairsn CROSS JOIN (SELECT UNNEST([0, 1]) AS j)),
        |n1 AS MATERIALIZED (SELECT center, context, j,
        |    ${smix64Sql("xor(h1, CAST(context AS UBIGINT))")} AS h2
        |  FROM n0),
        |n2 AS MATERIALIZED (SELECT center, context, j,
        |    ${smix64Sql("xor(h2, CAST(j AS UBIGINT))")} AS ph
        |  FROM n1),
        |dx AS MATERIALIZED (SELECT center, context, j,
        |    CAST((CAST((ph >> 32) AS HUGEINT) * (SELECT tot FROM tt))
        |      // 4294967296 AS HUGEINT) AS x
        |  FROM n2)
        |SELECT d.center, d.context, CAST(d.j AS BIGINT) AS j,
        |  w.id AS neg
        |FROM dx d
        |JOIN bko b ON d.x >= b.boff AND d.x < b.boff + b.btot
        |JOIN wnn w ON w.bk = b.bk
        | AND d.x - b.boff >= w.whi - w.w
        | AND d.x - b.boff < w.whi""".stripMargin),

    "q_graph_walks_n2v" ->
      s"""WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS r FROM orders),
        |raw AS MATERIALIZED (
        |  SELECT k AS s, k + 1 AS d FROM o WHERE r < 7
        |  UNION ALL SELECT k, k - 1 FROM o WHERE r >= 1
        |  UNION ALL SELECT k, k + 2 FROM o WHERE r < 6),
        |e AS MATERIALIZED (SELECT DISTINCT s, d FROM raw),
        |h0 AS MATERIALIZED (SELECT start,
        |    ${smix64Sql("xor(47::UBIGINT, CAST(start AS UBIGINT))")} AS h1
        |  FROM (SELECT DISTINCT s AS start FROM e)),
        |w0 AS MATERIALIZED (SELECT start, w, start AS id,
        |    CAST(NULL AS BIGINT) AS prev,
        |    ${smix64Sql("xor(h1, CAST(w AS UBIGINT))")} AS wh
        |  FROM h0 CROSS JOIN (SELECT UNNEST([0, 1]) AS w)),
        |s1 AS MATERIALIZED (${walkStepN2vSql("w0", 1, 250L, 1000L, 500L)}),
        |s2 AS MATERIALIZED (${walkStepN2vSql("s1", 2, 250L, 1000L, 500L)}),
        |s3 AS MATERIALIZED (${walkStepN2vSql("s2", 3, 250L, 1000L, 500L)})
        |SELECT start, CAST(w AS BIGINT) AS walk, 0::BIGINT AS step, id FROM w0
        |UNION ALL SELECT start, w, 1, id FROM s1
        |UNION ALL SELECT start, w, 2, id FROM s2
        |UNION ALL SELECT start, w, 3, id FROM s3""".stripMargin,

    "q_graph_walks_w" ->
      s"""WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS r FROM orders),
        |raw AS MATERIALIZED (
        |  SELECT k AS s, k + 1 AS d, r + 1 AS ew FROM o WHERE r < 7
        |  UNION ALL SELECT k, k + 2, 2 FROM o WHERE r < 6),
        |we AS MATERIALIZED (SELECT s, d, CAST(SUM(ew) AS HUGEINT) AS ew
        |  FROM raw GROUP BY 1, 2),
        |adj AS MATERIALIZED (SELECT s, d,
        |    CAST(SUM(ew) OVER (PARTITION BY s ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) - ew AS BIGINT) AS lo,
        |    CAST(SUM(ew) OVER (PARTITION BY s ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi,
        |    SUM(ew) OVER (PARTITION BY s) AS tot
        |  FROM we),
        |h0 AS MATERIALIZED (SELECT start,
        |    ${smix64Sql("xor(43::UBIGINT, CAST(start AS UBIGINT))")} AS h1
        |  FROM (SELECT DISTINCT s AS start FROM we)),
        |w0 AS MATERIALIZED (SELECT start, w, start AS id,
        |    ${smix64Sql("xor(h1, CAST(w AS UBIGINT))")} AS wh
        |  FROM h0 CROSS JOIN (SELECT UNNEST([0, 1]) AS w)),
        |s1 AS MATERIALIZED (${walkStepWSql("w0", 1)}),
        |s2 AS MATERIALIZED (${walkStepWSql("s1", 2)}),
        |s3 AS MATERIALIZED (${walkStepWSql("s2", 3)})
        |SELECT start, CAST(w AS BIGINT) AS walk, 0::BIGINT AS step, id FROM w0
        |UNION ALL SELECT start, w, 1, id FROM s1
        |UNION ALL SELECT start, w, 2, id FROM s2
        |UNION ALL SELECT start, w, 3, id FROM s3""".stripMargin,

    "q_graph_betweenness" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS r FROM orders),
        |raw AS MATERIALIZED (
        |  SELECT k AS s, k + 1 AS d FROM o WHERE r < 7
        |  UNION ALL SELECT k, k + 2 FROM o WHERE r < 6),
        |e AS MATERIALIZED (SELECT DISTINCT s AS src, d AS dst FROM raw
        |  WHERE s <> d),
        |l0 AS MATERIALIZED (SELECT k AS s, k AS id, 1::HUGEINT AS sigma
        |  FROM o WHERE r = 0),
        |l1 AS MATERIALIZED (
        |  SELECT l.s, e.dst AS id, CAST(SUM(l.sigma) AS HUGEINT) AS sigma
        |  FROM l0 l JOIN e ON e.src = l.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 v
        |    WHERE v.s = l.s AND v.id = e.dst)
        |  GROUP BY 1, 2),
        |l2 AS MATERIALIZED (
        |  SELECT l.s, e.dst AS id, CAST(SUM(l.sigma) AS HUGEINT) AS sigma
        |  FROM l1 l JOIN e ON e.src = l.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 v
        |      WHERE v.s = l.s AND v.id = e.dst)
        |    AND NOT EXISTS (SELECT 1 FROM l1 v
        |      WHERE v.s = l.s AND v.id = e.dst)
        |  GROUP BY 1, 2),
        |l3 AS MATERIALIZED (
        |  SELECT l.s, e.dst AS id, CAST(SUM(l.sigma) AS HUGEINT) AS sigma
        |  FROM l2 l JOIN e ON e.src = l.id
        |  WHERE NOT EXISTS (SELECT 1 FROM l0 v
        |      WHERE v.s = l.s AND v.id = e.dst)
        |    AND NOT EXISTS (SELECT 1 FROM l1 v
        |      WHERE v.s = l.s AND v.id = e.dst)
        |    AND NOT EXISTS (SELECT 1 FROM l2 v
        |      WHERE v.s = l.s AND v.id = e.dst)
        |  GROUP BY 1, 2),
        |d3 AS MATERIALIZED (SELECT s, id, sigma, 0::HUGEINT AS delta
        |  FROM l3),
        |d2 AS MATERIALIZED (
        |  SELECT l.s, l.id, l.sigma,
        |    COALESCE(SUM((l.sigma * (1000000000000::HUGEINT + w.delta))
        |      // w.sigma), 0::HUGEINT) AS delta
        |  FROM l2 l LEFT JOIN e ON e.src = l.id
        |  LEFT JOIN d3 w ON w.s = l.s AND w.id = e.dst
        |  GROUP BY 1, 2, 3),
        |d1 AS MATERIALIZED (
        |  SELECT l.s, l.id, l.sigma,
        |    COALESCE(SUM((l.sigma * (1000000000000::HUGEINT + w.delta))
        |      // w.sigma), 0::HUGEINT) AS delta
        |  FROM l1 l LEFT JOIN e ON e.src = l.id
        |  LEFT JOIN d2 w ON w.s = l.s AND w.id = e.dst
        |  GROUP BY 1, 2, 3),
        |acc AS (SELECT id, delta FROM d1
        |  UNION ALL SELECT id, delta FROM d2
        |  UNION ALL SELECT id, delta FROM d3),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
        |SELECT n.id, CAST(COALESCE(SUM(a.delta), 0) AS BIGINT) AS btw
        |FROM nodes n LEFT JOIN acc a ON a.id = n.id
        |GROUP BY 1""".stripMargin,

    "q_graph_modularity" ->
      """WITH o AS MATERIALIZED (SELECT o_orderkey AS k, o_orderkey % 8 AS r,
        |    o_orderkey - o_orderkey % 8 AS base,
        |    2 + (o_orderkey // 8) % 3 AS c
        |  FROM orders),
        |m AS MATERIALIZED (SELECT k, base FROM o WHERE r < c),
        |raw AS MATERIALIZED (
        |  SELECT x.k AS s, y.k AS d FROM m x JOIN m y
        |    ON x.base = y.base AND x.k < y.k
        |  UNION ALL
        |  SELECT k, base + r % c FROM o WHERE r >= 4),
        |e AS MATERIALIZED (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
        |  FROM raw WHERE s <> d),
        |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
        |nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
        |asg AS (SELECT k AS id, base AS community FROM o WHERE r < c),
        |comm AS (SELECT n.id, COALESCE(a.community, n.id) AS community
        |  FROM nodes n LEFT JOIN asg a ON a.id = n.id),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |ein AS (SELECT ca.community, COUNT(*) AS e_in FROM e
        |  JOIN comm ca ON ca.id = e.a JOIN comm cb ON cb.id = e.b
        |  WHERE ca.community = cb.community GROUP BY 1),
        |dt AS (SELECT c.community, COUNT(*) AS nodes, SUM(d.deg) AS d_tot
        |  FROM comm c JOIN deg d ON d.id = c.id GROUP BY 1)
        |SELECT dt.community, CAST(dt.nodes AS BIGINT) AS nodes,
        |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
        |  CAST(dt.d_tot AS BIGINT) AS d_tot,
        |  CAST(4 * (SELECT m FROM mm) * CAST(COALESCE(ein.e_in, 0) AS HUGEINT)
        |    - CAST(dt.d_tot AS HUGEINT) * CAST(dt.d_tot AS HUGEINT)
        |    AS BIGINT) AS q_num
        |FROM dt LEFT JOIN ein ON ein.community = dt.community""".stripMargin,

    "q_graph_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |od AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS od FROM edges GROUP BY src),
        |cst AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |               (1000000000000::HUGEINT * 150 // 1000) // CAST(COUNT(*) AS HUGEINT) AS base,
        |               1000000000000::HUGEINT // CAST(COUNT(*) AS HUGEINT) AS r0
        |        FROM nodes),
        |r0 AS (SELECT id, (SELECT r0 FROM cst) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS id, CAST(SUM(CAST(r.rank // o.od AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r0 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.id, (SELECT base FROM cst)
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM nodes n LEFT JOIN c1 c ON c.id = n.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM(CAST(r.rank // o.od AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r1 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.id, (SELECT base FROM cst)
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM nodes n LEFT JOIN c2 c ON c.id = n.id),
        |c3 AS (SELECT e.dst AS id, CAST(SUM(CAST(r.rank // o.od AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r2 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.id, (SELECT base FROM cst)
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM nodes n LEFT JOIN c3 c ON c.id = n.id)
        |SELECT id, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin,

    "q_graph_pagerank_w" ->
      """WITH e0 AS (SELECT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst,
        |              CAST(COUNT(*) AS HUGEINT) AS w
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |            GROUP BY 1, 2),
        |edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |od AS (SELECT src, SUM(w) AS sw FROM edges GROUP BY src),
        |cst AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |               (1000000000000::HUGEINT * 150 // 1000) // CAST(COUNT(*) AS HUGEINT) AS base,
        |               1000000000000::HUGEINT // CAST(COUNT(*) AS HUGEINT) AS r0
        |        FROM nodes),
        |r0 AS (SELECT id, (SELECT r0 FROM cst) AS rank FROM nodes),
        |c1 AS (SELECT e.dst AS id, CAST(SUM(CAST((r.rank * e.w) // o.sw AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r0 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.id, (SELECT base FROM cst)
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM nodes n LEFT JOIN c1 c ON c.id = n.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM(CAST((r.rank * e.w) // o.sw AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r1 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.id, (SELECT base FROM cst)
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM nodes n LEFT JOIN c2 c ON c.id = n.id)
        |SELECT id, CAST(rank AS BIGINT) AS rank FROM r2""".stripMargin,

    "q_graph_trustrank" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |od AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS od FROM edges GROUP BY src),
        |sd AS (SELECT DISTINCT o_custkey AS id FROM orders WHERE o_custkey % 10 = 0),
        |fl AS (SELECT n.id, CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS s
        |       FROM nodes n LEFT JOIN sd s ON n.id = s.id),
        |cst AS (SELECT CAST(SUM(s) AS HUGEINT) AS sn,
        |               (1000000000000::HUGEINT * 150 // 1000) // CAST(SUM(s) AS HUGEINT) AS sbase,
        |               1000000000000::HUGEINT // CAST(SUM(s) AS HUGEINT) AS sr0
        |        FROM fl),
        |r0 AS (SELECT id, CASE WHEN s = 1 THEN (SELECT sr0 FROM cst)
        |                       ELSE 0::HUGEINT END AS rank FROM fl),
        |c1 AS (SELECT e.dst AS id, CAST(SUM(CAST(r.rank // o.od AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r0 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT f.id, CASE WHEN f.s = 1 THEN (SELECT sbase FROM cst) ELSE 0::HUGEINT END
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM fl f LEFT JOIN c1 c ON c.id = f.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM(CAST(r.rank // o.od AS DECIMAL(38,0))) AS HUGEINT) AS agg
        |       FROM edges e JOIN r1 r ON r.id = e.src JOIN od o ON o.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT f.id, CASE WHEN f.s = 1 THEN (SELECT sbase FROM cst) ELSE 0::HUGEINT END
        |         + (850::HUGEINT * COALESCE(c.agg, 0::HUGEINT)) // 1000 AS rank
        |       FROM fl f LEFT JOIN c2 c ON c.id = f.id)
        |SELECT id, CAST(rank AS BIGINT) AS rank FROM r2""".stripMargin,
    "q_graph_hits" ->
      """WITH edges AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |               FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |h0 AS (SELECT id, 1000000000000::HUGEINT AS hub FROM nodes),
        |a1r AS (SELECT e.dst AS id, CAST(SUM(h.hub) AS HUGEINT) AS auth
        |        FROM edges e JOIN h0 h ON h.id = e.src GROUP BY 1),
        |a1 AS (SELECT id, (auth * 1000000000000::HUGEINT)
        |         // (SELECT CAST(SUM(auth) AS HUGEINT) FROM a1r) AS auth FROM a1r),
        |h1r AS (SELECT e.src AS id, CAST(SUM(a.auth) AS HUGEINT) AS hub
        |        FROM edges e JOIN a1 a ON a.id = e.dst GROUP BY 1),
        |h1 AS (SELECT id, (hub * 1000000000000::HUGEINT)
        |         // (SELECT CAST(SUM(hub) AS HUGEINT) FROM h1r) AS hub FROM h1r),
        |a2r AS (SELECT e.dst AS id, CAST(SUM(h.hub) AS HUGEINT) AS auth
        |        FROM edges e JOIN h1 h ON h.id = e.src GROUP BY 1),
        |a2 AS (SELECT id, (auth * 1000000000000::HUGEINT)
        |         // (SELECT CAST(SUM(auth) AS HUGEINT) FROM a2r) AS auth FROM a2r),
        |h2r AS (SELECT e.src AS id, CAST(SUM(a.auth) AS HUGEINT) AS hub
        |        FROM edges e JOIN a2 a ON a.id = e.dst GROUP BY 1),
        |h2 AS (SELECT id, (hub * 1000000000000::HUGEINT)
        |         // (SELECT CAST(SUM(hub) AS HUGEINT) FROM h2r) AS hub FROM h2r)
        |SELECT n.id, CAST(COALESCE(h2.hub, 0) AS BIGINT) AS hub,
        |       CAST(COALESCE(a2.auth, 0) AS BIGINT) AS auth
        |FROM nodes n LEFT JOIN h2 ON h2.id = n.id
        |             LEFT JOIN a2 ON a2.id = n.id""".stripMargin,

    "q_graph_lpa" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |l0 AS (SELECT id, id AS label FROM nodes),
        |b1 AS (SELECT dst AS id, label FROM (
        |        SELECT e.dst, l.label, count(*) AS cnt,
        |               row_number() OVER (PARTITION BY e.dst
        |                 ORDER BY count(*) DESC, l.label ASC) AS rn
        |        FROM edges e JOIN l0 l ON l.id = e.src
        |        GROUP BY e.dst, l.label) WHERE rn = 1),
        |l1 AS (SELECT n.id, COALESCE(b.label, n.id) AS label
        |       FROM nodes n LEFT JOIN b1 b ON b.id = n.id),
        |b2 AS (SELECT dst AS id, label FROM (
        |        SELECT e.dst, l.label, count(*) AS cnt,
        |               row_number() OVER (PARTITION BY e.dst
        |                 ORDER BY count(*) DESC, l.label ASC) AS rn
        |        FROM edges e JOIN l1 l ON l.id = e.src
        |        GROUP BY e.dst, l.label) WHERE rn = 1)
        |SELECT l1.id, COALESCE(b.label, l1.label) AS label
        |FROM l1 LEFT JOIN b2 b ON b.id = l1.id""".stripMargin,

    "q_graph_bfs" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS src,
        |    l.l_suppkey + 1000000 AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |d0 AS (SELECT DISTINCT c_custkey AS id FROM customer
        |  WHERE c_custkey % 10 = 0),
        |r1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id
        |  WHERE e.dst NOT IN (SELECT id FROM d0)),
        |r2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN r1 ON e.src = r1.id
        |  WHERE e.dst NOT IN (SELECT id FROM d0)
        |    AND e.dst NOT IN (SELECT id FROM r1))
        |SELECT id, CAST(0 AS BIGINT) AS dist FROM d0
        |UNION ALL SELECT id, CAST(1 AS BIGINT) FROM r1
        |UNION ALL SELECT id, CAST(2 AS BIGINT) FROM r2""".stripMargin,

    "q_graph_degrees" ->
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |o AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e0 GROUP BY 1),
        |i AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS in_deg FROM e0 GROUP BY 1)
        |SELECT COALESCE(o.id, i.id) AS id,
        |  COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg
        |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin,
    "q_graph_triangles" ->
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |nodes AS (SELECT s1 AS id FROM pe UNION SELECT s2 FROM pe),
        |tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        |  FROM pe e1 JOIN pe e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
        |  JOIN pe e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2),
        |pern AS (SELECT id, COUNT(*) AS t FROM (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT n.id, CAST(COALESCE(p.t, 0) AS BIGINT) AS triangles
        |FROM nodes n LEFT JOIN pern p ON p.id = n.id""".stripMargin,

    "q_graph_clustering" ->
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |nodes AS (SELECT s1 AS id FROM pe UNION SELECT s2 FROM pe),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT s1 AS id FROM pe UNION ALL SELECT s2 FROM pe) GROUP BY 1),
        |tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        |  FROM pe e1 JOIN pe e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
        |  JOIN pe e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2),
        |pern AS (SELECT id, COUNT(*) AS t FROM (
        |  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1)
        |SELECT n.id, d.deg, CAST(COALESCE(p.t, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.deg < 2 THEN 0 ELSE
        |    (1000000::HUGEINT * 2 * COALESCE(p.t, 0))
        |      // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) END AS BIGINT) AS cc
        |FROM nodes n JOIN deg d ON d.id = n.id
        |LEFT JOIN pern p ON p.id = n.id""".stripMargin,

    "q_events_rfm" ->
      """WITH per AS (SELECT user_id, MAX(epoch_us(ts)) AS r_us,
        |    COUNT(*) AS f, SUM(CAST(value AS DECIMAL(18,2))) AS m
        |  FROM events GROUP BY 1),
        |b AS (SELECT
        |    quantile_cont(CAST(r_us AS DOUBLE), 0.25) AS rb1,
        |    quantile_cont(CAST(r_us AS DOUBLE), 0.50) AS rb2,
        |    quantile_cont(CAST(r_us AS DOUBLE), 0.75) AS rb3,
        |    quantile_cont(CAST(f AS DOUBLE), 0.25) AS fb1,
        |    quantile_cont(CAST(f AS DOUBLE), 0.50) AS fb2,
        |    quantile_cont(CAST(f AS DOUBLE), 0.75) AS fb3,
        |    quantile_cont(CAST(m AS DOUBLE), 0.25) AS mb1,
        |    quantile_cont(CAST(m AS DOUBLE), 0.50) AS mb2,
        |    quantile_cont(CAST(m AS DOUBLE), 0.75) AS mb3
        |  FROM per),
        |coded AS (SELECT user_id, r_us, f, m,
        |    CAST((CASE WHEN CAST(r_us AS DOUBLE) > rb1 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(r_us AS DOUBLE) > rb2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(r_us AS DOUBLE) > rb3 THEN 1 ELSE 0 END) AS BIGINT) AS r_b,
        |    CAST((CASE WHEN CAST(f AS DOUBLE) > fb1 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(f AS DOUBLE) > fb2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(f AS DOUBLE) > fb3 THEN 1 ELSE 0 END) AS BIGINT) AS f_b,
        |    CAST((CASE WHEN CAST(m AS DOUBLE) > mb1 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(m AS DOUBLE) > mb2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN CAST(m AS DOUBLE) > mb3 THEN 1 ELSE 0 END) AS BIGINT) AS m_b
        |  FROM per, b)
        |SELECT user_id, r_us, f, CAST(CAST(m AS VARCHAR) AS DOUBLE) AS m,
        |  r_b, f_b, m_b, r_b * 100 + f_b * 10 + m_b AS rfm
        |FROM coded""".stripMargin,

    "q_graph_kcore" ->
      """WITH e0 AS (SELECT o_orderkey AS a, o_orderkey // 2 AS b
        |  FROM orders WHERE o_orderkey >= 1),
        |d1 AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |k1 AS (SELECT id FROM d1 WHERE deg >= 2),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT id FROM k1) AND b IN (SELECT id FROM k1)),
        |d2 AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |k2 AS (SELECT id FROM d2 WHERE deg >= 2),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT id FROM k2) AND b IN (SELECT id FROM k2)),
        |d3 AS (SELECT id, COUNT(*) AS deg FROM (
        |  SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
        |k3 AS (SELECT id FROM d3 WHERE deg >= 2),
        |e3 AS (SELECT a, b FROM e2
        |  WHERE a IN (SELECT id FROM k3) AND b IN (SELECT id FROM k3))
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1""".stripMargin,

    // exact per-k unroll of the incremental synchronous peel: three
    // threshold-2 rounds from the raw canonical edge set, then three
    // threshold-3 rounds FROM THE 2-CORE SURVIVORS; coreness = max
    // layer membership (extra rounds past a fixpoint are no-ops, so
    // the unroll equals the operator's early-exited loop)
    "q_graph_coreness" -> corenessOracleSql,

    // auto-degeneracy mode must reproduce the capped run bit-for-bit
    // on this fixture (degeneracy 3 < the k=4 empty-out), so the
    // SAME oracle pins it — any phantom k≥4 layer or missed early
    // exit breaks the hash
    "q_graph_coreness_auto" -> corenessOracleSql,

    "q_graph_ktruss" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS r,
        |    o_orderkey - o_orderkey % 8 AS base,
        |    (o_orderkey // 8) % 2 AS par,
        |    2 + (o_orderkey // 16) % 3 AS c
        |  FROM orders),
        |raw AS MATERIALIZED (
        |  SELECT k AS s, k + 1 AS d FROM o WHERE par = 0 AND r < 7
        |  UNION ALL SELECT k, k + 2 FROM o WHERE par = 0 AND r < 6
        |  UNION ALL
        |  SELECT x.k, y.k FROM o x JOIN o y
        |    ON x.base = y.base AND x.k < y.k
        |   AND x.par = 1 AND y.par = 1 AND x.r < x.c AND y.r < y.c
        |  UNION ALL
        |  SELECT k, base + r % c FROM o WHERE par = 1 AND r >= 4),
        |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(s, d) AS a,
        |  GREATEST(s, d) AS b FROM raw WHERE s <> d),
        |u0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |s0 AS MATERIALIZED (SELECT e.a, e.b,
        |  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS s FROM e0 e
        |  LEFT JOIN (SELECT e.a, e.b, COUNT(*) AS cnt FROM e0 e
        |    JOIN u0 n1 ON n1.u = e.a JOIN u0 n2 ON n2.u = e.b
        |     AND n2.v = n1.v GROUP BY 1, 2) t ON t.a = e.a AND t.b = e.b),
        |e1 AS MATERIALIZED (SELECT a, b FROM s0 WHERE s >= 2),
        |u1 AS MATERIALIZED (SELECT a AS u, b AS v FROM e1
        |  UNION ALL SELECT b, a FROM e1),
        |s1 AS MATERIALIZED (SELECT e.a, e.b,
        |  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS s FROM e1 e
        |  LEFT JOIN (SELECT e.a, e.b, COUNT(*) AS cnt FROM e1 e
        |    JOIN u1 n1 ON n1.u = e.a JOIN u1 n2 ON n2.u = e.b
        |     AND n2.v = n1.v GROUP BY 1, 2) t ON t.a = e.a AND t.b = e.b),
        |e2 AS MATERIALIZED (SELECT a, b FROM s1 WHERE s >= 2),
        |u2 AS MATERIALIZED (SELECT a AS u, b AS v FROM e2
        |  UNION ALL SELECT b, a FROM e2),
        |s2 AS MATERIALIZED (SELECT e.a, e.b,
        |  CAST(COALESCE(t.cnt, 0) AS BIGINT) AS s FROM e2 e
        |  LEFT JOIN (SELECT e.a, e.b, COUNT(*) AS cnt FROM e2 e
        |    JOIN u2 n1 ON n1.u = e.a JOIN u2 n2 ON n2.u = e.b
        |     AND n2.v = n1.v GROUP BY 1, 2) t ON t.a = e.a AND t.b = e.b),
        |e3 AS MATERIALIZED (SELECT a, b FROM s2 WHERE s >= 2),
        |u3 AS MATERIALIZED (SELECT a AS u, b AS v FROM e3
        |  UNION ALL SELECT b, a FROM e3)
        |SELECT e.a, e.b, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS support
        |FROM e3 e
        |LEFT JOIN (SELECT e.a, e.b, COUNT(*) AS cnt FROM e3 e
        |  JOIN u3 n1 ON n1.u = e.a JOIN u3 n2 ON n2.u = e.b
        |   AND n2.v = n1.v GROUP BY 1, 2) t ON t.a = e.a AND t.b = e.b""".stripMargin,

    "q_graph_scc" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT o_orderkey AS k, o_orderkey % 8 AS r,
        |    o_orderkey - o_orderkey % 8 AS base,
        |    2 + (o_orderkey // 8) % 3 AS c
        |  FROM orders),
        |ed AS MATERIALIZED (SELECT DISTINCT s, d FROM (
        |  SELECT k AS s, base + (r + 1) % c AS d FROM o WHERE r < c
        |  UNION ALL
        |  SELECT k, base FROM o WHERE r >= 4
        |  UNION ALL
        |  SELECT k, k + 8 FROM o
        |  WHERE r = 0 AND (k // 8) % 16 <> 15)),
        |nodes AS MATERIALIZED (SELECT DISTINCT id FROM (
        |  SELECT s AS id FROM ed UNION ALL SELECT d FROM ed)),
        |reach(a, b) AS (
        |  SELECT s, d FROM ed
        |  UNION
        |  SELECT reach.a, ed.d FROM reach JOIN ed ON ed.s = reach.b)
        |SELECT id, CAST(MIN(u) AS BIGINT) AS rep FROM (
        |  SELECT id, id AS u FROM nodes
        |  UNION ALL
        |  SELECT r1.a AS id, r1.b AS u FROM reach r1
        |  JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a)
        |GROUP BY 1""".stripMargin,

    "q_graph_cc" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT o_orderkey AS a, o_orderkey // 2 AS b FROM orders
        |  WHERE o_orderkey >= 2 AND (o_orderkey // 2) % 2 = 1),
        |edges AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id)
        |SELECT id, MIN(r) AS rep FROM reach GROUP BY id""".stripMargin,

    "q_events_attrib" ->
      """WITH conv AS (SELECT DISTINCT user_id AS u, epoch_us(ts) AS cus
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id AS tid,
        |    event_type AS ch
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |p AS (SELECT c.u, c.cus, t.us, t.tid, t.ch FROM tch t JOIN conv c
        |  ON t.u = c.u AND t.us < c.cus AND t.us >= c.cus - 86400000000),
        |g1 AS (SELECT u, cus, COUNT(*) AS n, MIN(us) AS mn, MAX(us) AS mx
        |  FROM p GROUP BY 1, 2),
        |g2 AS (SELECT p.u, p.cus,
        |    MIN(CASE WHEN p.us = g1.mn THEN p.tid END) AS fid,
        |    MAX(CASE WHEN p.us = g1.mx THEN p.tid END) AS lid
        |  FROM p JOIN g1 USING (u, cus) GROUP BY 1, 2),
        |d AS (SELECT p.ch, g1.n, p.tid, g2.fid, g2.lid
        |  FROM p JOIN g1 USING (u, cus) JOIN g2 USING (u, cus)),
        |c AS (
        |  SELECT 'first' AS model, ch,
        |    CASE WHEN tid = fid THEN 1000000 ELSE 0 END AS credit FROM d
        |  UNION ALL SELECT 'last', ch,
        |    CASE WHEN tid = lid THEN 1000000 ELSE 0 END FROM d
        |  UNION ALL SELECT 'linear', ch, 1000000 // n FROM d
        |  UNION ALL SELECT 'position', ch, CASE
        |    WHEN n = 1 THEN 1000000
        |    WHEN n = 2 AND tid = fid THEN 500000
        |    WHEN n = 2 THEN 500000
        |    WHEN tid = fid THEN 400000
        |    WHEN tid = lid THEN 400000
        |    ELSE 200000 // (n - 2) END FROM d)
        |SELECT model, ch AS channel, CAST(SUM(credit) AS BIGINT) AS credit_mu,
        |  CAST(COUNT(*) AS BIGINT) AS touches
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q_graph_sssp" ->
      """WITH RECURSIVE e AS (
        |  SELECT o_orderkey AS src, o_orderkey + 1 AS dst,
        |    o_orderkey % 5 + 1 AS w
        |  FROM orders WHERE o_orderkey % 16 < 15
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey + 3, o_orderkey % 7 + 2
        |  FROM orders WHERE o_orderkey % 16 < 13),
        |seeds AS (SELECT DISTINCT o_orderkey AS id FROM orders
        |  WHERE o_orderkey % 16 = 0),
        |reach(id, d) AS (
        |  SELECT id, CAST(0 AS BIGINT) AS d FROM seeds
        |  UNION
        |  SELECT e.dst, reach.d + e.w FROM reach JOIN e ON e.src = reach.id)
        |SELECT id, MIN(d) AS dist FROM reach GROUP BY id""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag, lo, hi,
        |  LEAST(GREATEST(l_extendedprice, lo), hi) AS w
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag""".stripMargin,

    "q_bucketize" ->
      """WITH b AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.25) AS b1,
        |    quantile_cont(l_extendedprice, 0.50) AS b2,
        |    quantile_cont(l_extendedprice, 0.75) AS b3
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        |  CAST((CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END)
        |     + (CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS bucket
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag""".stripMargin,

    "q_corr" ->
      """WITH m AS (SELECT
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_q,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_e,
        |    SUM(CAST(l_discount AS DECIMAL(18,2))) AS s_d,
        |    SUM(CAST(l_tax AS DECIMAL(18,2))) AS s_t,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS ss_q,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS ss_e,
        |    SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS ss_d,
        |    SUM(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS ss_t,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sp_qe,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sp_qd,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS sp_qt,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sp_ed,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS sp_et,
        |    SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS sp_dt,
        |    CAST(COUNT(*) AS DECIMAL(20,0)) AS n
        |  FROM lineitem),
        |p AS (
        |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |    n, n*sp_qe - s_q*s_e AS cov, n*ss_q - s_q*s_q AS va, n*ss_e - s_e*s_e AS vb FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    n, n*sp_qd - s_q*s_d, n*ss_q - s_q*s_q, n*ss_d - s_d*s_d FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    n, n*sp_qt - s_q*s_t, n*ss_q - s_q*s_q, n*ss_t - s_t*s_t FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    n, n*sp_ed - s_e*s_d, n*ss_e - s_e*s_e, n*ss_d - s_d*s_d FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    n, n*sp_et - s_e*s_t, n*ss_e - s_e*s_e, n*ss_t - s_t*s_t FROM m
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    n, n*sp_dt - s_d*s_t, n*ss_d - s_d*s_d, n*ss_t - s_t*s_t FROM m)
        |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
        |  CASE WHEN va > 0 AND vb > 0 THEN
        |    CAST(cov AS DOUBLE) / sqrt(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE))
        |  ELSE NULL END AS corr
        |FROM p""".stripMargin,

    "q_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  quantile_cont(l_quantity, 0.95) AS q95,
        |  COUNT(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS rev,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS rev,
        |  GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS run_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_zorder" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(generate_series(0, 9), i ->
        |    (((bu >> i) & 1) << (2*i)) + (((bt >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS z
        |FROM (
        |  SELECT event_id,
        |    LEAST(GREATEST(user_id, 0), 1999) * 1024 // 2000 AS bu,
        |    (LEAST(GREATEST(epoch_us(ts), 1704067200000000), 1706745599999999)
        |      - 1704067200000000) * 1024 // 2678400000000 AS bt
        |  FROM events)""".stripMargin,
    "q_window_range" ->
      """SELECT o_orderkey, o_custkey,
        |  COUNT(*) OVER w AS n_30d,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS VARCHAR) AS DOUBLE)
        |    AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_er_customer" ->
      """WITH cand AS (
        |  SELECT a.c_custkey AS i, b.c_custkey AS j,
        |         a.c_name AS an, b.c_name AS bn
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_mktsegment = b.c_mktsegment
        |   AND a.c_custkey < b.c_custkey
        |  UNION
        |  SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        |  FROM customer a JOIN customer b
        |    ON substring(a.c_name, 10, 7) = substring(b.c_name, 10, 7)
        |   AND a.c_custkey < b.c_custkey)
        |SELECT i, j, CAST(2 - levenshtein(an, bn) AS BIGINT) AS score
        |FROM cand WHERE 2 - levenshtein(an, bn) >= 0""".stripMargin,
    "q_validate" ->
      """WITH t AS (SELECT
        |    COUNT(*) AS total,
        |    COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END) AS v_nn,
        |    COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) AS v_u,
        |    COUNT(CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |          THEN 1 END)
        |      - COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
        |            AND l_linenumber IS NOT NULL
        |          THEN struct_pack(a := l_orderkey, b := l_linenumber) END) AS v_ut,
        |    COUNT(CASE WHEN l_quantity < 1.0 OR l_quantity > 25.0 THEN 1 END) AS v_b,
        |    COUNT(CASE WHEN l_returnflag IS NOT NULL
        |               AND l_returnflag NOT IN ('A','N','R') THEN 1 END) AS v_s,
        |    COUNT(CASE WHEN l_linestatus IS NOT NULL
        |               AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 END) AS v_p
        |  FROM lineitem),
        |fk AS (SELECT COUNT(*) AS total,
        |    COUNT(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
        |          THEN 1 END) AS v
        |  FROM lineitem l LEFT JOIN (
        |    SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT 'not_null' AS kind, 'l_returnflag' AS col_name,
        |  v_nn AS violations, total, v_nn = 0 AS passed FROM t
        |UNION ALL SELECT 'unique', 'l_orderkey', v_u, total, v_u = 0 FROM t
        |UNION ALL SELECT 'unique_tuple', 'l_orderkey,l_linenumber', v_ut, total, v_ut = 0 FROM t
        |UNION ALL SELECT 'bounds', 'l_quantity', v_b, total, v_b = 0 FROM t
        |UNION ALL SELECT 'in_set', 'l_returnflag', v_s, total, v_s = 0 FROM t
        |UNION ALL SELECT 'pattern', 'l_linestatus', v_p, total, v_p = 0 FROM t
        |UNION ALL SELECT 'foreign_key', 'l_orderkey', v, total, v = 0 FROM fk""".stripMargin,
    "q_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS col_name, 'bigint' AS dtype, COUNT(*) AS n,
           |  COUNT(CASE WHEN $c IS NULL THEN 1 END) AS nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(CAST(MIN(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS min_v,
           |  CAST(CAST(MAX(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS max_v,
           |  CAST(CAST(SUM(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_v
           |FROM orders""".stripMargin
      s"""${num("o_orderkey")}
         |UNION ALL
         |${num("o_custkey")}
         |UNION ALL
         |${num("o_totalprice").replace("'bigint'", "'double'")}
         |UNION ALL
         |SELECT 'o_orderstatus', 'string', COUNT(*),
         |  COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
         |  COUNT(DISTINCT o_orderstatus),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         |FROM orders""".stripMargin
    },
    "q_profile_by" -> {
      def num(c: String) =
        s"""SELECT source AS stratum, '$c' AS col_name, 'bigint' AS dtype,
           |  COUNT(*) AS n,
           |  COUNT(CASE WHEN $c IS NULL THEN 1 END) AS nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(CAST(MIN(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS min_v,
           |  CAST(CAST(MAX(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS max_v,
           |  CAST(CAST(SUM(CAST($c AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_v
           |FROM documents GROUP BY source""".stripMargin
      s"""${num("doc_id")}
         |UNION ALL
         |${num("n_chars")}
         |UNION ALL
         |SELECT source, 'lang', 'string', COUNT(*),
         |  COUNT(CASE WHEN lang IS NULL THEN 1 END),
         |  COUNT(DISTINCT lang),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         |FROM documents GROUP BY source""".stripMargin
    },

    "q_events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |            WHERE event_type='view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type='click' AND epoch_us(e.ts) > s1.t1
        |         AND epoch_us(e.ts) <= s1.t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |                     JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type='purchase' AND epoch_us(e.ts) > s2.t2
        |         AND epoch_us(e.ts) <= s1.t1 + 86400000000 GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin,

    "q_events_cohort" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |                    epoch_us(ts) // 21600000000 AS bucket FROM events),
        |coh AS (SELECT user_id, min(bucket) AS cohort FROM act GROUP BY 1)
        |SELECT c.cohort, a.bucket - c.cohort AS offset,
        |       count(*) AS active_users
        |FROM act a JOIN coh c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_events_session" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 10800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_idx
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
        |        epoch_us(ts) - lag(epoch_us(ts))
        |          OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS gap
        |      FROM events)""".stripMargin,

    "q_events_cusum" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |p AS (SELECT event_id, user_id, us,
        |    CAST(sum(vc - 5000) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
        |  FROM e)
        |SELECT event_id, user_id,
        |  pp - LEAST(min(pp) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum,
        |  (pp - LEAST(min(pp) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) > 50000
        |    AS is_shift
        |FROM p""".stripMargin,

    "q_events_transitions" ->
      """SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type AS to_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts), event_id) AS from_type
        |      FROM events)
        |WHERE from_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q_events_resample" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT user_id, us // 43200000000 AS bucket, vc,
        |    row_number() OVER (PARTITION BY user_id, us // 43200000000
        |      ORDER BY us DESC, event_id DESC, vc DESC) AS rn FROM e),
        |lastv AS (SELECT user_id, bucket, vc FROM b WHERE rn = 1),
        |bounds AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
        |  FROM lastv GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS bucket
        |  FROM bounds)
        |SELECT g.user_id, g.bucket, g.bucket * 43200000000 AS bucket_us,
        |  l.vc AS vc
        |FROM grid g ASOF LEFT JOIN lastv l
        |  ON g.user_id = l.user_id AND g.bucket >= l.bucket""".stripMargin,

    "q_events_anomaly" ->
      """WITH hist AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS u, count(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |msel AS (SELECT g, u,
        |    sum(c) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM hist),
        |med AS (SELECT g, min(u) AS med FROM msel WHERE cum*2 >= n GROUP BY 1),
        |dev AS (SELECT h.g, abs(h.u - m.med) AS u, sum(h.c) AS c
        |  FROM hist h JOIN med m ON h.g = m.g GROUP BY 1, 2),
        |dsel AS (SELECT g, u,
        |    sum(c) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n FROM dev),
        |mad AS (SELECT g, min(u) AS mad FROM dsel WHERE cum*2 >= n GROUP BY 1)
        |SELECT e.event_id, e.event_type, m.med, d.mad,
        |  COALESCE(abs(CAST(round(e.value * 100) AS BIGINT) - m.med)
        |    > 3 * d.mad, FALSE) AS is_anomaly
        |FROM events e
        |LEFT JOIN med m ON e.event_type = m.g
        |LEFT JOIN mad d ON e.event_type = d.g""".stripMargin)

  private def asofPre: String =
    """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type='click'),
      |     r AS (SELECT user_id AS r_uid, ts AS r_ts, MAX(value) AS r_value
      |           FROM events WHERE event_type='purchase' GROUP BY 1,2)
      |""".stripMargin
}
