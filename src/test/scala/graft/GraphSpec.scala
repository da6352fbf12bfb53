package graft

import org.apache.spark.sql.functions._
import graft.functions.Graph

/** PageRank / degree report: hand-computed micro-unit fixed points,
  * dangling-leak semantics, duplicate-edge collapse, and the
  * partition-invariance the exact-integer formulation exists for.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, BigDecimal] =
    df.collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap

  test("pageRank matches the hand-unrolled integer power iteration") {
    // 1→2, 1→3, 2→3, 3→1; N=3, unit=1e12, d=850/1000:
    // r0 = 333333333333, base = 50000000000
    // iter1: r=(333333333333, 191666666666, 474999999999)
    // iter2: r=(453749999999, 191666666666, 354583333332)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(ranks(Graph.pageRank(e, 0)) ===
      Map(1L -> BigDecimal(333333333333L), 2L -> BigDecimal(333333333333L),
        3L -> BigDecimal(333333333333L)))
    assert(ranks(Graph.pageRank(e, 2)) ===
      Map(1L -> BigDecimal(453749999999L), 2L -> BigDecimal(191666666666L),
        3L -> BigDecimal(354583333332L)))
  }

  test("pageRank: dangling nodes leak mass, duplicate edges collapse") {
    // 1→2 (duplicated): N=2, r0=5e11, base=75e9; node 2 dangles.
    // iter1: r(1)=base=75000000000, r(2)=75e9+850*5e11//1000=500000000000
    // Σ = 575e9 < 1e12 — the documented dangling leak
    val e = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("src", "dst")
    val r = ranks(Graph.pageRank(e, 1))
    assert(r === Map(1L -> BigDecimal(75000000000L), 2L -> BigDecimal(500000000000L)))
    assert(r.values.sum < BigDecimal(1000000000000L))
  }

  test("pageRank is partition-invariant (the point of integer arithmetic)") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val a = ranks(Graph.pageRank(e, iterations = 4))
    val b = ranks(Graph.pageRank(e.repartition(7), iterations = 4))
    assert(a === b)
    // and per-mille endpoints: d=0 → every node sits at base = unit/N
    val flat = ranks(Graph.pageRank(e, 3, dampingPermille = 0))
    assert(flat.values.toSet === Set(BigDecimal(333333333333L)))
  }

  test("pageRankWeighted: hand-unrolled weight-proportional split") {
    // 1→2 w1, 1→3 w3 (Σw=4), 2→1 w1, 3→1 w1; N=3, unit 1e12, d=850
    // r0 = 333333333333, base = 50000000000
    // contribs: 1→2 ⌊r0/4⌋=83333333333, 1→3 ⌊3r0/4⌋=249999999999,
    //           2→1 and 3→1 both r0
    // r(1)=5e10+⌊850·666666666666/1000⌋=616666666666
    // r(2)=5e10+⌊850·83333333333/1000⌋=120833333333
    // r(3)=5e10+⌊850·249999999999/1000⌋=262499999999
    val e = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    assert(ranks(Graph.pageRankWeighted(e, 1)) ===
      Map(1L -> BigDecimal(616666666666L), 2L -> BigDecimal(120833333333L),
        3L -> BigDecimal(262499999999L)))
  }

  test("pageRankWeighted: constant weights reduce bit-identically to uniform") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val ew = e.select(col("src"), col("dst"), lit(7L).as("w"))
    assert(ranks(Graph.pageRankWeighted(ew, 4)) === ranks(Graph.pageRank(e, 4)))
  }

  test("pageRankWeighted: parallel edges sum; non-positive weights drop") {
    // (1→2 w1)+(1→2 w1) must equal a single 1→2 w2 against 1→3 w2
    val dup = Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 2L))
      .toDF("src", "dst", "w")
    val merged = Seq((1L, 2L, 2L), (1L, 3L, 2L)).toDF("src", "dst", "w")
    assert(ranks(Graph.pageRankWeighted(dup, 2)) ===
      ranks(Graph.pageRankWeighted(merged, 2)))
    // zero/negative edges vanish entirely — node 9 never materializes
    val bad = Seq((1L, 2L, 1L), (1L, 9L, 0L), (1L, 9L, -5L))
      .toDF("src", "dst", "w")
    assert(!ranks(Graph.pageRankWeighted(bad, 1)).contains(9L))
  }

  test("trustRank: teleport mass lands only on seeds, unreachable nodes score 0") {
    // chain 1→2→3 plus a seedless component 4→5; seeds = {1} (+99,
    // not a graph node — must be ignored, not hold teleport mass)
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("id")
    // |S|=1: r0=(1e12,0,0), base=(1.5e11,0,0)
    // iter1: r=(150000000000, 850000000000, 0)
    // iter2: r=(150000000000, 127500000000, 722500000000)
    val r = Graph.trustRank(e, seeds, iterations = 2).collect()
      .map(x => x.getLong(0) -> BigDecimal(x.getDecimal(1))).toMap
    assert(r === Map(
      1L -> BigDecimal(150000000000L), 2L -> BigDecimal(127500000000L),
      3L -> BigDecimal(722500000000L), 4L -> BigDecimal(0L),
      5L -> BigDecimal(0L)))
    // empty effective seed set → all-zero ranks, no division error
    val z = Graph.trustRank(e, Seq(42L).toDF("id"), 2).collect()
      .map(x => BigDecimal(x.getDecimal(1))).toSet
    assert(z === Set(BigDecimal(0)))
  }

  test("hits matches the hand-unrolled sum-normalized iteration") {
    // 1→3, 2→3, 3→4 at unit=1000:
    // a_raw = (3: 2000, 4: 1000), total 3000 → a = (3: 666, 4: 333)
    // h_raw = (1: 666, 2: 666, 3: 333), total 1665
    //   → h = (1: 400, 2: 400, 3: 200)   (666000/1665 = 400 exactly)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.hits(e, 1, unit = 1000L).collect()
      .map(x => x.getLong(0) ->
        ((BigDecimal(x.getDecimal(1)), BigDecimal(x.getDecimal(2))))).toMap
    assert(r === Map(
      1L -> ((BigDecimal(400), BigDecimal(0))),
      2L -> ((BigDecimal(400), BigDecimal(0))),
      3L -> ((BigDecimal(200), BigDecimal(666))),
      4L -> ((BigDecimal(0), BigDecimal(333)))))
    // iterations = 0: the uniform initial hub vector, zero authority
    val z = Graph.hits(e, 0, unit = 1000L).collect()
      .map(x => (BigDecimal(x.getDecimal(1)), BigDecimal(x.getDecimal(2)))).toSet
    assert(z === Set((BigDecimal(1000), BigDecimal(0))))
    // duplicate edges collapse: doubling 1→3 changes nothing
    val dup = Seq((1L, 3L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r2 = Graph.hits(dup, 1, unit = 1000L).collect()
      .map(x => x.getLong(0) ->
        ((BigDecimal(x.getDecimal(1)), BigDecimal(x.getDecimal(2))))).toMap
    assert(r2 === r)
  }

  test("hits: folded totals normalize exactly, an all-zero total included") {
    // exact reference in plain Scala: sum-normalize to unit by floor, an
    // all-zero total yields zeros; nodes without a score row read 0
    def ref(edges: Seq[(Long, Long)], iters: Int,
        unit: Long): Map[Long, (BigDecimal, BigDecimal)] = {
      val e = edges.distinct
      val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
      def norm(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
        val tot = raw.values.sum
        raw.map { case (k, v) => k -> (if (tot == 0) BigInt(0) else v * unit / tot) }
      }
      var h = nodes.map(_ -> BigInt(unit)).toMap
      var a = Map.empty[Long, BigInt]
      for (_ <- 0 until iters) {
        a = norm(e.filter(x => h.contains(x._1))
          .groupMapReduce(_._2)(x => h(x._1))(_ + _))
        h = norm(e.filter(x => a.contains(x._2))
          .groupMapReduce(_._1)(x => a(x._2))(_ + _))
      }
      nodes.map(v => v -> ((BigDecimal(h.getOrElse(v, BigInt(0))),
        BigDecimal(a.getOrElse(v, BigInt(0)))))).toMap
    }
    def hitsOf(edges: Seq[(Long, Long)], iters: Int, unit: Long) =
      Graph.hits(edges.toDF("src", "dst"), iters, unit).collect()
        .map(x => x.getLong(0) ->
          ((BigDecimal(x.getDecimal(1)), BigDecimal(x.getDecimal(2))))).toMap
    val rnd = new scala.util.Random(11)
    val g = Seq.fill(40)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    assert(hitsOf(g, 3, 1000000000000L) === ref(g, 3, 1000000000000L))
    // unit = 1 floors both authorities of 1→3, 2→3, 3→4 to 0, so the
    // hub round's total is zero: every score comes out 0
    val small = Seq((1L, 3L), (2L, 3L), (3L, 4L))
    val z = hitsOf(small, 2, 1L)
    assert(z === ref(small, 2, 1L))
    assert(z.values.toSet === Set((BigDecimal(0), BigDecimal(0))))
  }

  test("labelPropagation: majority adoption, min-label ties, keep-own, direction") {
    // 1→3, 2→3, 4→3: node 3's in-labels {1,2,4} all count 1 → tie
    // breaks to MIN label 1; nodes 1,2,4 have no in-edges → keep own
    val e = Seq((1L, 3L), (2L, 3L), (4L, 3L)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(e, 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1 === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L))
    // majority beats min: {5,5,2} in-labels → 5 wins despite 2 < 5
    val e2 = Seq((5L, 9L), (6L, 9L), (2L, 9L), (5L, 6L))
      .toDF("src", "dst")
    // round 1: 6 adopts 5; 9 sees {5,6,2} → tie → 2
    // round 2: 9 sees labels of (5,6,2) = {5,5,2} → 5 by majority
    val r2 = Graph.labelPropagation(e2, 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 === Map(5L -> 5L, 6L -> 5L, 2L -> 2L, 9L -> 5L))
    // iterations = 0: identity labeling
    val r0 = Graph.labelPropagation(e, 0).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r0 === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("degrees: directed counts with zero-fill on one-sided nodes") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val d = Graph.degrees(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d === Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
      depth: Int): Set[(Long, Long)] =
    Graph.bfsDistance(edges.toDF("src", "dst"), seeds.toDF("id"), depth)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bfsDistance: chain levels, early exit, unreachable absent, depth cap") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    // maxDepth far past the diameter — early exit must stop the loop,
    // and the disconnected 9→10 component stays absent
    assert(bfs(chain, Seq(1L), 10) ===
      Set((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
    // the cap truncates levels
    assert(bfs(chain, Seq(1L), 1) === Set((1L, 0L), (2L, 1L)))
    assert(bfs(chain, Seq(1L), 0) === Set((1L, 0L)))
  }

  test("bfsDistance: multi-source min-level, cycles, duplicate and non-node seeds") {
    // two seeds meet in the middle: 3 is one hop from BOTH; the cycle
    // back to 1 must not re-level it; seed 99 is not a node → dist 0
    val e = Seq((1L, 3L), (5L, 3L), (3L, 1L), (3L, 6L))
    assert(bfs(e, Seq(1L, 5L, 5L, 99L), 5) ===
      Set((1L, 0L), (5L, 0L), (99L, 0L), (3L, 1L), (6L, 2L)))
  }

  test("bfsDistance: direction matters; symmetrize for undirected distance") {
    val e = Seq((2L, 1L)) // edge INTO the seed only
    assert(bfs(e, Seq(1L), 3) === Set((1L, 0L)))
    val sym = Seq((2L, 1L), (1L, 2L))
    assert(bfs(sym, Seq(1L), 3) === Set((1L, 0L), (2L, 1L)))
  }

  private def harm(edges: Seq[(Long, Long)], r: Int,
      p: Int = 12): Map[Long, (Double, Double)] =
    Graph.harmonicCentrality(edges.toDF("src", "dst"), r, p)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2))))
      .toMap

  test("harmonicCentrality: chain closed form within HLL tolerance; direction; radius cap") {
    // 1→2→3: exact H = (0, 1, 1.5); incoming reach = (1, 2, 3)
    val e = Seq((1L, 2L), (2L, 3L))
    val h = harm(e, 10)
    def near(a: Double, b: Double) = math.abs(a - b) <= 0.02 * math.max(b, 1.0)
    assert(h(1L)._1 === 0.0) // nothing reaches 1 — exactly zero
    assert(near(h(2L)._1, 1.0) && near(h(3L)._1, 1.5), h.toString)
    assert(near(h(1L)._2, 1.0) && near(h(2L)._2, 2.0) && near(h(3L)._2, 3.0))
    // radius 1: only direct in-neighbors count — H(3) ≈ indegree = 1
    val h1 = harm(e, 1)
    assert(near(h1(3L)._1, 1.0), h1.toString)
  }

  test("linCentrality: chain closed form; isolated-in convention; one sweep with harmonic") {
    // 1→2→3: node 3 has r=3, Σd = 1 + 2 = 3 → Lin = 9/3 = 3;
    // node 2 r=2, Σd=1 → Lin = 4; node 1 r=1, Σd=0 → Lin = 1
    val l = Graph.linCentrality(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    def near(a: Double, b: Double) = math.abs(a - b) <= 0.03 * math.max(b, 1.0)
    assert(l(1L)._3 === 1.0) // sum_dist exactly 0 → the isolated convention
    assert(near(l(2L)._1, 2.0) && near(l(2L)._2, 1.0) && near(l(2L)._3, 4.0), l.toString)
    assert(near(l(3L)._1, 3.0) && near(l(3L)._2, 3.0) && near(l(3L)._3, 3.0), l.toString)
  }

  test("effectiveDiameter: chain interpolation, quantile endpoints, radius cap") {
    // 1→2→3: N(0)≈3, N(1)≈5, N(2)≈6 (ball sums 1+2+2 then 1+2+3).
    // q=0.9 → target 5.4, between rounds 1 and 2 → d ≈ 1.4
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val d9 = Graph.effectiveDiameter(e, 10, quantile = 0.9)
    assert(math.abs(d9 - 1.4) < 0.1, d9.toString)
    // q=1.0 needs the full horizon → exactly the last growing round
    val d1 = Graph.effectiveDiameter(e, 10, quantile = 1.0)
    assert(math.abs(d1 - 2.0) < 0.05, d1.toString)
    // a tiny quantile is satisfied by the radius-0 balls
    assert(Graph.effectiveDiameter(e, 10, quantile = 0.4) === 0.0)
    // capped sweep reads against the swept horizon: radius 1 sees
    // N = (3, 5), q=1.0 → 1.0
    val dc = Graph.effectiveDiameter(e, 1, quantile = 1.0)
    assert(math.abs(dc - 1.0) < 0.05, dc.toString)
  }

  test("effectiveDiameter: empty edge relation yields 0.0, no NPE") {
    // self-loops erase to an empty graph: the trace sum over zero
    // rows must coalesce to 0, not null-NPE
    val e = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst").filter(col("src") =!= col("dst"))
    assert(Graph.effectiveDiameter(e, 3) === 0.0)
  }

  test("harmonicCentrality is partition-invariant (register max-merge is order-free)") {
    val e = (1L to 40L).map(i => (i, i % 7 + 100L)) ++ Seq((100L, 101L), (101L, 102L))
    val a = Graph.harmonicCentrality(e.toDF("src", "dst"), 5, p = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val b = Graph.harmonicCentrality(e.toDF("src", "dst").repartition(7), 5, p = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(a === b)
  }

  private def sssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      maxIter: Int = 50): Set[(Long, Long)] =
    Graph.sssp(edges.toDF("src", "dst", "w"), seeds.toDF("id"), maxIter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sssp: weighted minimum beats hop count; relaxation cascades") {
    // 1→2→3 costs 2 vs the direct 1→3 at 5; 3→4 then extends the
    // two-hop winner, so 4's first-found dist (via the heavy edge)
    // must be RE-relaxed down — pins multi-round improvement
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 1L))
    assert(sssp(e, Seq(1L)) ===
      Set((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("sssp: multi-source min, non-node seeds at 0, unreachable absent") {
    // seeds 1 and 5 race to 3 (5's route cheaper); 9→10 disconnected;
    // 99 not a graph node → still dist 0
    val e = Seq((1L, 3L, 7L), (5L, 3L, 2L), (3L, 6L, 1L), (9L, 10L, 1L))
    assert(sssp(e, Seq(1L, 5L, 99L)) ===
      Set((1L, 0L), (5L, 0L), (99L, 0L), (3L, 2L), (6L, 3L)))
  }

  test("sssp: parallel edges keep lightest, cycles converge, maxIter caps") {
    val e = Seq((1L, 2L, 9L), (1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 1L))
    assert(sssp(e, Seq(1L)) === Set((1L, 0L), (2L, 3L), (3L, 4L)))
    // one round of relaxation only reaches 2
    assert(sssp(e, Seq(1L), maxIter = 1) === Set((1L, 0L), (2L, 3L)))
    assert(sssp(e, Seq(1L), maxIter = 0) === Set((1L, 0L)))
  }

  private def dijkstra(edges: Seq[(Long, Long, Long)],
      seed: Long): Set[(Long, Long)] = {
    val dist = scala.collection.mutable.Map(seed -> 0L)
    val done = scala.collection.mutable.Set.empty[Long]
    while (dist.keySet.exists(!done(_))) {
      val (u, du) = dist.filter(x => !done(x._1)).minBy(_._2)
      done += u
      for ((a, b, w) <- edges if a == u && dist.get(b).forall(du + w < _))
        dist(b) = du + w
    }
    dist.toSet
  }

  // a light chain 0→1→…→n beside heavy shortcuts j→i (i ≥ j+2) of
  // weight 2(i−j): round 1 reaches every node through its shortcut
  // from 0, and round t improves every node past t by one more — so
  // the improvement deltas outgrow the compacted state every few rounds
  private val relaxChain: Seq[(Long, Long, Long)] =
    (0L until 12L).map(i => (i, i + 1, 1L)) ++
      (for (j <- 0L until 12L; i <- j + 2 to 12L) yield (j, i, 2 * (i - j)))

  test("sssp: many improving rounds compact the delta union; matches Dijkstra") {
    val (got, lines) = Observe.rounds(sssp(relaxChain, Seq(0L)))
    assert(got === dijkstra(relaxChain, 0L))
    assert(got === (0L to 12L).map(i => (i, i)).toSet)
    // compaction ran inside the loop, not only at exit, and each line
    // reports the deltas held and whether the round compacted
    val mine = lines.filter(_.startsWith("sssp round "))
    assert(mine.count(_.endsWith("compacted true")) >= 2, mine)
    assert(mine.forall(_.matches(
      "sssp round \\d+: rows \\d+, \\d+ ms, pieces \\d+, compacted (true|false)")),
      mine)
    // the cap exits mid-relaxation: the exit compaction folds the
    // deltas held since the last mid-loop one (Bellman–Ford prefix)
    val capped = Graph.sssp(relaxChain.toDF("src", "dst", "w"),
        Seq(0L).toDF("id"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(capped === (0L to 12L).map(i =>
      i -> (if (i <= 4) i else 2 * i - 3)).toMap)
  }

  test("bfsDistance: a long chain discovers one node per round through compactions") {
    val chain = (0L until 24L).map(i => (i, i + 1))
    val (got, lines) = Observe.rounds(bfs(chain, Seq(0L), 40))
    assert(got === (0L to 24L).map(i => (i, i)).toSet)
    assert(lines.exists(l =>
      l.startsWith("bfsDistance round ") && l.endsWith("compacted true")), lines)
    assert(bfs(chain, Seq(0L), 9) === (0L to 9L).map(i => (i, i)).toSet)
  }

  test("sssp: zero-weight edges and direction") {
    val e = Seq((1L, 2L, 0L), (3L, 1L, 4L)) // 3→1 points INTO the seed
    assert(sssp(e, Seq(1L)) === Set((1L, 0L), (2L, 0L)))
  }

  test("sssp: negative- and null-weight edges fail loudly, never relax or vanish") {
    // the -5 shortcut would undercut the honest 1→2→3 path (and a
    // negative cycle would never converge); the contract THROWS at
    // the first action, naming the offending edge — bad input is
    // surfaced, never silently excluded
    val e = Seq((1L, 2L, 2L), (2L, 3L, 2L), (1L, 3L, -5L))
    val ex = intercept[Exception] { sssp(e, Seq(1L)) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("negative- or null-weight edge 1->3")))
    // an upstream filter restores the old drop semantics, visibly
    val filtered = e.filter(_._3 >= 0)
    assert(sssp(filtered, Seq(1L)) === Set((1L, 0L), (2L, 2L), (3L, 4L)))
    // a NULL weight raises too: NULL < 0 is NULL, so a filter-shaped
    // guard would let it through, propagate NULL candidate distances,
    // and re-select the same nodes every round — the loop would never
    // converge and the output would silently carry NULL distances.
    // (A non-numeric string weight never reaches this guard: the
    // session runs ANSI, so the BIGINT cast itself fails loudly.)
    val en = Seq((1L, 2L, Some(2L)), (2L, 3L, None))
      .toDF("src", "dst", "w")
    val exn = intercept[Exception] {
      Graph.sssp(en, Seq(1L).toDF("id"))
        .collect()
    }
    assert(msgs(exn).exists(_.contains("negative- or null-weight edge 2->3")))
    assert(msgs(exn).exists(_.contains("w=NULL")))
  }

  private def tri(edges: Seq[(Long, Long)]): Set[(Long, Long)] =
    Graph.triangles(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("triangles: K4 closed form; star has none; hub-attached triangle counts once") {
    // complete graph on 4 nodes: every node sits in C(3,2) = 3 triangles
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) === Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // star: high degree, zero triangles — the spam-farm signature
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))
    assert(tri(star) ===
      Set((9L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
    // one triangle hanging off a hub: hub 1 (deg 5) is the HIGHEST-
    // rank node of its triangle, so the wedge center is the lowest-
    // rank corner — orientation must still find it exactly once
    val hubTri = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L),
      (5L, 6L))
    assert(tri(hubTri) === Set((1L, 1L), (2L, 0L), (3L, 0L), (4L, 0L),
      (5L, 1L), (6L, 1L)))
  }

  test("triangles: direction, duplicate edges, and self-loops are erased") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    assert(tri(messy) === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("clusteringCoefficient: closed forms — K4 is unit, star is 0, deg<2 is 0") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got = Graph.clusteringCoefficient(k4.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // every node: deg 3, 3 triangles, cc = 2·3/(3·2) = 1.0 → 1e6 micro
    assert(got === (1L to 4L).map(i => (i, 3L, 3L, 1000000L)).toSet)
    // triangle with a pendant: pendant deg 1 → cc 0 (not a div error);
    // its attach point has deg 3, 1 triangle → floor(1e6*2/6) = 333333
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val cc = Graph.clusteringCoefficient(g.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(cc === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 333333L, 4L -> 0L))
  }

  private def core(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Set[(Long, Long)] =
    Graph.kcore(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("kcore: path erodes one endpoint layer per synchronous round") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // round 1 removes the deg-1 ends; survivors keep NEW degrees
    assert(core(path, 2, 1) === Set((2L, 1L), (3L, 2L), (4L, 1L)))
    // round 2 removes 2 and 4; node 3 is edgeless → empty
    assert(core(path, 2, 2) === Set.empty[(Long, Long)])
    assert(core(path, 2, 0) ===
      Set((1L, 1L), (2L, 2L), (3L, 2L), (4L, 2L), (5L, 1L)))
  }

  test("kcore: fixpoint early-exit; triangle survives k=2, dies at k=3") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    // tail node 4 peels in round 1; the triangle is the stable 2-core
    // and maxRounds far past convergence must not change it
    assert(core(g, 2, 100) === Set((1L, 2L), (2L, 2L), (3L, 2L)))
    assert(core(g, 3, 100) === Set.empty[(Long, Long)])
  }

  test("kcore: canonicalization — reversed/duplicate edges and self-loops collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 1L))
    assert(core(messy, 2, 100) === Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  private def corenessOf(edges: Seq[(Long, Long)], maxK: Int,
      rpk: Int): Map[Long, Long] =
    Graph.coreness(edges.toDF("src", "dst"), maxK, rpk)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("coreness: clique layers, pendants, and the maxK cap") {
    // 4-clique {1,2,3,4} + pendant 5 on 1 + triangle {6,7,8} bridged
    // to nothing: coreness 3 / 1 / 2 respectively
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (6L, 7L), (7L, 8L), (8L, 6L))
    assert(corenessOf(g, maxK = 5, rpk = 10) === Map(
      1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L,
      6L -> 2L, 7L -> 2L, 8L -> 2L))
    // maxK caps: the 4-clique's true coreness 3 reports as 2
    assert(corenessOf(g, maxK = 2, rpk = 10) === Map(
      1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 1L,
      6L -> 2L, 7L -> 2L, 8L -> 2L))
  }

  test("coreness: capped rounds are deterministic (unconverged path peel)") {
    // 5-path, threshold-2 peel converges in 2 synchronous rounds;
    // rpk=1 stops after ONE — survivors {2,3,4} report coreness 2,
    // the documented cap semantics the oracle can unroll exactly
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(corenessOf(path, maxK = 3, rpk = 1) === Map(
      1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
    // converged: every path node is coreness 1 (empty early-exit
    // stops k before maxK)
    assert(corenessOf(path, maxK = 3, rpk = 10) === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("coreness/ktruss: cap truncation is signaled; requireConverged throws") {
    // the rpk=1 path peel above is cap-truncated — opting into
    // strictness turns the warning into an error naming the k
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val ce = intercept[IllegalStateException] {
      Graph.coreness(path.toDF("src", "dst"), maxK = 3,
        maxRoundsPerK = 1, requireConverged = true).collect()
    }
    assert(ce.getMessage.contains("k=2"))
    // a converged run under the SAME caps must NOT trip the probe
    // (cap landing exactly on the fixpoint counts as converged):
    // threshold-2 peel of a star finishes in one round
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    assert(Graph.coreness(star.toDF("src", "dst"), maxK = 2,
        maxRoundsPerK = 1, requireConverged = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // ktruss: the strip cascade capped mid-peel throws under
    // strictness; uncapped the same call converges quietly
    val strip = (0L to 4L).map(i => (i, i + 1)) ++
      (0L to 3L).map(i => (i, i + 2))
    val te = intercept[IllegalStateException] {
      Graph.ktruss(strip.toDF("src", "dst"), k = 4, maxRounds = 1,
        requireConverged = true).collect()
    }
    assert(te.getMessage.contains("maxRounds"))
    assert(Graph.ktruss(strip.toDF("src", "dst"), k = 4, maxRounds = 20,
      requireConverged = true).collect().isEmpty)
  }

  test("coreness: messy edges canonicalize; agrees with kcore membership") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L),
      (1L, 1L), (3L, 9L))
    val cn = corenessOf(messy, maxK = 4, rpk = 20)
    assert(cn === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 9L -> 1L))
    // cross-check: nodes with coreness ≥ k are exactly kcore(k)'s set
    val k2 = core(messy, 2, 100).map(_._1)
    assert(cn.filter(_._2 >= 2L).keySet === k2)
  }

  test("coreness: maxK=0 auto-degeneracy equals a generous cap, reports the degeneracy") {
    // K4 + a triangle hung off it + a pendant: degeneracy 3. Auto
    // mode (maxK=0) must reproduce a cap that exceeds the degeneracy
    // bit-for-bit, and its maximum value IS the degeneracy — no
    // a-priori bound needed, no phantom layers past the empty-out
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val g = k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 9L))
    val auto = corenessOf(g, maxK = 0, rpk = 20)
    val capped = corenessOf(g, maxK = 10, rpk = 20)
    assert(auto === capped)
    assert(auto.values.max === 3L)
    assert(auto === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 9L -> 1L))
    // a single edge: auto peels at k=2 straight to empty — coreness 1
    assert(corenessOf(Seq((7L, 8L)), maxK = 0, rpk = 20) ===
      Map(7L -> 1L, 8L -> 1L))
  }

  private def scc(edges: Seq[(Long, Long)], maxOuter: Int = 20)
      : Map[Long, Long] =
    Graph.stronglyConnectedComponents(edges.toDF("src", "dst"), maxOuter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("scc: cycles close, DAG edges never merge, direction matters") {
    // cycle {1,2,3}; 3→4 one-directional; cycle {4,5}; 6→1 tendril
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (6L, 1L))
    assert(scc(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    // the same edges UNDIRECTED would be one component — direction
    // is the whole point
    val und = Graph.connectedComponents(g.toDF("src", "dst"))
      .collect().map(_.getLong(1)).toSet
    assert(und === Set(1L))
  }

  test("scc: pure DAG collapses to singletons in one sweep") {
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(scc(dag) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("scc: downstream-pointing minima need a second outer round") {
    // 1 → {2,3} cycle → {4,5} cycle → 0: every upstream SCC's
    // min-reachable id is 0; the trim prepass peels the 1- and
    // 0-tendrils, and the cycles extract over the outer peel
    val g = Seq((1L, 2L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 5L), (5L, 4L), (5L, 0L))
    assert(scc(g) === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
      4L -> 4L, 5L -> 4L))
    // a too-small cap THROWS rather than silently omit the
    // un-extracted layers — a partial assignment would lose nodes
    // in a downstream join with no signal (the maxPropRounds
    // posture). The fixture must be ALL-cycle (trim absorbs
    // tendrils without spending outer rounds): a chain of three
    // 2-cycles {8,9} → {4,5} → {0,1} extracts exactly one cycle per
    // outer round — min-reachable everywhere is 0, so only {0,1}
    // roots in round 1, {4,5} in round 2, {8,9} in round 3
    val chain = Seq((8L, 9L), (9L, 8L), (4L, 5L), (5L, 4L),
      (0L, 1L), (1L, 0L), (9L, 4L), (5L, 0L))
    assert(scc(chain) === Map(0L -> 0L, 1L -> 0L, 4L -> 4L, 5L -> 4L,
      8L -> 8L, 9L -> 8L))
    val ex = intercept[IllegalArgumentException] {
      scc(chain, maxOuter = 2)
    }
    assert(ex.getMessage.contains("maxOuter"))
  }

  test("scc trim: chains vanish mid-node, tendrils peel without outer rounds") {
    // chain 1→2→3: round 1 trims 1 (in-0) and 3 (out-0); node 2 —
    // in/out degree 1 at aggregate time — loses BOTH edges to the
    // peel and must be swept as a vanished singleton, not lost
    assert(scc(Seq((1L, 2L), (2L, 3L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // tendrils both INTO and OUT OF a cycle trim away, then the
    // cycle floods: 1→{2,3 cycle}→4
    assert(scc(Seq((1L, 2L), (2L, 3L), (3L, 2L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L))
    // a long pure path peels from both ends, one layer per trim
    // round, inside ONE outer round (maxOuter = 1 suffices — the
    // trim fixpoint is capped by maxPropRounds, not maxOuter)
    val path = (1L until 12L).map(i => (i, i + 1))
    assert(scc(path, maxOuter = 1) ===
      (1L to 12L).map(i => i -> i).toMap)
  }

  test("scc: shared node fuses cycles; self-loops and duplicates are harmless") {
    // two cycles sharing node 3 are ONE SCC; 9's self-loop is a
    // singleton SCC; duplicate edges collapse
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 3L), (9L, 9L), (1L, 2L))
    assert(scc(g) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 9L -> 9L))
  }

  test("scc: partition-invariant") {
    val g = (1L to 60L).map(i => (i, if (i % 10 == 0) i - 9 else i + 1))
    val a = scc(g)
    val b = Graph.stronglyConnectedComponents(
        g.toDF("src", "dst").repartition(13))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // six disjoint 10-cycles, reps at the decade starts
    assert(a === (1L to 60L).map(i => i -> ((i - 1) / 10 * 10 + 1)).toMap)
  }

  private def truss(edges: Seq[(Long, Long)], k: Int,
      rounds: Int = 20): Set[(Long, Long, Long)] =
    Graph.ktruss(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("ktruss: clique supports, triangle threshold, k=2 raw report") {
    // 4-clique {1,2,3,4} + triangle {5,6,7} + pendant (1,9)
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L), (1L, 9L))
    // k=3 (support ≥ 1): pendant dies, clique (2) + triangle (1) stay
    assert(truss(g, 3) === Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L),
      (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L)))
    // k=4: only the clique; k=5: nothing survives
    assert(truss(g, 4).map(_._3) === Set(2L) && truss(g, 4).size === 6)
    assert(truss(g, 5) === Set.empty[(Long, Long, Long)])
    // k=2 degrades to the per-edge triangle report, pendant included
    assert(truss(g, 2).size === 10 &&
      truss(g, 2).contains((1L, 9L, 0L)))
  }

  test("ktruss: strip cascade peels layer by layer; maxRounds binds") {
    // triangle strip t0..t5: skip edges and END path edges carry
    // support 1, interior path edges 2 — k=4 drops the former in
    // round 1, which zeroes the survivors' support (no triangles
    // remain), so round 2 empties the graph: a true support CASCADE
    val strip = (0L to 4L).map(i => (i, i + 1)) ++
      (0L to 3L).map(i => (i, i + 2))
    assert(truss(strip, 4) === Set.empty[(Long, Long, Long)])
    // capped after ONE round: the interior path survives with its
    // RECOMPUTED (zero) supports — the deterministic cap semantics
    assert(truss(strip, 4, rounds = 1) ===
      Set((1L, 2L, 0L), (2L, 3L, 0L), (3L, 4L, 0L)))
    // rounds = 0 reports raw supports of the canonical input
    assert(truss(strip, 4, rounds = 0).count(_._3 == 2L) === 3)
  }

  test("ktruss: each peel round counts its relations once, inside their marks") {
    // the strip cascade at k=4 runs two peel rounds and a fixpoint
    // test; each round's deleted/keep sizes come from the counts their
    // checkpoints already run, so no extra count jobs re-scan them
    val strip = (0L to 4L).map(i => (i, i + 1)) ++
      (0L to 3L).map(i => (i, i + 2))
    val edges = strip.toDF("src", "dst")
    val (n, jobs) = Observe.jobs(spark) {
      Graph.ktruss(edges, k = 4, maxRounds = 20).count()
    }
    assert(n === 0L)
    // 45 jobs on this session (AQE map stages included); a count()
    // re-run on a round's checkpoint costs 2 more jobs each
    assert(jobs <= 45, s"ktruss ran $jobs jobs, expected <= 45")
  }

  test("Rounds gates: one job per round in sssp, hits, betweenness and cc") {
    // a triangle with a tail, several rounds each. Every mark counts or
    // folds its checkpoint in one RDD job, and fixpoint marks only its
    // delta: a round that gets back a Dataset.count() on its checkpoint
    // (2 jobs) or a per-round merge mark breaks its bound. Counts on
    // this session, AQE map stages included: sssp 34, hits 28,
    // betweenness 62 or 64 (AQE stage timing varies it), cc 26 (60,
    // 51, 78 and 30 with Dataset counts in the marks, merge marks in
    // fixpoint and aggregate statistics)
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
    val gd = g.toDF("src", "dst")
    val wg = g.map { case (a, b) => (a, b, a + b) }.toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val cases: Seq[(String, () => Long, Int)] = Seq(
      ("sssp", () => Graph.sssp(wg, seeds).count(), 34),
      ("hits", () => Graph.hits(gd, 2).count(), 28),
      ("betweenness", () => Graph.betweenness(gd, seeds).count(), 64),
      ("cc", () => Graph.connectedComponents(gd).count(), 26))
    for ((name, run, bound) <- cases) {
      val (n, jobs) = Observe.jobs(spark)(run())
      assert(n === 6L, name)
      assert(jobs <= bound, s"$name ran $jobs jobs, expected <= $bound")
    }
  }

  test("ktruss: messy edges canonicalize; truss sits inside the core") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 1L),
      (3L, 4L), (4L, 1L), (4L, 3L))
    // triangle {1,2,3} + triangle {1,3,4} sharing edge (1,3)
    val t3 = truss(messy, 3)
    assert(t3 === Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 2L),
      (3L, 4L, 1L), (1L, 4L, 1L)))
    // every truss endpoint is a kcore(k-1) survivor (k-truss ⊆ (k-1)-core)
    val coreNodes = core(messy, 2, 100).map(_._1)
    assert(t3.flatMap(e => Seq(e._1, e._2)).subsetOf(coreNodes))
  }

  test("scc: unconverged propagation throws, never a wrong answer") {
    // a 9-ring needs ~9 color rounds; a 2-round guard must abort
    // loudly — a silently capped flood would peel the ring apart
    val ring = (1L to 9L).map(i => (i, i % 9 + 1))
    val e = intercept[IllegalArgumentException] {
      Graph.stronglyConnectedComponents(ring.toDF("src", "dst"),
        maxPropRounds = 2).collect()
    }
    assert(e.getMessage.contains("maxPropRounds"))
  }

  test("connectedComponents: chains close transitively, min-id reps, messy edges") {
    // two chains + an isolated pair: a pair-local rule would miss that
    // 1~2~3~4 is ONE component; reps are the component minima
    val g = Seq((3L, 4L), (1L, 2L), (2L, 3L), (7L, 6L), (9L, 9L), (6L, 7L))
    val got = Graph.connectedComponents(g.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (6L, 6L), (7L, 6L)))
    // graph face ≡ dedup face: the promotion is the SAME implementation
    val ded = graft.functions.Dedup.connectedComponents(g.toDF("i", "j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ded === got)
  }

  private def walks(edges: Seq[(Long, Long)], len: Int, per: Int,
      seed: Long): Seq[(Long, Long, Long, Long)] =
    Graph.randomWalks(edges.toDF("src", "dst"), len, per, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))

  test("randomWalks: every hop is an edge, walks re-derive from the hash spec") {
    // diamond with a tail: choices at 1 (→2 or →3) exercise the
    // hash-indexed pick; 4→5 is forced; 5 is a sink mid-walk
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = walks(g, len = 4, per = 3, seed = 42L)
    val edgeSet = g.toSet
    // step-0 rows: one per (start, w) over starts {1,2,3,4}
    val s0 = got.filter(_._3 == 0L)
    assert(s0.map(x => (x._1, x._2)).toSet ===
      (for (s <- Seq(1L, 2L, 3L, 4L); w <- 0L until 3L) yield (s, w)).toSet)
    assert(s0.forall(x => x._1 === x._4))
    // every consecutive pair within a walk is a real edge
    val byWalk = got.groupBy(x => (x._1, x._2))
    byWalk.values.foreach { rows =>
      val path = rows.sortBy(_._3).map(_._4)
      path.sliding(2).filter(_.size == 2).foreach { p =>
        assert(edgeSet.contains((p(0), p(1))), s"non-edge hop in $path")
      }
    }
    // full re-derivation from the documented hash spec (the oracle's
    // computation): adjacency ranked by dst, idx = top-32 bits mod deg
    import graft.functions.SamplingImpl.splitmix64
    val adj = g.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted.toIndexedSeq }
    def expectWalk(start: Long, w: Long, len: Int): Seq[Long] = {
      val wh = splitmix64(splitmix64(42L ^ start) ^ w)
      var cur = start
      var out = Seq(start)
      var t = 1
      while (t <= len && adj.contains(cur)) {
        val ns = adj(cur)
        val idx = ((splitmix64(wh ^ t.toLong) >>> 32) % ns.size).toInt
        cur = ns(idx)
        out :+= cur
        t += 1
      }
      out
    }
    byWalk.foreach { case ((s, w), rows) =>
      assert(rows.sortBy(_._3).map(_._4) === expectWalk(s, w, 4),
        s"walk ($s,$w) diverged from the hash spec")
    }
    // sink truncation: a walk reaching 5 stops (no step rows after)
    assert(got.filter(_._4 == 5L).forall(_._3 <= 4L))
    // determinism + partition invariance
    val again = Graph.randomWalks(
        g.toDF("src", "dst").repartition(7), 4, 3, 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))
    assert(again === got)
    // a different seed changes at least one choice at node 1
    val other = walks(g, 4, 3, seed = 43L)
    assert(other.nonEmpty)
  }

  test("randomWalks: uniform choice covers the neighbor set; duplicates collapse") {
    // star 1→{2,3,4} (+ a duplicate edge): 24 walks of length 1 from
    // node 1 must (deterministically, at this seed) hit all three
    // neighbors, and never a non-neighbor
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 2L))
    val got = walks(g, len = 1, per = 24, seed = 7L)
    val nexts = got.filter(x => x._1 == 1L && x._3 == 1L).map(_._4)
    assert(nexts.size === 24 && nexts.toSet === Set(2L, 3L, 4L))
  }

  test("randomWalksWeighted: interval picks re-derive; weights sum; non-positive drop") {
    import graft.functions.SamplingImpl.splitmix64
    // 1→2 carries 1/4 of the mass (and is split across parallel
    // edges that must SUM), 1→3 carries 3/4; 1→9 has only
    // non-positive weight — a zero-probability edge that must vanish
    val g = Seq((1L, 2L, 1L), (1L, 3L, 2L), (1L, 3L, 1L),
      (1L, 9L, 0L), (1L, 9L, -5L), (2L, 4L, 7L), (3L, 4L, 7L))
    val got = Graph.randomWalksWeighted(g.toDF("src", "dst", "w"),
        walkLength = 2, walksPerNode = 16, seed = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))
    assert(!got.exists(_._4 == 9L))
    // full re-derivation of every step-1 choice from node 1: the
    // cumulative intervals in dst order are 2→[0,1), 3→[1,4)
    val oneHops = got.filter(x => x._1 == 1L && x._3 == 1L)
      .map(x => x._2 -> x._4).toMap
    assert(oneHops.size === 16)
    for ((wk, nxt) <- oneHops) {
      val wh = splitmix64(splitmix64(5L ^ 1L) ^ wk)
      val u32 = splitmix64(wh ^ 1L) >>> 32
      val x = (BigInt(u32) * 4 / BigInt(2).pow(32)).toLong
      assert(nxt === (if (x < 1) 2L else 3L), s"walk $wk: x=$x")
    }
    // at this seed both intervals are hit (3/4-vs-1/4 over 16 draws)
    assert(oneHops.values.toSet === Set(2L, 3L))
    // partition invariance
    val again = Graph.randomWalksWeighted(
        g.toDF("src", "dst", "w").repartition(7), 2, 16, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))
    assert(again === got)
  }

  test("skipGramPairs: window bounds, both directions, exact multiplicities") {
    // two walks share the (10,20) adjacency → cnt 2; cross-walk and
    // beyond-window pairs must not appear; singleton walks pair nothing
    val walks = Seq(
      (1L, 0L, 0L, 10L), (1L, 0L, 1L, 20L), (1L, 0L, 2L, 30L),
      (1L, 0L, 3L, 40L),
      (1L, 1L, 0L, 10L), (1L, 1L, 1L, 20L),
      (2L, 0L, 0L, 50L)).toDF("start", "walk", "step", "id")
    def pairs(window: Int): Map[(Long, Long), Long] =
      Graph.skipGramPairs(walks, window).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val p2 = pairs(2)
    assert(p2 === Map(
      (10L, 20L) -> 2L, (20L, 10L) -> 2L, (10L, 30L) -> 1L,
      (30L, 10L) -> 1L, (20L, 30L) -> 1L, (30L, 20L) -> 1L,
      (20L, 40L) -> 1L, (40L, 20L) -> 1L, (30L, 40L) -> 1L,
      (40L, 30L) -> 1L))
    // symmetric by construction
    assert(p2.forall { case ((a, b), c) => p2((b, a)) === c })
    // window=1 keeps only adjacent positions
    assert(pairs(1) === Map(
      (10L, 20L) -> 2L, (20L, 10L) -> 2L, (20L, 30L) -> 1L,
      (30L, 20L) -> 1L, (30L, 40L) -> 1L, (40L, 30L) -> 1L))
  }

  test("skipGramNegatives: every draw re-derives; boundaries, drops, sums, invariance") {
    import graft.functions.SamplingImpl.splitmix64
    // unigram^0.75 weights: f=1 → 1024, f=16 → 16^0.75·1024 = 8192,
    // f=81 → 27·1024 = 27648; buckets=2 splits {2}(bk0) from
    // {1,3}(bk1), so the two-level pick is multi-bucket live:
    // global intervals 2→[0,8192), 1→[8192,9216), 3→[9216,36864)
    val freqs = Seq((1L, 1L), (2L, 16L), (3L, 81L), (9L, 0L),
      (8L, -3L)).toDF("id", "f")
    val pairs = Seq((10L, 20L, 1L), (20L, 10L, 1L))
      .toDF("center", "context", "cnt")
    def runNegs(p: org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame) =
      Graph.skipGramNegatives(p, f, k = 4, seed = 7L, buckets = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))
    val got = runNegs(pairs, freqs)
    // exactly one draw per (pair, j); zero/negative-frequency nodes
    // never appear
    assert(got.size === 8)
    assert(!got.exists(x => x._4 == 9L || x._4 == 8L))
    // full re-derivation of every draw from the hash spec
    for ((c, x, j, neg) <- got) {
      val ph = splitmix64(splitmix64(splitmix64(7L ^ c) ^ x) ^ j)
      val pos = (BigInt(ph >>> 32) * 36864 / BigInt(2).pow(32)).toLong
      val expect = if (pos < 8192) 2L else if (pos < 9216) 1L else 3L
      assert(neg === expect, s"pair ($c,$x) draw $j: pos=$pos")
    }
    // duplicate frequency rows SUM into one node weight: splitting
    // f(2)=16 into 6+10 changes nothing
    val split = Seq((1L, 1L), (2L, 6L), (2L, 10L), (3L, 81L))
      .toDF("id", "f")
    assert(runNegs(pairs, split) === got)
    // partition invariance
    assert(runNegs(pairs.repartition(7), freqs.repartition(5)) === got)
  }

  test("skipGramNegatives: dropSelfCollisions only filters — both modes share draws") {
    // three-node vocabulary with pairs drawn FROM the vocabulary, so
    // self-collisions (neg == center or context) actually occur and
    // the strict mode is differentially live
    val freqs = Seq((1L, 5L), (2L, 9L), (3L, 2L)).toDF("id", "f")
    val pairs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L)).toDF("center", "context")
    def run(strict: Boolean) =
      Graph.skipGramNegatives(pairs, freqs, k = 6, seed = 11L,
          buckets = 2, dropSelfCollisions = strict)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sortBy(x => (x._1, x._2, x._3))
    val dflt = run(strict = false)
    val strict = run(strict = true)
    // default keeps every (pair, j) draw; collisions exist (the test
    // would be vacuous otherwise)
    assert(dflt.size === 36)
    assert(dflt.exists(x => x._4 == x._1 || x._4 == x._2))
    // the flag ONLY filters: strict output is exactly the default
    // minus collision rows — same draws, j indices intact
    assert(strict === dflt.filterNot(x => x._4 == x._1 || x._4 == x._2))
  }

  test("walk-corpus incremental refresh: only walks visiting touched sources recompute") {
    // the OPERATORS.md CDC recipe, asserted exact: after an edge
    // delta, a walk whose every visited node kept its out-adjacency
    // re-derives bit-identically (the hash pick reads only
    // (seed, start, walk, t) and the visited node's own ranked
    // adjacency) — so refresh = keep walks never visiting a touched
    // source, recompute exactly the (start, walk) keys that do, plus
    // walks of brand-new sources
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L),
      (6L, 5L), (7L, 5L))
    // delta: 5 loses (5,6) and gains (5,8); new sources 8 and 9
    val e1 = e0.filterNot(_ == (5L, 6L)) ++
      Seq((5L, 8L), (8L, 5L), (9L, 1L))
    def runW(s: Seq[(Long, Long)]) =
      Graph.randomWalks(s.toDF("src", "dst"), 5, 2, 17L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val old = runW(e0)
    val full = runW(e1)
    val touched = Set(5L, 8L, 9L) // out-adjacency changed or new
    val newStarts = full.map(_._1).toSet.diff(old.map(_._1).toSet)
    val affected = old.filter(x => touched.contains(x._4))
      .map(x => (x._1, x._2)).toSet ++
      newStarts.flatMap(s => Seq((s, 0L), (s, 1L)))
    val refreshed = old.filterNot(x => affected.contains((x._1, x._2))) ++
      full.filter(x => affected.contains((x._1, x._2)))
    assert(refreshed.toSet === full.toSet)
    // the reuse is non-vacuous: the {1..4}-cycle walks never touch 5
    // and are carried over, not recomputed
    assert(old.exists(x => !affected.contains((x._1, x._2))))
  }

  test("scc: long cycles converge via relation squaring inside a tight round guard") {
    // a 200-cycle has min-label diameter 199: the plain frontier
    // loop needs ~199 color rounds and would throw at
    // maxPropRounds = 40 — convergence inside the guard IS the
    // squaring path working, and the assignment must still be exact
    val ring = (0L until 200L).map(i => (i, (i + 1) % 200))
    val got = Graph.stronglyConnectedComponents(
        ring.toDF("src", "dst"), maxPropRounds = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until 200L).map(i => i -> 0L).toMap)
    // two 80-cycles bridged ONE-WAY plus trim tendrils: squared
    // shortcut pairs are reachability pairs, so direction must
    // survive squaring (no cross-cycle merge through the bridge)
    val g2 = (0L until 80L).map(i => (i, (i + 1) % 80)) ++
      (100L until 180L).map(i => (i, if (i == 179L) 100L else i + 1)) ++
      Seq((7L, 100L), (500L, 0L), (179L, 600L))
    val got2 = Graph.stronglyConnectedComponents(
        g2.toDF("src", "dst"), maxPropRounds = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 80L).map(i => i -> 0L).toMap ++
      (100L until 180L).map(i => i -> 100L).toMap ++
      Map(500L -> 500L, 600L -> 600L)
    assert(got2 === want)
  }

  test("coreness: auto mode with a zero-round peel is refused up front") {
    // maxK = 0 + maxRoundsPerK = 0 can never reach the peel-to-empty
    // early exit — the k-loop would run a Spark job per k forever
    val e = intercept[IllegalArgumentException] {
      Graph.coreness(Seq((1L, 2L)).toDF("src", "dst"), 0, 0)
    }
    assert(e.getMessage.contains("auto-degeneracy"))
  }

  test("randomWalksBiased: node2vec classes re-derive; pure-return oscillates") {
    import graft.functions.SamplingImpl.splitmix64
    // from prev=1, cur=2 the candidate classes are all live:
    // 1 = return, 3 = common (1→3 exists), 4 = explore (1→4 absent)
    val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (2L, 4L),
      (3L, 4L))
    val eset = g.toSet
    val adjm = g.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted.toIndexedSeq }
    def expect(start: Long, wk: Long, len: Int, seed: Long,
        rw: Long, cw: Long, ew: Long): Seq[Long] = {
      val wh = splitmix64(splitmix64(seed ^ start) ^ wk)
      var prev = -1L
      var cur = start
      var out = Seq(start)
      var t = 1
      var live = true
      while (t <= len && live) {
        val pos = adjm.getOrElse(cur, IndexedSeq.empty).map { d =>
          val wt =
            if (prev < 0) 1L
            else if (d == prev) rw
            else if (eset.contains((prev, d))) cw
            else ew
          (d, wt)
        }.filter(_._2 > 0)
        val tot = pos.map(_._2).sum
        if (pos.isEmpty) live = false
        else {
          val u32 = splitmix64(wh ^ t.toLong) >>> 32
          val x = (BigInt(u32) * tot / BigInt(2).pow(32)).toLong
          var acc = 0L
          var chosen = -1L
          pos.foreach { case (d, wt) =>
            if (chosen < 0 && x < acc + wt) chosen = d
            acc += wt
          }
          prev = cur; cur = chosen; out :+= cur; t += 1
        }
      }
      out
    }
    def run(rw: Long, cw: Long, ew: Long, seed: Long = 9L) =
      Graph.randomWalksBiased(g.toDF("src", "dst"), walkLength = 4,
          walksPerNode = 6, seed = seed, returnW = rw, commonW = cw,
          exploreW = ew)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    // general weights: every walk re-derives from the documented spec
    val got = run(500L, 1000L, 250L)
    got.groupBy(x => (x._1, x._2)).foreach { case ((s, wk), rows) =>
      assert(rows.sortBy(_._3).map(_._4) ===
        expect(s, wk, 4, 9L, 500L, 1000L, 250L),
        s"walk ($s,$wk) diverged")
    }
    // pure-return: a walk that steps 1→2 must oscillate 1,2,1,2;
    // one that steps 1→3 strands (no positive candidate from 3 with
    // prev=1: no return edge, 4 is neither return nor common)
    val pr = run(1000L, 0L, 0L)
    pr.groupBy(x => (x._1, x._2)).filter(_._1._1 == 1L)
      .foreach { case ((_, wk), rows) =>
        val path = rows.sortBy(_._3).map(_._4)
        if (path(1) == 2L) assert(path === Seq(1L, 2L, 1L, 2L, 1L))
        else assert(path === Seq(1L, 3L))
      }
    // partition invariance
    val again = Graph.randomWalksBiased(
        g.toDF("src", "dst").repartition(7), 4, 6, 9L, 500L, 1000L, 250L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(again.sorted === got.sorted)
  }

  private def btw(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxDepth: Int = 12): Map[Long, BigDecimal] =
    Graph.betweenness(edges.toDF("src", "dst"), seeds.toDF("id"), maxDepth)
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap

  test("betweenness: diamond dependency accumulation, hand-computed") {
    // 1→{2,3}→4→5: two equal-length routes split σ(4)=2, so the
    // Brandes ratio σ_v/σ_w = 1/2 is live on both mid nodes
    val u = BigDecimal(1000000000000L)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    // from seed 1: δ(4)=u (sole route to 5), δ(2)=δ(3)=⌊1·(u+u)/2⌋=u
    assert(btw(g, Seq(1L)) === Map(1L -> BigDecimal(0), 2L -> u,
      3L -> u, 4L -> u, 5L -> BigDecimal(0)))
    // adding seed 2 routes one more geodesic through 4 (2→4→5)
    assert(btw(g, Seq(1L, 2L)) === Map(1L -> BigDecimal(0), 2L -> u,
      3L -> u, 4L -> (u * 2), 5L -> BigDecimal(0)))
    // maxDepth=2 truncates the horizon at node 4 (δ=0 leaf): the mid
    // nodes keep only their ⌊(u+0)/2⌋ share — the documented
    // bounded-horizon semantics, never a wrong full-depth answer
    assert(btw(g, Seq(1L), maxDepth = 2) === Map(1L -> BigDecimal(0),
      2L -> u / 2, 3L -> u / 2, 4L -> BigDecimal(0),
      5L -> BigDecimal(0)))
  }

  test("betweenness: long fast-path and decimal fallback compute the same scores") {
    // r16: the backward phase runs in native long when the runtime
    // bound maxσ·unit·(1+D) < 2⁶³ holds (it does for every graph above
    // at unit 1e12 — those hand-computed specs ARE the long path).
    // Pin the DECIMAL fallback too: unit = 2⁶² makes the bound fail,
    // and on the diamond the floors are exact multiples of unit, so
    // the fallback must reproduce the identical shape scaled by
    // 2⁶²/1e12 — any divergence between the two arithmetic paths
    // breaks the equality.
    val big = 4611686018427387904L // 2^62
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = Graph.betweenness(g.toDF("src", "dst"),
        Seq(1L, 2L).toDF("id"), maxDepth = 12, unit = big)
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    val u = BigDecimal(big)
    assert(got === Map(1L -> BigDecimal(0), 2L -> u, 3L -> u,
      4L -> (u * 2), 5L -> BigDecimal(0)))
  }

  test("betweenness: direction respected, cycles, off-graph seeds, invariance") {
    val u = BigDecimal(1000000000000L)
    // 3-cycle, all nodes seeded (+99 off-graph, must contribute
    // nothing): each node is interior to exactly one 2-hop geodesic
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(btw(ring, Seq(1L, 2L, 3L, 99L)) ===
      Map(1L -> u, 2L -> u, 3L -> u))
    // reversing an edge kills the only path through it: 1→2←3 has no
    // interior node from seed 1
    assert(btw(Seq((1L, 2L), (3L, 2L)), Seq(1L)) ===
      Map(1L -> BigDecimal(0), 2L -> BigDecimal(0), 3L -> BigDecimal(0)))
    // partition invariance (exact decimal arithmetic end-to-end)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val a = btw(g, Seq(1L, 2L, 3L))
    val b = Graph.betweenness(g.toDF("src", "dst").repartition(13),
        Seq(1L, 2L, 3L).toDF("id"))
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(a === b)
  }

  private def mod(edges: Seq[(Long, Long)], assign: Seq[(Long, Long)])
      : Map[Long, (Long, Long, Long, BigDecimal)] =
    Graph.modularity(edges.toDF("src", "dst"), assign.toDF("id", "c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), BigDecimal(r.getDecimal(4))))).toMap

  test("modularity: two triangles + bridge, hand-computed q_num") {
    // triangles {1,2,3} and {4,5,6} bridged by (3,4): m=7;
    // community 10: e_in=3, d_tot=2+2+3=7 → q_num = 4·7·3 − 49 = 35
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))
    val asg = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L))
    assert(mod(g, asg) === Map(
      10L -> ((3L, 3L, 7L, BigDecimal(35))),
      20L -> ((3L, 3L, 7L, BigDecimal(35)))))
    // one community holding everything scores exactly zero:
    // 4·m·m − (2m)² = 0
    val all = (1L to 6L).map(i => (i, 1L))
    assert(mod(g, all) === Map(1L -> ((6L, 7L, 14L, BigDecimal(0)))))
  }

  test("modularityWeighted: per-edge drop then sum, exact q_num") {
    // reversed-duplicate (2,1,+3) sums into (1,2) → weight 5; the
    // NEGATIVE (5,4,−2) drops PER EDGE (the randomWalksWeighted
    // posture — the graph you walked is the graph you score), so
    // (4,5,+2) SURVIVES at weight 2 rather than net-cancelling.
    // Canonical: (1,2)=5, (2,3)=1, (1,3)=1, (4,5)=2 → W=9
    val g = Seq((1L, 2L, 2L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 1L, 1L),
      (4L, 5L, 2L), (5L, 4L, -2L))
    def mw(asg: Seq[(Long, Long)]) =
      Graph.modularityWeighted(g.toDF("src", "dst", "w"),
          asg.toDF("id", "c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), BigDecimal(r.getDecimal(4))))).toMap
    // {1,2,3} one community (w_in 7, strengths 6+6+2=14 →
    // 4·9·7 − 196 = 56); 4 and 5 unassigned singletons with only the
    // boundary edge: w_in 0, strength 2 → −4 each
    assert(mw(Seq((1L, 1L), (2L, 1L), (3L, 1L))) === Map(
      1L -> ((3L, 7L, 14L, BigDecimal(56))),
      4L -> ((1L, 0L, 2L, BigDecimal(-4))),
      5L -> ((1L, 0L, 2L, BigDecimal(-4)))))
    // partial labeling: {1,2} → 100, everything else singleton
    assert(mw(Seq((1L, 100L), (2L, 100L))) === Map(
      100L -> ((2L, 5L, 12L, BigDecimal(36))),
      3L -> ((1L, 0L, 2L, BigDecimal(-4))),
      4L -> ((1L, 0L, 2L, BigDecimal(-4))),
      5L -> ((1L, 0L, 2L, BigDecimal(-4)))))
    // a graph whose every edge nets positive under one community
    // scores exactly zero: 4·W·W − (2W)²
    val tri = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 1L))
    assert(Graph.modularityWeighted(tri.toDF("src", "dst", "w"),
        Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "c"))
      .collect().map(r => BigDecimal(r.getDecimal(4))).sum ===
      BigDecimal(0))
  }

  test("assortativity: hand-computed signs — path, star, regular") {
    def ass(edges: Seq[(Long, Long)]): (BigDecimal, BigDecimal, BigDecimal) = {
      val r = Graph.assortativity(edges.toDF("src", "dst")).head()
      (BigDecimal(r.getDecimal(0)), BigDecimal(r.getDecimal(1)),
        BigDecimal(r.getDecimal(2)))
    }
    // path 1-2-3: r = num/den = −4/4 = −1 (leaves on the hub only)
    assert(ass(Seq((1L, 2L), (2L, 3L))) ===
      ((BigDecimal(2), BigDecimal(-4), BigDecimal(4))))
    // star: perfectly disassortative, r = −36/36 = −1
    assert(ass(Seq((1L, 2L), (1L, 3L), (1L, 4L))) ===
      ((BigDecimal(3), BigDecimal(-36), BigDecimal(36))))
    // triangle: degree-regular → den = 0 returned undivided
    assert(ass(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ===
      ((BigDecimal(3), BigDecimal(0), BigDecimal(0))))
    // messy input canonicalizes (dup + reverse + self-loop)
    assert(ass(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L))) ===
      ((BigDecimal(2), BigDecimal(-4), BigDecimal(4))))
  }

  test("modularity: unassigned nodes default to singletons; messy edges") {
    // bridge node 3 unlabeled → singleton community 3 with e_in=0;
    // duplicate/reversed edges and the self-loop collapse first
    val g = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L), (1L, 1L))
    val asg = Seq((1L, 5L), (2L, 5L), (2L, 5L))
    // canonical edges: (1,2), (2,3) → m=2; community 5 {1,2}:
    // e_in=1, d_tot=1+2=3 → q_num = 4·2·1 − 9 = −1; singleton {3}:
    // e_in=0, d_tot=1 → q_num = −1; Σq_num/(4m²) = −2/16
    assert(mod(g, asg) === Map(
      5L -> ((2L, 1L, 3L, BigDecimal(-1))),
      3L -> ((1L, 0L, 1L, BigDecimal(-1)))))
  }
}
