package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Bloom, Rounds}

/** Bloom-reduced equi-join — the semi-join reduction for the
  * "medium dim" regime: the build side is too big to broadcast as a
  * hash join (tens of millions of keys = GBs of hashed rows), but its
  * BLOOM FILTER (~1.2 bytes/key at 1% fpp) broadcasts fine, so the
  * probe side drops non-matching rows MAP-SIDE, before its shuffle —
  * at 100 TB the shuffle-bytes cut is the whole game: a fact table
  * where only 5% of rows match sheds 95% of its exchange.
  *
  * Output is row-identical to the plain join: a Bloom filter has no
  * false negatives (no matching row is ever dropped), and its false
  * positives are eliminated by the exact join that still runs. The
  * filter is therefore pure PERFORMANCE, spec-pinned by forcing a
  * tiny, collision-heavy filter and asserting output equality.
  *
  * Scope vs Spark's runtime bloom filter — measured BOTH ways. When
  * the build side carries a selective FILTER PREDICATE in the same
  * plan, Spark 4's `runtime.bloomFilter` injection already builds and
  * pushes the filter below the probe exchange, and a hand prefilter
  * only adds cost (tools/RfProbe, probe removed; source at `9a1e704`;
  * SCALE.md "a refuted hypothesis" —
  * don't use this operator there). Injection never fires when the
  * build side's selectivity is NOT a predicate the optimizer can see:
  * an aggregated/distinct build, a loaded allowlist relation, a
  * persisted/checkpointed branch, or a filter built in ANOTHER JOB.
  * tools/BloomProbe (probe removed; source at `9a1e704`) measured exactly
  * that shape at stock defaults
  * (runtime filters ON): the plain join's probe exchange is uncut,
  * this operator cuts it 6×. The sketch is the mergeable [[Bloom]]
  * column, so one filter (or an OR-merge of per-shard filters) can
  * reduce MANY probe scans via [[reduceByBloom]] without re-scanning
  * the build side.
  *
  * Join types: inner and left_semi only — the probe side is
  * pre-filtered, so join types that keep unmatched probe rows (left
  * outer) would lose rows. The build side is never filtered.
  *
  * Sizing: `expectedKeys` defaults to ONE count() of the build side
  * (an action on the SMALL side — documented, not hidden); a
  * non-distinct count only oversizes the filter, lowering the fpp.
  */
object BloomJoin {

  private def keyHash(keys: Seq[String]): Column =
    xxhash64(keys.map(col): _*)

  /** Build a Bloom filter over `build`'s join keys and drop probe
    * rows whose keys cannot match — the reusable half of
    * [[bloomReduceJoin]]. Returns the filtered probe; no join runs.
    * Rows with a NULL key component may drop (an equi-join could
    * never match them anyway).
    *
    * The sketch is materialized with a one-row collect (the bounded
    * model-fit pattern: ~1.2 bytes/key at 1% fpp — 100M build keys is
    * a 120 MB artifact riding the stage's task broadcast) and injected
    * as a LITERAL: a codegen'd constant reference, evaluated zero
    * times per row. The broadcast-relation formulation reads the same
    * — but its generated filter re-extracts the sketch bytes from the
    * joined row per probe row, a filter-sized memcpy per row that
    * measured 12× slower than the plain join it was supposed to beat
    * (tools/BloomProbe caught it; probe removed; source at `9a1e704`).
    * Build sides past ~100M keys should
    * raise `fpp` or pass a capped `expectedKeys`.
    */
  def reduceByBloom(probe: DataFrame, build: DataFrame, keys: Seq[String],
      fpp: Double = 0.01, expectedKeys: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "reduceByBloom needs at least one key column")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = math.max(1L, expectedKeys.getOrElse(build.count()))
    val sketch = build
      .agg(Bloom.bloomSketchAuto(keyHash(keys), n, fpp).as("__graft_bf"))
      .collect()(0).getAs[Array[Byte]](0)
    if (sketch == null) probe.filter(lit(false))
    else probe.filter(Bloom.bloomContains(lit(sketch), keyHash(keys)))
  }

  /** The reduced exact join: [[reduceByBloom]] then the plain
    * equi-join. Row-identical to `probe.join(build, keys, joinType)`.
    * Eager on the build side: it is stored (a [[Rounds]] mark) when the
    * join is called, and the stored build follows the result's lifetime.
    */
  def bloomReduceJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      joinType: String = "inner", fpp: Double = 0.01,
      expectedKeys: Option[Long] = None): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "leftsemi", "semi").contains(jt),
      s"bloomReduceJoin supports inner/left_semi joins only (the probe " +
        s"side is pre-filtered, so outer probe rows would be lost), got $joinType")
    // the build side is read twice more after its mark (the sketch
    // collect, the exact join): the mark runs its lineage once, and its
    // row count sizes the sketch unless the caller passed a size
    Rounds.run(build, "bloomReduceJoin") { rounds =>
      val (b, n) = rounds.markN(build)
      reduceByBloom(probe, b, keys, fpp, expectedKeys.orElse(Some(n)))
        .join(b, keys, joinType)
    }
  }
}
