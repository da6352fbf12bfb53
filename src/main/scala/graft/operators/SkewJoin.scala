package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for hot-key fact⋈dim joins — the join-side skew
  * fix for the case AQE cannot handle (MEASURED, tools/SkewProbe, probe
  * removed; source at `9a1e704`, at
  * 100M fact rows with one key owning 40%): a skewed join FEEDING A
  * SAME-KEY AGGREGATION defeats `OptimizeSkewedJoin` — splitting the
  * hot partition would violate the aggregation's required
  * distribution, so AQE declines (21.2 s naive, 20.1 s AQE, 20.7 s
  * even with `forceOptimizeSkewedJoin`), while 16-way salting runs
  * the same plan in 10.1 s (2.1×) — and the gap GROWS with
  * parallelism: the hot task is the stage, and a cluster with 1000
  * cores still waits on that one task.
  *
  * Shape: the fact side gains a salt in [0, salt), the dim side
  * replicates `salt`-fold (dim × a `spark.range(salt)` cross — the
  * dim of a genuinely skewed join is small relative to the fact, and
  * the replication is the price of splitting the hot key across
  * `salt` reducers), and the join key becomes (keys…, salt). Output
  * is row-identical to the unsalted join: every fact row matches
  * exactly the dim rows it matched before (its salt value selects one
  * replica), so the salt value itself never affects WHAT matches,
  * only WHERE it executes — which is why a cheap nondeterministic
  * salt (partition id + row position) is safe under task retries: a
  * recomputed row may draw a new salt and still joins correctly.
  *
  * Inner and left joins only: with the DIM side replicated, right and
  * full outer joins would emit each UNMATCHED dim row `salt` times
  * (matched rows are fine — they join their replica exactly once per
  * matching fact row). The operator rejects those join types rather
  * than silently duplicating.
  *
  * When NOT to use this: if the dim broadcasts, broadcast it (no
  * shuffle at all beats a salted shuffle); if the join result is NOT
  * re-aggregated on the join key, plain AQE skew-join already splits
  * the hot partition without the replication cost. This operator is
  * for the join→same-key-agg pipeline at dim sizes past the broadcast
  * threshold — the shape every per-key enrichment + rollup job has.
  */
object SkewJoin {

  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      salt: Int = 16, joinType: String = "inner"): DataFrame = {
    require(salt >= 2, s"salt must be >= 2 (1 is a plain join), got $salt")
    require(keys.nonEmpty, "saltedJoin needs at least one key column")
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter").contains(jt),
      s"saltedJoin supports inner/left joins only (a replicated dim side " +
        s"would duplicate unmatched right rows), got $joinType")
    val spark = fact.sparkSession
    val saltCol = "__graft_salt"
    val salted = fact.withColumn(saltCol,
      pmod(spark_partition_id().cast("long") + monotonically_increasing_id(),
        lit(salt.toLong)))
    val dimRep = dim.crossJoin(
      spark.range(salt.toLong).select(col("id").as(saltCol)))
    salted.join(dimRep, keys :+ saltCol, joinType).drop(saltCol)
  }

  /** [[saltedJoin]] with a Column-based extra condition is deliberately
    * absent: salting only helps EQUI-joins (the salt must be part of
    * the hash-partition key); range/θ-joins route through
    * [[RangeJoin]]'s binning instead.
    */
  def saltedJoinAuto(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "inner"): DataFrame =
    // 2× parallelism: every core gets ~2 splinters of the hot key, so
    // one straggler splinter cannot re-serialize the stage
    saltedJoin(fact, dim, keys,
      math.max(2, fact.sparkSession.sparkContext.defaultParallelism * 2),
      joinType)
}
