package graft

import org.apache.spark.sql.functions._
import graft.functions.{Hll, HllImpl, Sampling, SamplingImpl}

class HllSpec extends SparkSpec {
  import spark.implicits._

  test("estimate within the 1.04/sqrt(m) envelope at p=11 on 20k distinct ids") {
    val n = 20000
    val est = spark.range(n).toDF("id")
      .agg(Hll.hllEstimate(Hll.hllSketch(Sampling.splitmix64($"id"), p = 11)))
      .head().getDouble(0)
    // sigma = 1.04/sqrt(2048) = 2.3%; 4 sigma = 9.2%
    assert(math.abs(est - n) / n < 0.092, s"est=$est")
  }

  test("low range falls back to linear counting and is near-exact") {
    val est = spark.range(50).toDF("id")
      .agg(Hll.hllEstimate(Hll.hllSketch(Sampling.splitmix64($"id"), p = 10)))
      .head().getDouble(0)
    assert(math.abs(est - 50.0) <= 2.0, s"est=$est")
  }

  test("merge of partial sketches is byte-identical to the direct sketch") {
    val df = spark.range(10000).toDF("id")
      .withColumn("part", pmod($"id", lit(7)))
    val direct = df
      .agg(Hll.hllSketch(Sampling.splitmix64($"id"), p = 9)).head().getAs[Array[Byte]](0)
    val merged = df.groupBy($"part")
      .agg(Hll.hllSketch(Sampling.splitmix64($"id"), p = 9).as("sk"))
      .agg(Hll.hllMerge($"sk")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, merged))
  }

  test("merge is idempotent: re-merging a shard changes nothing") {
    val sk = spark.range(1000).toDF("id")
      .agg(Hll.hllSketch(Sampling.splitmix64($"id"), p = 8).as("sk"))
      .head().getAs[Array[Byte]](0)
    val twice = Seq(sk, sk).toDF("sk")
      .agg(Hll.hllMerge($"sk")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sk, twice))
  }

  test("estimate of duplicated data equals estimate of distinct data") {
    val ids = spark.range(5000).toDF("id")
    val dup = ids.union(ids).union(ids)
    def est(df: org.apache.spark.sql.DataFrame) =
      df.agg(Hll.hllEstimate(Hll.hllSketch(Sampling.splitmix64($"id"), p = 10)))
        .head().getDouble(0)
    assert(est(ids) === est(dup))
  }

  test("mismatched p sketches refuse to merge") {
    val a = new Array[Byte](256)
    val b = new Array[Byte](512)
    val e = intercept[IllegalArgumentException](HllImpl.mergeInto(a, b))
    assert(e.getMessage.contains("different p"))
  }

  test("streaming running distinct: final estimate bit-equals the batch estimate") {
    import graft.connectors.Testing
    import graft.streaming.{StreamingHll, StreamingOps}
    // max over per-batch emissions = the final (full-data) estimate:
    // registers only grow, and on this corpus the estimator is
    // monotone across the LC->raw switch
    val rows = (0L until 3000L).map(i =>
      ("k" + (i % 2), graft.functions.SamplingImpl.splitmix64(i)))
    val src = Testing.testingSource[(String, Long)](spark)
    src.addBatch(rows.take(1000): _*)
    src.addBatch(rows.slice(1000, 2000): _*)
    src.addBatch(rows.drop(2000): _*)
    val out = StreamingHll.runningDistinct(src.toDS(), p = 9)
    val got = StreamingOps.runToMemory(out, "shll").as[(String, Double)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    val want = rows.toDF("k", "h").groupBy($"k")
      .agg(Hll.hllEstimate(Hll.hllSketch($"h", p = 9)).as("est"))
      .as[(String, Double)].collect().toMap
    assert(got === want)
  }

  test("hllMerge2 scalar ≡ aggregate merge, bit-for-bit; nulls propagate") {
    // two disjoint shard sketches: folding one into the other with the
    // scalar expression must produce the SAME bytes as the grouped
    // register-max over both — the delta-then-fold equivalence the
    // frontier-pruned HyperBall rests on
    val a = (0L until 500L).map(i => ("s", SamplingImpl.splitmix64(i)))
    val b = (500L until 900L).map(i => ("s", SamplingImpl.splitmix64(i)))
    def sk(rows: Seq[(String, Long)]) =
      rows.toDF("k", "h").groupBy($"k")
        .agg(Hll.hllSketch($"h", p = 8).as("sk"))
    val both = sk(a ++ b).select($"sk").as[Array[Byte]].head()
    val folded = sk(a).withColumnRenamed("sk", "ska")
      .crossJoin(sk(b).select($"sk".as("skb")))
      .select(Hll.hllMerge2($"ska", $"skb")).as[Array[Byte]].head()
    assert(folded.toSeq === both.toSeq)
    // idempotent: merging a sketch with itself is the identity
    val sa = sk(a).select(Hll.hllMerge2($"sk", $"sk").as("m"), $"sk")
      .as[(Array[Byte], Array[Byte])].head()
    assert(sa._1.toSeq === sa._2.toSeq)
    // null propagates
    val n = sk(a).select(Hll.hllMerge2($"sk", lit(null).cast("binary")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("sketch aggregation partial-merges map-side (sketches cross the exchange, not rows)") {
    val plan = spark.range(1000).toDF("id")
      .withColumn("g", pmod($"id", lit(3)))
      .groupBy($"g").agg(Hll.hllSketch(Sampling.splitmix64($"id"), p = 8))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_hll_sketch") || plan.contains("hll_sketch"), plan)
    val aggs = "(?i)objecthashaggregate|sortaggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final aggregate nodes:\n$plan")
  }
}
