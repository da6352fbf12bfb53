package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup

/** decontaminateBloom: exactness through the probabilistic prefilter,
  * and the map-side probe's plan shape.
  */
class DecontamBloomSpec extends SparkSpec {

  import spark.implicits._

  private def sides() = {
    val docs = Tables.load(spark, sf0001, "documents")
    (docs.filter($"doc_id" % 50 =!= 0), docs.filter($"doc_id" % 50 === 0))
  }

  test("bloom path is row-identical to the exact path") {
    val (train, eval) = sides()
    val exact = Dedup.decontaminate(train, $"doc_id", $"text", eval, $"text", 5, 3)
      .as[(Long, Long)].collect().sorted.toSeq
    val bloom = Dedup.decontaminateBloom(train, $"doc_id", $"text", eval, $"text", 5, 3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(exact.nonEmpty, "fixture must exercise a non-empty contamination set")
    assert(bloom === exact)
  }

  test("exactness holds even at an absurd fpp (pure-FP bloom)") {
    // fpp 0.9 makes the prefilter nearly useless — every FP must still
    // be removed by the exact verify join
    val (train, eval) = sides()
    val exact = Dedup.decontaminate(train, $"doc_id", $"text", eval, $"text", 5, 3)
      .as[(Long, Long)].collect().sorted.toSeq
    val loose = Dedup.decontaminateBloom(train, $"doc_id", $"text", eval, $"text", 5, 3,
        fpp = 0.9)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(loose === exact)
  }

  test("probe is a codegen'd might_contain filter on the train scan side") {
    val (train, eval) = sides()
    val plan = Dedup.decontaminateBloom(train, $"doc_id", $"text", eval, $"text", 5, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("semantic decontam: perfect precision vs brute force; hits only cross-corpus") {
    import graft.functions.Similarity
    val emb = Tables.load(spark, sf0001, "embeddings")
    val train = emb.filter($"vec_id" % 50 =!= 0)
    val eval = emb.filter($"vec_id" % 50 === 0)
    val got = Dedup.decontaminateSemantic(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", threshold = 0.3, bits = 4, tables = 2)
      .as[(Long, Long)].collect().toMap
    // brute-force truth: per-train count of eval vectors within threshold
    val truth = train.select($"vec_id".as("id"), $"embedding".as("v"))
      .crossJoin(eval.select($"vec_id".as("eid"), $"embedding".as("ev")))
      .filter(Similarity.cosine($"v", $"ev") >= 0.3)
      .groupBy($"id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty, "fixture must flag some semantic contamination")
    // precision 1.0: every flagged id is truly contaminated, and the
    // LSH candidate path can only undercount, never overcount
    got.foreach { case (id, n) =>
      assert(truth.contains(id), s"flagged id $id not in brute-force truth")
      assert(n <= truth(id), s"id $id: got $n hits > truth ${truth(id)}")
    }
    // amplification buys recall: at tables=8 (the Auto default) the
    // flagged set must cover most of the brute-force truth — at
    // θ=0.3 each hyperplane colocates with p≈0.6, so p^4≈0.13
    // per table and 1−(1−p^4)^8 ≈ 0.66 expected
    val amped = Dedup.decontaminateSemantic(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", threshold = 0.3, bits = 4, tables = 8)
      .as[(Long, Long)].collect().toMap
    assert(amped.size * 10 >= truth.size * 5,
      s"amplified recall ${amped.size}/${truth.size} below 0.5")
    assert(amped.size >= got.size)
    // asymmetry: train ids only (no eval id ever appears as output id)
    got.keys.foreach(id => assert(id % 50 != 0))
  }

  test("decontaminateReport: one train pass, per-benchmark counts ≡ per-suite decontaminate") {
    val docs = Tables.load(spark, sf001, "documents")
    val train = docs.filter($"doc_id" % 50 =!= 0 && $"doc_id" % 49 =!= 0)
    val suiteA = docs.filter($"doc_id" % 50 === 0)
    val suiteB = docs.filter($"doc_id" % 49 === 0)
    val report = Dedup.decontaminateReport(train, $"doc_id", $"text",
        Seq(("suiteA", suiteA, $"text"), ("suiteB", suiteB, $"text")), n = 5)
      .select($"id", $"benchmark", $"n_shared")
      .as[(Long, String, Long)].collect().toSet
    // each benchmark slice of the report must equal the single-suite
    // operator's counts (minShared = 1 keeps every shared doc)
    def single(suite: org.apache.spark.sql.DataFrame, name: String) =
      Dedup.decontaminate(train, $"doc_id", $"text", suite, $"text",
          n = 5, minShared = 1)
        .select($"id", $"n_shared").as[(Long, Long)].collect()
        .map { case (i, c) => (i, name, c) }.toSet
    assert(report === single(suiteA, "suiteA") ++ single(suiteB, "suiteB"))
    assert(report.nonEmpty)
    // both suites are differentially live
    assert(report.exists(_._2 == "suiteA") && report.exists(_._2 == "suiteB"))
    intercept[IllegalArgumentException] {
      Dedup.decontaminateReport(train, $"doc_id", $"text",
        Seq(("x", suiteA, $"text"), ("x", suiteB, $"text")), n = 5)
    }
  }

  test("empty eval set: nothing contaminated, no bloom-build NPE") {
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val eval = train.filter(org.apache.spark.sql.functions.lit(false))
    assert(Dedup.decontaminateBloom(train, $"doc_id", $"text",
      eval, $"text", 5, 3).count() === 0L)
  }

  test("semantic decontam auto sizes bits from the train side and stays verified") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val train = emb.filter($"vec_id" % 50 =!= 0)
    val eval = emb.filter($"vec_id" % 50 === 0)
    val auto = Dedup.decontaminateSemanticAuto(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", threshold = 0.3, targetBucket = 64, tables = 4)
      .as[(Long, Long)].collect().toMap
    val fixed = Dedup.decontaminateSemantic(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", 0.3,
        graft.functions.Similarity.autoBits(train.count(), 64), 4)
      .as[(Long, Long)].collect().toMap
    assert(auto === fixed)
  }
}
