package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental pairs == full-corpus pairs minus old×old") {
    val docs = Tables.load(spark, sf0001, "documents")
    val newD = docs.filter($"doc_id" % 3 === 0)
    val oldD = docs.filter($"doc_id" % 3 =!= 0)
    val inc = Dedup.minhashLshPairsIncremental(newD, oldD, $"doc_id", $"text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val full = Dedup.minhashLshPairs(docs, $"doc_id", $"text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val want = full.filter { case (i, j) => i % 3 == 0 || j % 3 == 0 }
    assert(inc === want)
    assert(want.nonEmpty && want.size < full.size,
      "fixture must have both new-touching and old-only pairs")
  }
}
