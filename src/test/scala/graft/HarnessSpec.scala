package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring harness: one house session builder, and Bench's loop
  * keeping a gate that throws out of the timings.
  */
class HarnessSpec extends SparkSpec {

  test("only Session.scala builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString)
      .filterNot(_ == "Session.scala")
      .filter(f => new String(java.nio.file.Files.readAllBytes(root.resolve(f)),
        "UTF-8").contains("SparkSession.builder"))
      .toSeq.sorted
    assert(offenders.isEmpty, s"SparkSession.builder outside Session.scala: $offenders")
  }

  test("Bench: a gate that throws is listed as failed and never timed") {
    val gates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(100).toDF()),
      // fails inside the action, as a broken gate does, after a short
      // run that would otherwise read as a fast time
      "boom" -> ((s, _) => s.range(1).selectExpr("raise_error('boom') AS x")))
    val (timed, failed, gcSecs) = Bench.measure(spark, sf0001, gates, reps = 2)
    assert(timed.map(_.name) === Seq("ok"))
    assert(timed.head.reps.size === 2)
    assert(timed.head.reps.contains(timed.head.median))
    assert(failed === Seq("boom"))
    assert(gcSecs > 0.0)
  }
}
