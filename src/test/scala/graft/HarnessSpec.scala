package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring harness: one house session builder, and Bench's loop
  * keeping a gate that throws out of the timings.
  */
class HarnessSpec extends SparkSpec {

  /** (path relative to src/main/scala/graft, text) of every source
    * file there except Session.scala. */
  private def librarySources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString)
      .filterNot(_ == "Session.scala")
      .toSeq.sorted
      .map(f => f -> new String(java.nio.file.Files.readAllBytes(root.resolve(f)), "UTF-8"))
  }

  test("only Session.scala builds a SparkSession") {
    val offenders = librarySources.collect {
      case (f, text) if text.contains("SparkSession.builder") => f }
    assert(offenders.isEmpty, s"SparkSession.builder outside Session.scala: $offenders")
  }

  test("only Session.scala sets session conf") {
    // library code may read, check or log a setting, never set one or
    // define a conf key of its own; comment lines may still name them
    def code(text: String) = text.split("\n").iterator.map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
    val setters = librarySources.collect { case (f, text) if code(text).exists(l =>
      l.contains(".conf.set(") || l.contains(".conf.unset(")) => f }
    assert(setters.isEmpty, s"session conf set outside Session.scala: $setters")
    val keys = librarySources.collect {
      case (f, text) if code(text).exists(_.contains("\"spark.graft.")) => f }
    assert(keys.isEmpty, s"graft conf keys defined: $keys")
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
