package graft.tools

import org.apache.spark.sql.functions._

/** Scale/stress harness for Dedup.connectedComponents: build a
  * synthetic graph (random or worst-case chain), contract it, and
  * validate the result DISTRIBUTEDLY — no driver-side union-find:
  *
  *  - rep(id) <= id (reps are component minima candidates)
  *  - rep(rep(id)) = rep(id) (the mapping is idempotent / a star)
  *  - both endpoints of every input edge map to the same rep
  *    (the mapping respects connectivity)
  *
  * Idempotence + edge-consistency + minimality together pin the exact
  * fixpoint, so this validates million-edge graphs where the gate
  * oracle's recursive CTE cannot go.
  *
  * args: [edges (default 1,000,000)] [shape: random|chain]
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val nEdges = if (args.length > 0) args(0).toLong else 1000000L
    val shape = if (args.length > 1) args(1) else "random"
    val cpus = graft.Session.cpus(32)
    val spark = graft.Session.local(cpus, "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))

    val edges = shape match {
      case "chain" =>
        spark.range(nEdges).select(col("id").as("i"), (col("id") + 1).as("j"))
      case _ =>
        // ~2x nodes as edges so components are plentiful but non-trivial
        val n = nEdges * 2
        spark.range(nEdges).select(
          pmod(xxhash64(col("id")), lit(n)).as("i"),
          pmod(xxhash64(col("id"), lit(1)), lit(n)).as("j"))
    }

    val t0 = System.nanoTime()
    val cc = graft.functions.Dedup.connectedComponents(edges).cache()
    val members = cc.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val badMin = cc.filter(col("rep") > col("id")).count()
    val self = cc.select(col("id").as("i2"), col("rep").as("r2"))
    val badIdem = cc.join(self, cc("rep") === self("i2"))
      .filter(col("r2") =!= col("rep")).count()
    val e2 = edges.toDF("u", "v").filter(col("u") =!= col("v"))
    val badEdge = e2
      .join(cc.select(col("id").as("u"), col("rep").as("ru")), "u")
      .join(cc.select(col("id").as("v"), col("rep").as("rv")), "v")
      .filter(col("ru") =!= col("rv")).count()
    val comps = cc.select(col("rep")).distinct().count()

    println(f"""{"edges":$nEdges,"shape":"$shape","members":$members,"components":$comps,"sec":$sec%.1f,"bad_min":$badMin,"bad_idempotent":$badIdem,"bad_edge":$badEdge}""")
    require(badMin == 0 && badIdem == 0 && badEdge == 0, "invariant violation")
    spark.stop()
  }
}
