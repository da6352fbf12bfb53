package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Maintain

/** Merge-on-read resolution overhead per corpus decade: a base
  * snapshot plus a 3-batch change log (~1% of keys touched per
  * batch), comparing (a) a plain scan of the base, (b) the resolved
  * base ⊎ log read, (c) the scan after compaction. The claim under
  * test: resolution is a PLAN whose anti-join side broadcasts (the
  * change set is small), so reading a maintained snapshot costs ~the
  * base scan, not a rewrite.
  *
  * args: [dir ...]
  */
object MorScale {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/data/sf1", "/root/repo/data/sf10")
    val spark = graft.Session.local(graft.Session.cpus(32))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    dirs.foreach { dir =>
      val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
      val n = docs.count()
      val mor = s"/tmp/graft_mor_$n"
      val fs = new org.apache.hadoop.fs.Path(mor)
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$mor/base"))) {
        docs.write.mode("overwrite").parquet(s"$mor/base")
        for (v <- 1 to 3) {
          val ch = docs.filter(pmod(col("doc_id"), lit(100L)) === (v * 7L))
            .select(col("doc_id"),
              concat(col("text"), lit(s" v$v")).as("text"),
              (pmod(col("doc_id"), lit(1000L)) === (v * 7L)).as("del"))
          Maintain.appendChanges(ch, mor, version = v.toLong, deleteCol = Some("del"))
        }
      }
      def scanAgg(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)

      var tBase = Double.MaxValue; var tRes = Double.MaxValue; var tComp = Double.MaxValue
      var rows = 0L
      for (_ <- 1 to 2) {
        val (_, b) = time(scanAgg(spark.read.parquet(s"$mor/base")))
        tBase = math.min(tBase, b)
        val (r, s) = time(scanAgg(Maintain.readSnapshot(spark, mor, "doc_id")))
        tRes = math.min(tRes, s); rows = r
      }
      Maintain.compactSnapshot(spark, mor, "doc_id", s"$mor-c")
      for (_ <- 1 to 2) {
        val (_, c) = time(scanAgg(spark.read.parquet(s"$mor-c/base")))
        tComp = math.min(tComp, c)
      }
      println(f"mor dir=$dir docs=$n resolved=$rows base=$tBase%.2f read_resolved=$tRes%.2f compacted=$tComp%.2f")
    }
    spark.stop()
  }
}
