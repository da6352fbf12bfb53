package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{Maintain, Search}

/** Scale audit for [[Search.updateIndex]]: CDC-applying a ~1%-of-docs
  * change batch to a persisted inverted index vs re-indexing the
  * upserted corpus from scratch. The update's cost model is one
  * postings scan (broadcast changed-id anti/semi joins) + indexing the
  * change batch alone + a vocabulary-sized df merge; the rebuild
  * re-tokenizes and re-shuffles every posting of every unchanged doc.
  * Both sides are timed to a full materialization of the SAME output
  * (postings+lexicon counted, df summed) so lazy plans can't hide.
  *
  * SPARK_GRAFT_SF_DIR=<dir with documents> sbt "runMain graft.tools.IndexUpdateScale"
  */
object IndexUpdateScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    // ~1% replacements (every 100th), 0.2% deletes, ~1% inserts
    val changes = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
        (col("doc_id") % 500 === 0).as("del"))
      .unionByName(docs.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"),
          lit(false).as("del")))
    val nCh = changes.count()
    System.err.println(s"[idxupdate] $sfDir docs=$n changes=$nCh")

    // the serving index is a PERSISTED artifact: build + write once,
    // read back so the update path starts from parquet like production
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idxupd").toString
    Search.writeIndex(Search.buildIndex(docs, col("doc_id"), col("text")), idxDir)
    val persisted = Search.readIndex(spark, idxDir)

    def materialize(i: Search.SearchIndex): (Long, Long) = {
      val p = i.postings.count()
      val d = i.lexicon.agg(sum(col("df"))).head().getLong(0)
      (p, d)
    }
    def time[T](reps: Int)(act: => T): (Double, T) = {
      var best = Double.MaxValue; var out: T = null.asInstanceOf[T]
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        out = act
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }

    val (tUpd, mUpd) = time(2) {
      materialize(Search.updateIndex(persisted, changes,
        col("doc_id"), col("text"), Some("del")))
    }
    val (tReb, mReb) = time(2) {
      materialize(Search.buildIndex(
        Maintain.upsert(docs, changes, "doc_id", Some("del")),
        col("doc_id"), col("text")))
    }
    require(mUpd == mReb, s"divergence: update=$mUpd rebuild=$mReb")

    // the log-structured ingest: what a DAILY maintenance pass actually
    // pays — append fresh postings/docs/tombstones + rewrite the
    // vocab-sized lexicon and stats; nothing corpus-sized rewrites.
    // Ingest ends with a DURABLE index, so the fair rival is
    // rebuild + writeIndex (the full rewrite), not the in-memory count.
    val (tMor, _) = time(1) {
      Search.appendIndexUpdate(spark, idxDir, changes,
        col("doc_id"), col("text"), version = 1L, deleteCol = Some("del"))
    }
    val (tServe, mMor) = time(2) { materialize(Search.readIndexMor(spark, idxDir)) }
    require(mMor == mReb, s"MOR divergence: mor=$mMor rebuild=$mReb")
    val rebDir = java.nio.file.Files.createTempDirectory("graft-idxreb").toString
    val (tRebW, _) = time(1) {
      Search.writeIndex(Search.buildIndex(
        Maintain.upsert(docs, changes, "doc_id", Some("del")),
        col("doc_id"), col("text")), rebDir)
    }
    println(f"idxupdate docs=$n%9d postings=${mUpd._1}%10d  update=$tUpd%6.2fs  rebuild=$tReb%6.2fs (${tReb / tUpd}%4.2fx)  morIngest=$tMor%6.2fs  rebuild+rewrite=$tRebW%6.2fs (${tRebW / tMor}%4.2fx)  morRead=$tServe%6.2fs")
    spark.stop()
  }
}
