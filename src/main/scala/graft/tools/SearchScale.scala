package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Search, Text}

/** Decade scaling for the retrieval family (Search.scala):
  *
  *   - `build`: inverted-index build + persist (explode → two hash
  *     aggs → term-partitioned parquet) per corpus decade.
  *   - `serve`: BM25 top-10 for a 1000-query batch against the
  *     persisted index — the broadcast-query/no-corpus-shuffle path —
  *     plus a 50-query selective batch A/B'd WITH vs WITHOUT term
  *     pushdown (the IN-filter row-group pruning the term-sorted
  *     layout exists for).
  *
  * args: [mode] [dir ...] — each dir is one scale point.
  */
object SearchScale {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "serve"
    val dirs =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("/root/testdata/sf0.1", "/root/repo/data/sf1", "/root/repo/data/sf10")
    val spark = graft.Session.local(graft.Session.cpus(32))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    dirs.foreach { dir =>
      val docs = Tables.load(spark, dir, "documents")
      val n = docs.count()
      val idxDir = s"/tmp/graft_searchidx_${n}"
      // materialize the batch by COUNT (sparse scaled ids break any
      // modulo derivation — the sf100 ids are multiples of 1e8, so
      // `% 1M == 0` matched ~1000 docs, not 5): serving receives a
      // small query relation as INPUT; deriving it lazily from the
      // corpus would re-scan the 5M-doc table once per reference
      def queries(nq: Int) = {
        import spark.implicits._
        docs.select(col("doc_id").as("qid"),
            array_join(slice(Text.tokens(col("text")), 3, 4), " ").as("qtext"))
          .orderBy(col("qid")).limit(nq)
          .as[(Long, String)].collect().toSeq.toDF("qid", "qtext")
      }

      mode match {
        case "build" =>
          var best = Double.MaxValue
          var postings = 0L
          for (_ <- 1 to 2) {
            val (p, sec) = time {
              val idx = Search.buildIndex(docs, col("doc_id"), col("text"))
              Search.writeIndex(idx, idxDir)
              spark.read.parquet(s"$idxDir/postings").count()
            }
            best = math.min(best, sec); postings = p
          }
          println(f"build dir=$dir docs=$n postings=$postings sec=$best%.2f")

        case "serve" =>
          if (!new java.io.File(s"$idxDir/stats").exists()) {
            val idx = Search.buildIndex(docs, col("doc_id"), col("text"))
            Search.writeIndex(idx, idxDir)
          }
          // throughput batch: ~1000 queries, full-join serving
          var bestQ = Double.MaxValue
          var rows = 0L
          for (_ <- 1 to 2) {
            val (r, sec) = time {
              val idx = Search.readIndex(spark, idxDir)
              Search.bm25TopK(idx, queries(1000), col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bestQ = math.min(bestQ, sec); rows = r
          }
          println(f"serve dir=$dir docs=$n batch=~1000 rows=$rows sec=$bestQ%.2f")
          // selective batch: 50 queries, pushdown vs full-scan A/B
          val sel = queries(50)
          var bestPush = Double.MaxValue
          var bestFull = Double.MaxValue
          for (_ <- 1 to 2) {
            val (_, sp) = time {
              Search.bm25TopKIndexed(spark, idxDir, sel, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bestPush = math.min(bestPush, sp)
            val (_, sf) = time {
              val idx = Search.readIndex(spark, idxDir)
              Search.bm25TopK(idx, sel, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bestFull = math.min(bestFull, sf)
          }
          println(f"serve_sel dir=$dir docs=$n batch=50 pushdown=$bestPush%.2f full=$bestFull%.2f")
          // point-lookup regime: 5 queries (~20 terms) — where the
          // row-group pruning has something to skip
          val vocab = spark.read.parquet(s"$idxDir/lexicon").count()
          val pt = queries(5)
          var bp = Double.MaxValue; var bf = Double.MaxValue
          for (_ <- 1 to 2) {
            val (_, sp) = time {
              Search.bm25TopKIndexed(spark, idxDir, pt, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bp = math.min(bp, sp)
            val (_, sf) = time {
              val idx = Search.readIndex(spark, idxDir)
              Search.bm25TopK(idx, pt, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bf = math.min(bf, sf)
          }
          println(f"serve_pt dir=$dir docs=$n vocab=$vocab batch=5 pushdown=$bp%.2f full=$bf%.2f")

        case "prox" =>
          // proximity (NEAR/12) serving across corpus decades. The
          // claim under test is the operator's 100 TB contract: serve
          // cost is bounded by the QUERY TERMS' posting mass (the IN
          // prune + doc-keyed pair join), not the corpus size.
          // ScaleData suffixes every token per replica (~r<i>), so the
          // base triple's posting mass is CONSTANT while the corpus
          // decades underneath it — the serve curve should stay flat
          // once the postings scan itself is paid (reported
          // separately: prune_sec measures the term-pruned scan from
          // cold postings, serve_sec the pair join from the pruned
          // cache).
          val pp = Search.positionalPostings(docs, col("doc_id"),
            col("text"))
          val (toks, scanSec) = time(pp.count())
          val terms = Seq("scan", "hash", "join")
          var bestPrune = Double.MaxValue
          for (_ <- 1 to 2) {
            val (_, sec) = time {
              pp.filter(col("term").isin(terms: _*)).count()
            }
            bestPrune = math.min(bestPrune, sec)
          }
          val pruned = pp.filter(col("term").isin(terms: _*)).cache()
          pruned.count()
          var bestP = Double.MaxValue
          var hits = 0L
          for (_ <- 1 to 2) {
            val (h, sec) = time {
              Search.proximityDocs(pruned, terms, windowTokens = 12)
                .count()
            }
            bestP = math.min(bestP, sec); hits = h
          }
          println(f"prox dir=$dir docs=$n tokens=$toks token_sec=$scanSec%.2f prune_sec=$bestPrune%.2f hits=$hits serve_sec=$bestP%.2f")
          pruned.unpersist(false)

        case "prune" =>
          // the pushdown mechanism on an OPEN vocabulary (each doc
          // carries mostly doc-unique terms, the web-corpus shape —
          // the testdata's 3k closed vocab makes every term common, so
          // an IN list can prune almost nothing there)
          val wide = docs.select(col("doc_id"),
            concat_ws(" ",
              concat(lit("u"), col("doc_id"), lit("a")),
              concat(lit("u"), col("doc_id"), lit("b")),
              concat(lit("u"), col("doc_id"), lit("c")),
              concat(lit("shared"), pmod(col("doc_id"), lit(100))),
              concat(lit("u"), col("doc_id"), lit("d"))).as("text"))
          val wDir = s"/tmp/graft_searchidx_wide_$n"
          if (!new java.io.File(s"$wDir/stats").exists())
            Search.writeIndex(Search.buildIndex(wide, col("doc_id"), col("text")), wDir)
          val vocabW = spark.read.parquet(s"$wDir/lexicon").count()
          val qs = {
            import spark.implicits._
            wide.select(col("doc_id").as("qid"), col("text").as("qtext"))
              .orderBy(col("qid")).limit(5)
              .as[(Long, String)].collect().toSeq.toDF("qid", "qtext")
          }
          var bp2 = Double.MaxValue; var bf2 = Double.MaxValue
          for (_ <- 1 to 2) {
            val (_, sp) = time {
              Search.bm25TopKIndexed(spark, wDir, qs, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bp2 = math.min(bp2, sp)
            val (_, sf) = time {
              val idx = Search.readIndex(spark, wDir)
              Search.bm25TopK(idx, qs, col("qid"), col("qtext"), k = 10)
                .agg(count(lit(1)), sum(col("score"))).collect()(0).getLong(0)
            }
            bf2 = math.min(bf2, sf)
          }
          println(f"prune dir=$dir docs=$n vocab=$vocabW batch=5 pushdown=$bp2%.2f full=$bf2%.2f")

        case "debug" =>
          val wide = docs.select(col("doc_id"),
            concat_ws(" ",
              concat(lit("u"), col("doc_id"), lit("a")),
              concat(lit("shared"), pmod(col("doc_id"), lit(100)))).as("text"))
          val wDir = s"/tmp/graft_searchidx_wide_$n"
          val idx = Search.readIndex(spark, wDir)
          val (_, tPost) = time(idx.postings.agg(count(lit(1))).collect())
          println(f"debug postings_count=$tPost%.2f")
          val (_, tLex) = time(idx.lexicon.agg(count(lit(1))).collect())
          println(f"debug lexicon_count=$tLex%.2f")
          val qs = {
            import spark.implicits._
            Seq((0L, "u0a u0b u0c shared0 u0d")).toDF("qid", "qtext")
          }
          val qt = qs.select(col("qid"),
            explode(array_distinct(Text.tokens(col("qtext")))).as("term"))
          val (_, tQdf) = time(
            idx.lexicon.join(broadcast(qt), Seq("term")).collect())
          println(f"debug lexicon_join=$tQdf%.2f")
          val qdf = idx.lexicon.join(broadcast(qt), Seq("term"))
          val (_, tJ) = time(
            idx.postings.join(broadcast(qdf), Seq("term")).agg(count(lit(1))).collect())
          println(f"debug postings_join=$tJ%.2f")
          val (_, tAll) = time(
            Search.bm25TopK(idx, qs, col("qid"), col("qtext"), k = 10)
              .agg(count(lit(1))).collect())
          println(f"debug full_serve=$tAll%.2f")
          val qs5 = {
            import spark.implicits._
            (0 until 5).map { i =>
              val id = i * 1000000L
              (id, s"u${id}a u${id}b u${id}c shared${id % 100} u${id}d")
            }.toDF("qid", "qtext")
          }
          val (_, t5) = time(
            Search.bm25TopK(idx, qs5, col("qid"), col("qtext"), k = 10)
              .agg(count(lit(1))).collect())
          println(f"debug serve5=$t5%.2f")
          val (_, t5s) = time(
            Search.bm25TopK(idx, qs5, col("qid"), col("qtext"), k = 10)
              .agg(count(lit(1)), sum(col("score"))).collect())
          println(f"debug serve5_sum=$t5s%.2f")
          val (_, t5i) = time(
            Search.bm25TopKIndexed(spark, wDir, qs5, col("qid"), col("qtext"), k = 10)
              .agg(count(lit(1)), sum(col("score"))).collect())
          println(f"debug serve5_indexed=$t5i%.2f")
      }
    }
    spark.stop()
  }
}
