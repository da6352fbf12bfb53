package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic data scaler: replicates the driver's sf0.1 tables
  * `factor`× with re-unique'd keys, producing a larger scale point for
  * load-testing the bench (the driver only ships sf<=0.1).
  *
  * Scaling semantics — the goal is "same distributions, N× the data",
  * NOT "N copies of the same rows", because verbatim copies corrupt the
  * workloads that are sensitive to duplication:
  *
  *   - Facts/dims (customer/orders/lineitem/part/supplier): replica i
  *     shifts every key by i*OFFSET, preserving FK joins replica-locally
  *     (orders of replica i reference customers of replica i). region/
  *     nation stay as-is — real dims don't grow with fact volume.
  *   - events: replica i shifts user_id/event_id, so the key cardinality
  *     grows N× while per-key event counts, session shapes and the time
  *     range stay identical (window state per key is what must NOT grow).
  *   - documents: replica i>0 suffixes every whitespace token with "~r<i>"
  *     and shifts doc_id. Near-dup structure WITHIN a replica is preserved
  *     exactly (all docs transformed alike); across replicas the shingle
  *     sets are disjoint, so duplicate density stays constant and dedup
  *     pair counts scale linearly — replicating text verbatim would make
  *     every doc a 10-clique of itself and measure an O(N²) artifact of
  *     the generator, not the engine.
  *   - embeddings: replica i circularly shifts the vector by i positions
  *     (a new, essentially uncorrelated direction for random embeddings)
  *     and shifts vec_id, so LSH/IVF buckets fill N× wider rather than
  *     N× deeper with identical points.
  *
  * Usage: SPARK_GRAFT_SCALE_SRC / _DST / _FACTOR env vars, defaults
  * /root/testdata/sf0.1 -> /root/repo/data/sf1 at 10x.
  * SPARK_GRAFT_SCALE_TABLES (comma list) restricts output to named
  * tables — e.g. "documents,embeddings" for the sf10 heavy-tail point,
  * where scaling 100× of lineitem would only burn disk.
  */
object ScaleData {
  // Override when RE-scaling an already-scaled dir: the second pass's
  // shifts must clear the first pass's whole id range or replica ids
  // collide (measured: sf10 -> x10 at the default offset left only
  // 545k distinct doc_ids out of 5M rows).
  private val Offset =
    sys.env.getOrElse("SPARK_GRAFT_SCALE_OFFSET", "100000000").toLong

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST", "/root/repo/data/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    // events.ts may be TIMESTAMP(NANOS): the house session reads it as a
    // raw long, written back as INT64, which Tables.loadEvents's
    // `ts div 1000` also accepts.
    val spark = graft.Session.local(32)

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // df is by-name: with SPARK_GRAFT_SCALE_TABLES restricting output,
    // the source dir may not even CONTAIN the skipped tables (e.g.
    // scaling sf10's documents-only dir), so nothing may touch them
    def write(df: => DataFrame, name: String, parts: Int): Unit =
      if (wanted(name))
        df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // Cross-join each table with rep=0..factor-1, then re-key.
    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).toDF("rep").hint("broadcast"))

    def rekeyed(df: DataFrame, keys: String*): DataFrame = {
      val shifted = keys.foldLeft(replicate(df)) { case (d, k) =>
        d.withColumn(k, col(k) + col("rep") * Offset)
      }
      shifted.drop("rep")
    }

    // Dims stay fixed-size.
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(rekeyed(read("customer"), "c_custkey"), "customer", 4)
    write(rekeyed(read("supplier"), "s_suppkey"), "supplier", 1)
    write(rekeyed(read("part"), "p_partkey"), "part", 2)
    write(rekeyed(read("orders"), "o_orderkey", "o_custkey"), "orders", 8)
    write(rekeyed(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem", 16)
    write(rekeyed(read("events"), "event_id", "user_id"), "events", 8)

    lazy val docs = replicate(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("rep") * Offset)
      // Suffix every token with 4 hex chars of md5(word, replica): the
      // suffix varies per WORD, not just per replica, so cross-replica
      // token hashes fully decorrelate (a constant per-replica suffix
      // like "~r3" leaves FNV-1a values differing by small multiples of
      // the prime — measured: it manufactured 1.3M cross-replica
      // simhash pairs at 10× that the real corpus doesn't have). Within
      // a replica the mapping is deterministic per word, so shingle/
      // near-dup structure is preserved exactly.
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              w => concat(w, lit("~"),
                substring(md5(concat(w, lit("#"), col("rep").cast("string"))), 1, 4))),
            " ")))
      .withColumn("n_chars", length(col("text")))
      .drop("rep")
    write(docs, "documents", if (factor >= 100) 32 else 4)

    // Circular shift repeats once rep reaches the dimension count (64):
    // rep 64 would clone rep 0 verbatim and manufacture exact-dup
    // artifacts at factor > 64. Shift by rep mod dim and flip the sign
    // on every wrap — shift+negation yields 2·dim distinct transforms,
    // all essentially uncorrelated directions for random embeddings.
    lazy val emb = replicate(read("embeddings"))
      .withColumn("vec_id", col("vec_id") + col("rep") * Offset)
      .withColumn("embedding", {
        val e = col("embedding")
        val dim = size(e)
        val r = (col("rep").cast("int") % dim)
        val shifted = when(r === 0, e).otherwise(
          concat(slice(e, r + 1, dim - r), slice(e, lit(1), r)))
        when((col("rep").cast("int") / dim) % 2 === 1,
          transform(shifted, x => -x)).otherwise(shifted)
      })
      .drop("rep")
    write(emb, "embeddings", if (factor >= 100) 8 else 2)

    println(s"scaled $src -> $dst x$factor")
    spark.stop()
  }
}
