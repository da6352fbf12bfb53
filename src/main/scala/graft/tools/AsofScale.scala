package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AsofJoin, RangeJoin}

/** Scale audit for the as-of and range joins: the operators' plans
  * (one exchange + window; binned equi-join) vs the naive non-equi
  * formulations Catalyst would otherwise run (candidate-explosion
  * join + per-key max; BroadcastNestedLoopJoin). Run at sf0.1 and the
  * sf1/sf10 scale-ups (`ScaleData` with SPARK_GRAFT_SCALE_TABLES=events)
  * to see the gap widen with the square of per-key history.
  *
  * SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_NAIVE=0] sbt "runMain graft.tools.AsofScale"
  */
object AsofScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val naive = sys.env.getOrElse("SPARK_GRAFT_NAIVE", "1") == "1"
    // the BNLJ comparison is O(|L|*|R|) — separately skippable at SFs
    // where it would run for hours
    val rangeNaive = naive && sys.env.getOrElse("SPARK_GRAFT_RANGE_NAIVE", "1") == "1"
    val spark = graft.Session.local(32)

    val ev = Tables.load(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("r_uid"), col("ts").as("r_ts"))
      .agg(max(col("value")).as("r_value"))
    val nL = clicks.count(); val nR = purchases.count()
    System.err.println(s"[asofscale] $sfDir clicks=$nL purchases=$nR")

    def time(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"tool":"asof_scale","q":"$name","sf":"$sfDir","left":$nL,"right":$nR,"sec":$dt%.3f}""")
    }

    def asofPair(suffix: String, l: DataFrame, r: DataFrame): Unit = {
      time(s"asof_window$suffix") {
        AsofJoin.asof(l, r, Seq("user_id" -> "r_uid"), "ts", "r_ts")
      }
      if (naive) time(s"asof_naive_candidates$suffix") {
        // the plan the operator exists to avoid: every (event, earlier
        // version) candidate pair materializes through the join, then a
        // per-event max picks the winner
        val cand = l.join(r,
          col("user_id") === col("r_uid") && col("r_ts") <= col("ts"), "left")
        cand.groupBy(col("event_id"), col("user_id"), col("ts"))
          .agg(max_by(col("r_value"), col("r_ts")).as("r_value"),
            max(col("r_ts")).as("r_ts"))
      }
    }
    // organic keys: per-user history fixed, key count grows with SF
    asofPair("", clicks, purchases)
    // dense keys: SPARK_GRAFT_DENSE_KEYS keys total (default 200),
    // per-key history grows with SF — the regime where candidate
    // counts go quadratic while the window scan stays sort+linear
    val denseKeys = sys.env.getOrElse("SPARK_GRAFT_DENSE_KEYS", "200").toLong
    asofPair("_dense",
      clicks.withColumn("user_id", pmod(col("user_id"), lit(denseKeys))),
      purchases.withColumn("r_uid", pmod(col("r_uid"), lit(denseKeys)))
        .groupBy(col("r_uid"), col("r_ts")).agg(max(col("r_value")).as("r_value")))

    val hUs = 3600L * 1000000L
    val cIv = clicks.select(col("event_id"), unix_micros(col("ts")).as("c_us"))
      .withColumn("lo", col("c_us") - 6 * hUs)
      .withColumn("hi", col("c_us") + 6 * hUs)
    val pPt = ev.filter(col("event_type") === "purchase")
      .select(unix_micros(col("ts")).as("p_us"))
    // binWidth knob: per-cell candidate scan is Σ_cell pts·ivls — on a
    // DENSIFYING axis (testdata scale-ups pack 10× the rows into the
    // same 30 days) smaller cells cut the cross term linearly at the
    // cost of a higher interval explosion factor
    val binH = sys.env.getOrElse("SPARK_GRAFT_BIN_HOURS", "12").toLong
    time(s"range_binned_${binH}h") {
      RangeJoin.pointInInterval(pPt, "p_us", cIv, "lo", "hi", binH * hUs)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
    }
    // width sweep (comma-separated minutes) + the auto: the κ
    // calibration for pointInIntervalAuto — run on the organic sf0.1
    // axis and a densified scale-up to bracket the optimum in both
    // regimes, then check the auto lands within ~1.2× of the best
    // hand point
    sys.env.get("SPARK_GRAFT_BIN_SWEEP").foreach { sweep =>
      val mUs = 60L * 1000000L
      sweep.split(",").map(_.trim.toLong).foreach { mins =>
        time(s"range_sweep_${mins}m") {
          RangeJoin.pointInInterval(pPt, "p_us", cIv, "lo", "hi", mins * mUs)
            .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
        }
      }
      time("range_auto") {
        RangeJoin.pointInIntervalAuto(pPt, "p_us", cIv, "lo", "hi")
          .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      }
      // the keyless as-of auto on the same axes
      val pOne = pPt.groupBy(col("p_us")).agg(count(lit(1)).as("w"))
      time("asof_global_12h") {
        AsofJoin.asofGlobal(cIv.select(col("event_id"), col("c_us")), "c_us",
          pOne, "p_us", 12L * hUs)
      }
      time("asof_global_auto") {
        AsofJoin.asofGlobalAuto(cIv.select(col("event_id"), col("c_us")), "c_us",
          pOne, "p_us")
      }
    }
    if (rangeNaive) time("range_naive_bnlj") {
      pPt.join(cIv, col("p_us") >= col("lo") && col("p_us") <= col("hi"))
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
    }
    spark.stop()
  }
}
