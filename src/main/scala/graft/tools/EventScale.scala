package graft.tools

import org.apache.spark.sql.functions._

/** Scale harness for the Events family: synthetic event log (N
  * events, N/200 entities, 5 types via hash, timestamps spread over
  * 30 days with per-event hash jitter), then funnel / cohortRetention
  * / sessionize timed separately, invariants validated DISTRIBUTEDLY:
  *
  *  - funnel: t1 < t2 < t3 on every completed row, t3 ≤ t1 + span,
  *    reached counts monotone non-increasing
  *  - cohort: offsets ≥ 0; offset-0 actives per cohort = cohort sizes
  *  - sessionize: row count preserved; session_idx ≥ 1
  *
  * Mode `ext` runs the segment-five additions instead (transitions /
  * robustStats+anomalies / resampleLocf), with their own distributed
  * invariants:
  *
  *  - transitions: Σ n = N − |entities| (every entity's first event
  *    has no predecessor, everything else is exactly one pair)
  *  - anomalies: per group, #(v ≤ med)·2 ≥ n and #(v < med)·2 < n
  *    (the lower-median rank definition, checked against the corpus)
  *  - resample: rows = Σ (max−min+1) buckets per entity; zero null
  *    values (first bucket observed ⇒ LOCF total)
  *
  * args: [events (default 1,000,000)] [mode: base|ext (default base)]
  */
object EventScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val mode = if (args.length > 1) args(1) else "base"
    val spark = graft.Session.local(graft.Session.cpus(32))

    val users = math.max(n / 200L, 1L)
    val spanUs = 30L * 86400L * 1000000L
    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("signup"), lit("error"))
    val ev = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(users)).as("user_id"),
      pmod(xxhash64(col("id"), lit(1)), lit(spanUs)).as("us"),
      element_at(types,
        (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int")).as("event_type"))
      .cache()
    ev.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    if (mode == "ext") {
      import graft.functions.Events
      val users0 = ev.select(col("user_id")).distinct().count()

      val (tTotal, tSec) = timed {
        val t = Events.transitions(ev, "user_id", "us", "event_type").cache()
        val total = t.agg(sum(col("n"))).head().getLong(0)
        require(total == n - users0,
          s"transition mass $total != ${n - users0}")
        t.unpersist(false); total
      }

      // an integer metric column: hash-valued "latency" per event
      val evv = ev.withColumn("v", pmod(xxhash64(col("us")), lit(100000L)))
        .cache()
      evv.count()
      val (aCount, aSec) = timed {
        val stats = Events.robustStats(evv, "event_type", "v").cache()
        // validate the lower-median rank definition against the corpus
        val bad = evv.join(stats, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(first(col("n")).as("cnt"),
            sum(when(col("v") <= col("med"), 1L).otherwise(0L)).as("le"),
            sum(when(col("v") < col("med"), 1L).otherwise(0L)).as("lt"))
          .filter(!(col("le") * 2 >= col("cnt") && col("lt") * 2 < col("cnt")))
          .count()
        require(bad == 0, "lower-median rank invariant violated")
        val a = Events.anomalies(evv, "event_type", "v", 3L)
          .filter(col("is_anomaly")).count()
        stats.unpersist(false); a
      }

      val (rRows, rSec) = timed {
        val step = 6L * 3600L * 1000000L
        val r = Events.resampleLocf(evv, "user_id", "us", "v", step).cache()
        val rows = r.count()
        val nulls = r.filter(col("v").isNull).count()
        require(nulls == 0, "LOCF left a null after the first bucket")
        val expected = evv
          .groupBy(col("user_id"))
          .agg((max(floor(col("us") / step)) - min(floor(col("us") / step)) + 1)
            .cast("long").as("b"))
          .agg(sum(col("b"))).head().getLong(0)
        require(rows == expected, s"grid rows $rows != $expected")
        r.unpersist(false); rows
      }

      println(f"""{"events":$n,"users":$users0,"transitions_sec":$tSec%.1f,"transition_mass":$tTotal,"anomaly_sec":$aSec%.1f,"anomalies":$aCount,"resample_sec":$rSec%.1f,"grid_rows":$rRows}""")
      spark.stop()
      return
    }

    if (mode == "attrib" || mode == "attrib_skew") {
      import graft.functions.Events
      val unit = 1000000L
      // the base `ev` has no id column; rebuild with the range id as
      // a unique, deterministic event_id (tie-breaks must reproduce).
      // attrib_skew routes 1% of ALL events to entity 0 — the hot-key
      // regime where the scaladoc's "cost = the true conversions ×
      // touches-in-window pair count" quadratic term dominates; the
      // harness prices that honestly instead of hiding it
      val uid =
        if (mode == "attrib_skew")
          when(pmod(xxhash64(col("id"), lit(9)), lit(100L)) === 0, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), lit(users)))
        else pmod(xxhash64(col("id")), lit(users))
      val evId = spark.range(n).select(
        uid.as("user_id"),
        pmod(xxhash64(col("id"), lit(1)), lit(spanUs)).as("us"),
        element_at(types,
          (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int"))
          .as("event_type"),
        col("id").as("event_id")).cache()
      evId.count()
      // skew mode measures the CURE (spreadSkew re-key); the uncured
      // single-task cost is the same mode with the flag off — both
      // recorded in SCALE.md. SPARK_GRAFT_SPREAD overrides the mode's
      // manual choice (set "auto" to measure the probe's decision
      // against the manual one on the same corpus)
      val spread = sys.env.getOrElse("SPARK_GRAFT_SPREAD",
        if (mode == "attrib_skew") "on" else "off")
      val (aRows, aSec) = timed {
        val d = Events.attribution(evId, "user_id", "us", "event_type",
          "event_id", "event_type", "purchase",
          Seq("view", "click", "signup"),
          lookbackUs = 86400000000L, model = "position",
          unit = unit, spreadSkew = spread).cache()
        val rows = d.count()
        // per-conversion credit-mass closed form for the U-shape:
        // n=1 → unit; n=2 → unit; n≥3 → 2·(4u/10) + (n−2)·((2u/10)
        // DIV (n−2)). Any branch/tie-break bug breaks some group.
        val mid = lit(unit * 2 / 10)
        val expected = when(col("n") === 1, lit(unit))
          .when(col("n") === 2, lit(unit))
          .otherwise(lit(2 * (unit * 4 / 10)) +
            (col("n") - 2) * ((mid - pmod(mid, col("n") - 2)) / (col("n") - 2))
              .cast("long"))
        val bad = d.groupBy(col("user"), col("conv_us"))
          .agg(count(lit(1)).as("n"), sum(col("credit")).as("m"))
          .filter(col("m") =!= expected)
          .count()
        require(bad == 0, "per-conversion credit mass violated")
        d.unpersist(false); rows
      }
      println(f"""{"mode":"$mode","spread":"$spread","events":$n,"users":$users,"attrib_sec":$aSec%.1f,"pair_rows":$aRows}""")
      spark.stop()
      return
    }

    // funnel: 24h span; force materialization via counts per step
    val (fCounts, fSec) = timed {
      val f = graft.functions.Events.funnel(ev, "user_id", "us",
        "event_type", Seq("view", "click", "purchase"),
        Some(86400000000L)).cache()
      val c = (f.count(), f.filter(col("t2").isNotNull).count(),
        f.filter(col("t3").isNotNull).count())
      val bad = f.filter(
        (col("t2").isNotNull && !(col("t2") > col("t1"))) ||
        (col("t3").isNotNull && !(col("t3") > col("t2"))) ||
        (col("t3").isNotNull && col("t3") > col("t1") + lit(86400000000L))).count()
      require(bad == 0, "funnel ordering/span invariant violated")
      require(c._1 >= c._2 && c._2 >= c._3, "funnel monotonicity violated")
      f.unpersist(false); c
    }

    val (cCounts, cSec) = timed {
      val c = graft.functions.Events.cohortRetention(ev, "user_id", "us",
        86400000000L).cache()
      val rows = c.count()
      val neg = c.filter(col("offset") < 0).count()
      require(neg == 0, "negative cohort offset")
      c.unpersist(false); rows
    }

    val (sCounts, sSec) = timed {
      val s = graft.functions.Events.sessionize(ev, "user_id", "us",
        1800L * 1000000L).cache()
      val rows = s.count()
      val sessions = s.groupBy(col("user_id"))
        .agg(max(col("session_idx")).as("m"))
        .agg(sum(col("m"))).head().getLong(0)
      require(rows == n, "sessionize must preserve row count")
      s.unpersist(false); (rows, sessions)
    }

    println(f"""{"events":$n,"users":$users,"funnel_sec":$fSec%.1f,"funnel":[${fCounts._1},${fCounts._2},${fCounts._3}],"cohort_sec":$cSec%.1f,"cohort_cells":$cCounts,"session_sec":$sSec%.1f,"sessions":${sCounts._2}}""")
    spark.stop()
  }
}
