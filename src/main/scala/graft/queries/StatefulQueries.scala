package graft.queries

import org.apache.spark.sql._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{JoinOps, Ops, StatefulOps}

/** Correctness-gate queries for the stateful operator surface
  * (SURVEY §2.3) and the join-mode matrix (SURVEY §2.6).
  *
  * Running-sum state uses exact integer cents (inputs are 2-decimal
  * doubles) so sequential Scala folds match DuckDB's decimal window
  * sums regardless of accumulation order.
  */
object StatefulQueries {

  /** fold_final accumulator: (count, cents sum, max) over event values. */
  private class ValueFold extends Aggregator[Double, (Long, Long, Double), (Long, Double, Double)] {
    def zero: (Long, Long, Double) = (0L, 0L, Double.MinValue)
    def reduce(b: (Long, Long, Double), v: Double): (Long, Long, Double) =
      (b._1 + 1, b._2 + math.round(v * 100), math.max(b._3, v))
    def merge(a: (Long, Long, Double), b: (Long, Long, Double)): (Long, Long, Double) =
      (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))
    def finish(r: (Long, Long, Double)): (Long, Double, Double) =
      (r._1, r._2 / 100.0, r._3)
    def bufferEncoder: Encoder[(Long, Long, Double)] = Encoders.product
    def outputEncoder: Encoder[(Long, Double, Double)] = Encoders.product
  }

  private def keyedEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.select(
      ev("user_id").cast("string").as(Ops.KEY),
      ev("event_id"), ev("event_type"), ev("value"), ev("ts"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // stateful_batch / stateful: generic per-key state machine with
    // on_item emission and an on_eof final row (event_id = -1).
    "q_stateful" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.statefulBatch[Long, (String, Long, Long)](
        ev, Ops.KEY, Seq($"event_id"),
        init = _ => 0L,
        onItem = (n, row) =>
          (n + 1, Iterator.single((row.getString(row.fieldIndex(Ops.KEY)),
            row.getLong(row.fieldIndex("event_id")), n))),
        onEof = (k, n) => Iterator.single((k, -1L, n)))
        .toDF("key", "event_id", "idx")
    },

    // stateful_map: running sum of value per user (exact cents state)
    "q_stateful_map" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.statefulMap[Long, (String, Long, Double)](
        ev, Ops.KEY, Seq($"event_id"),
        init = _ => 0L) { (cents, row) =>
        val c2 = cents + math.round(row.getDouble(row.fieldIndex("value")) * 100)
        (c2, (row.getString(row.fieldIndex(Ops.KEY)),
          row.getLong(row.fieldIndex("event_id")), c2 / 100.0))
      }.toDF("key", "event_id", "running")
    },

    // stateful_flat_map: drop consecutive repeats of event_type per user
    "q_stateful_flat_map" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.statefulFlatMap[String, (String, Long, String)](
        ev, Ops.KEY, Seq($"event_id"),
        init = _ => null) { (last, row) =>
        val t = row.getString(row.fieldIndex("event_type"))
        val out =
          if (t == last) Iterator.empty
          else Iterator.single((row.getString(row.fieldIndex(Ops.KEY)),
            row.getLong(row.fieldIndex("event_id")), t))
        (t, out)
      }.toDF("key", "event_id", "event_type")
    },

    // expression-first running aggregate (window function fast path)
    "q_running_agg" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.runningAgg(ev, Ops.KEY, Seq($"event_id"),
        (count(lit(1)), "n_so_far"))
        .select($"key", $"event_id", $"n_so_far")
    },

    // collect: per-key gathered values (sorted for determinism)
    "q_collect" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.collect(ev, Ops.KEY, $"event_type", "values")
        .select($"key", concat_ws(",", $"values").as("types"))
    },

    // collect with the reference's max_size limit, batch rendering
    // (reference operators/__init__.py:1106-1218 `collect(max_size=…)`,
    // exercised by examples/batch_operator.py): each key's event types
    // in event_id arrival order, chunked into arrays of ≤5. Streaming
    // carries the size+timeout semantics (TransformWithStateOps.collectTws);
    // this gate oracles the bounded chunking.
    "q_collect_chunks" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      graft.examples.Examples.collectChunks(ev, Ops.KEY, $"event_id", $"event_type", 5)
        .select($"key", $"chunk", concat_ws(",", $"values").as("types"))
    },

    // fold_final: custom Aggregator (builder/folder/merger)
    "q_fold_final" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val ds = ev.select($"event_type", $"value").as[(String, Double)]
      StatefulOps.foldFinal(ds, new ValueFold)
        .toDF("k", "v")
        .select($"k".as("key"), $"v._1".as("n"), $"v._2".as("total"), $"v._3".as("mx"))
    },

    // reduce_final: latest event per user via reduceGroups
    "q_reduce_final" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val ds = ev.select($"user_id".cast("string"), struct($"event_id", $"value"))
        .as[(String, (Long, Double))]
      StatefulOps.reduceFinal(ds)((a, b) => if (a._1 > b._1) a else b)
        .toDF("k", "v")
        .select($"k".as("key"), $"v._1".as("event_id"), $"v._2".as("value"))
    },

    // count_final
    "q_count_final" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      StatefulOps.countFinal(ev, $"event_type", "n")
    },

    // max_final (plain extreme)
    "q_max_final" -> { (s, dir) =>
      import s.implicits._
      val ev = keyedEvents(s, dir)
      StatefulOps.maxFinal(ev, Ops.KEY, ev("value"), None, "mx")
    },

    // min_final with `by` extractor (min_by)
    "q_min_final" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val keyed = Ops.keyOn(ev, $"event_type")
      StatefulOps.minFinal(keyed, Ops.KEY, $"value",
        by = Some(struct($"ts", $"event_id")), as = "first_value")
    },

    // join emit_mode=complete: state machine emits when all sides fill
    "q_join_complete" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      def firstOf(t: String): DataFrame =
        ev.filter($"event_type" === t)
          .groupBy($"user_id".cast("string").as(Ops.KEY))
          .agg(min($"event_id").as("eid"))
      JoinOps.joinComplete(s, Ops.KEY, "eid", JoinOps.InsertLast,
        JoinOps.Side(firstOf("click"), "eid"),
        JoinOps.Side(firstOf("purchase"), "eid"))
    },

    // join emit_mode=final, insert_mode=last: per-key lasts, full outer
    "q_join_final" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      def side(t: String, as: String): JoinOps.Side = JoinOps.Side(
        ev.filter($"event_type" === t)
          .select($"user_id".cast("string").as(Ops.KEY),
            $"event_id".as("ord"), $"event_id".as(as)), as)
      val a = side("click", "click_eid")
      val b = side("purchase", "purch_eid")
      JoinOps.joinFinal(Ops.KEY, JoinOps.InsertLast, "ord", a, b)
    },

    // join insert_mode=product: keyed cartesian product
    "q_join_product" -> { (s, dir) =>
      import s.implicits._
      val sup = Tables.load(s, dir, "supplier")
        .select($"s_nationkey".cast("string").as(Ops.KEY), $"s_name")
      val cust = Tables.load(s, dir, "customer")
        .select($"c_nationkey".cast("string").as(Ops.KEY), $"c_name")
      JoinOps.joinProduct(Ops.KEY, JoinOps.Side(sup, "s_name"), JoinOps.Side(cust, "c_name"))
    },

    // join emit_mode=running: emit current row on every arrival
    "q_join_running" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      def side(t: String): JoinOps.Side = JoinOps.Side(
        ev.filter($"event_type" === t)
          .select($"user_id".cast("string").as(Ops.KEY),
            $"event_id".as("ord"), $"event_id".as("v")), "v")
      JoinOps.joinRunning(s, Ops.KEY, "ord", JoinOps.InsertLast,
        side("click"), side("purchase"))
    })

  val oracle: Map[String, String] = Map(
    "q_stateful" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS idx
        |FROM events
        |UNION ALL
        |SELECT CAST(user_id AS VARCHAR) AS key, -1 AS event_id, COUNT(*) AS idx
        |FROM events GROUP BY user_id""".stripMargin,
    "q_stateful_map" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM events""".stripMargin,
    "q_stateful_flat_map" ->
      """SELECT key, event_id, event_type FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS key, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events)
        |WHERE prev IS NULL OR prev <> event_type""".stripMargin,
    "q_running_agg" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS n_so_far
        |FROM events""".stripMargin,
    "q_collect" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY 1""".stripMargin,
    "q_collect_chunks" ->
      """SELECT key, chunk,
        |  string_agg(event_type, ',' ORDER BY event_id) AS types
        |FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS key, event_id, event_type,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) // 5 AS chunk
        |  FROM events)
        |GROUP BY key, chunk""".stripMargin,
    "q_fold_final" ->
      """SELECT event_type AS key, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  MAX(value) AS mx
        |FROM events GROUP BY 1""".stripMargin,
    "q_reduce_final" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, MAX(event_id) AS event_id,
        |  arg_max(value, event_id) AS value
        |FROM events GROUP BY 1""".stripMargin,
    "q_count_final" ->
      "SELECT event_type AS key, COUNT(*) AS n FROM events GROUP BY 1",
    "q_max_final" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, MAX(value) AS mx FROM events GROUP BY 1",
    "q_min_final" ->
      """SELECT event_type AS key, value AS first_value FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) = 1""".stripMargin,
    "q_join_complete" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, MIN(event_id) AS eid
        |           FROM events WHERE event_type = 'click' GROUP BY 1),
        |     p AS (SELECT CAST(user_id AS VARCHAR) AS key, MIN(event_id) AS eid
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT c.key AS key, GREATEST(c.eid, p.eid) AS ord,
        |  CAST(c.eid AS VARCHAR) AS side0, CAST(p.eid AS VARCHAR) AS side1
        |FROM c JOIN p ON c.key = p.key""".stripMargin,
    "q_join_final" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, MAX(event_id) AS click_eid
        |           FROM events WHERE event_type = 'click' GROUP BY 1),
        |     p AS (SELECT CAST(user_id AS VARCHAR) AS key, MAX(event_id) AS purch_eid
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(c.key, p.key) AS key, c.click_eid, p.purch_eid
        |FROM c FULL OUTER JOIN p ON c.key = p.key""".stripMargin,
    "q_join_product" ->
      """SELECT CAST(s_nationkey AS VARCHAR) AS key, s_name, c_name
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey""".stripMargin,
    "q_join_running" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_id AS ord,
        |  CAST(MAX(CASE WHEN event_type = 'click' THEN event_id END)
        |    OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS side0,
        |  CAST(MAX(CASE WHEN event_type = 'purchase' THEN event_id END)
        |    OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS side1
        |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin)
}
