package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** Keyed stateful operators on *bounded* data — the analogues of the
  * reference's `stateful_batch`-derived family (reference:
  * pysrc/bytewax/operators/__init__.py:795-3006). The `*_final` ops emit
  * once per key at end-of-input (EOF semantics, reference
  * operators/__init__.py:1254-1257 — "only works on finite streams");
  * on Spark that is ordinary aggregation. The sequential per-key state
  * machines (`stateful_map`, `stateful_flat_map`, `stateful`) use the
  * secondary-sort pattern: hash-exchange on the key (the same exchange
  * the reference does in src/operators.rs:572-594), sort within
  * partitions by (key, order), then a single streaming pass — no
  * per-group buffering, so a key's history never has to fit in memory.
  *
  * Streaming equivalents (transformWithState) live in graft.streaming.
  */
object StatefulOps {

  /** Generic per-key ordered state machine — the batch analogue of the
    * reference's `stateful_batch` core (src/operators.rs:441-1041).
    * `onItem(state, row)` returns (newState, emitted); `onEof(key, state)`
    * emits final rows when the key's input is exhausted (reference
    * `StatefulBatchLogic.on_eof`, operators/__init__.py:735-757).
    *
    * Scale notes: one shuffle (hash by key), in-partition sort spills via
    * Tungsten, the fold itself is a streaming iterator.
    */
  def statefulBatch[S, U: Encoder](
      df: DataFrame,
      keyCol: String,
      orderBy: Seq[Column],
      init: String => S,
      onItem: (S, Row) => (S, Iterator[U]),
      onEof: (String, S) => Iterator[U] = (_: String, _: S) => Iterator.empty[U]): Dataset[U] = {

    val sorted = df
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol) +: orderBy: _*)
    val keyIdx = sorted.schema.fieldIndex(keyCol)

    sorted.mapPartitions { rows =>
      new Iterator[U] {
        private var curKey: String = null
        private var state: S = _
        private var open = false
        private var pending: Iterator[U] = Iterator.empty

        @annotation.tailrec
        private def advance(): Unit = {
          if (pending.hasNext) ()
          else if (rows.hasNext) {
            val r = rows.next()
            val k = r.getString(keyIdx)
            if (!open || k != curKey) {
              val eofOut = if (open) onEof(curKey, state) else Iterator.empty
              curKey = k
              state = init(k)
              open = true
              val (s2, out) = onItem(state, r)
              state = s2
              pending = eofOut ++ out
            } else {
              val (s2, out) = onItem(state, r)
              state = s2
              pending = out
            }
            advance()
          } else if (open) {
            pending = onEof(curKey, state)
            open = false
          }
        }

        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): U = { advance(); pending.next() }
      }
    }
  }

  /** stateful_map — running (state, v) → (state', w) transform per key
    * (reference: operators/__init__.py:2920-3006). Emits one output row
    * per input row, in `orderBy` order within each key.
    */
  def statefulMap[S, U: Encoder](
      df: DataFrame,
      keyCol: String,
      orderBy: Seq[Column],
      init: String => S)(step: (S, Row) => (S, U)): Dataset[U] =
    statefulBatch[S, U](df, keyCol, orderBy, init,
      (s, r) => { val (s2, u) = step(s, r); (s2, Iterator.single(u)) })

  /** stateful_flat_map — (state, v) → (state', Iterable[w]) (reference:
    * operators/__init__.py:2860-2917).
    */
  def statefulFlatMap[S, U: Encoder](
      df: DataFrame,
      keyCol: String,
      orderBy: Seq[Column],
      init: String => S)(step: (S, Row) => (S, Iterator[U])): Dataset[U] =
    statefulBatch[S, U](df, keyCol, orderBy, init, step)

  /** Expression-first running aggregate — the Catalyst-native fast path
    * for the common stateful_map shapes (running sum/count/min/max):
    * a window function, fully codegen'd, no lambdas.
    */
  def runningAgg(df: DataFrame, keyCol: String, orderBy: Seq[Column], aggs: (Column, String)*): DataFrame = {
    val w = expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(orderBy: _*)
      .rowsBetween(expressions.Window.unboundedPreceding, expressions.Window.currentRow)
    aggs.foldLeft(df) { case (d, (c, name)) => d.withColumn(name, c.over(w)) }
  }

  /** collect — gather each key's values into a list (reference:
    * operators/__init__.py:1106-1218; batch analogue of the
    * size/timeout-buffered collect). Values are sorted by `sortExpr` for
    * determinism (the reference emits in arrival order; bounded data has
    * no arrival order, so callers pick one).
    */
  def collect(df: DataFrame, keyCol: String, valueExpr: Column, as: String = "values"): DataFrame =
    df.groupBy(col(keyCol)).agg(array_sort(collect_list(valueExpr)).as(as))

  /** fold_final — fold each key's values into a custom accumulator, emit
    * at EOF (reference: operators/__init__.py:1923-2014). Spark analogue:
    * a typed `Aggregator` (zero ⇔ builder, reduce ⇔ folder, merge ⇔ the
    * shuffle combiner the reference lacks — map-side partial agg is free).
    */
  def foldFinal[V: Encoder, S, W](
      ds: Dataset[(String, V)],
      agg: expressions.Aggregator[V, S, W]): Dataset[(String, W)] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .mapValues(_._2)
      .agg(agg.toColumn)

  /** reduce_final — first-value-init fold (reference:
    * operators/__init__.py:2783-2857). `reduceGroups` gets map-side
    * partial reduction from Spark automatically (⇔ the reference's
    * `pre_reducer`, operators/__init__.py:2836-2847).
    */
  def reduceFinal[V: Encoder](ds: Dataset[(String, V)])(f: (V, V) => V): Dataset[(String, V)] =
    ds.groupByKey(_._1)(Encoders.STRING)
      .mapValues(_._2)
      .reduceGroups(f)

  /** count_final (reference: operators/__init__.py:1221-1272). */
  def countFinal(df: DataFrame, keyExpr: Column, as: String = "count"): DataFrame =
    df.groupBy(keyExpr.cast("string").as(Ops.KEY)).agg(count(lit(1)).as(as))

  /** max_final / min_final with optional `by` extractor (reference:
    * operators/__init__.py:2609-2742). `by` maps to max_by/min_by.
    */
  def maxFinal(df: DataFrame, keyCol: String, valueExpr: Column, by: Option[Column] = None, as: String = "max"): DataFrame = {
    val agg = by.map(b => max_by(valueExpr, b)).getOrElse(max(valueExpr))
    df.groupBy(col(keyCol)).agg(agg.as(as))
  }

  def minFinal(df: DataFrame, keyCol: String, valueExpr: Column, by: Option[Column] = None, as: String = "min"): DataFrame = {
    val agg = by.map(b => min_by(valueExpr, b)).getOrElse(min(valueExpr))
    df.groupBy(col(keyCol)).agg(agg.as(as))
  }
}
