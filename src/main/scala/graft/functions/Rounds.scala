package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD

import scala.reflect.ClassTag

/** The round lifecycle of the iterative operators (the graph
  * fixpoints, the funnel's per-step reached relations, the dedup
  * contraction) — the one place that knows how a round is
  * materialized and how an operator's storage is freed. A lazy plan
  * that references the previous round re-derives every earlier round
  * per reference (join work quadratic in rounds), so each round is an
  * EAGER checkpoint. With a session checkpoint dir set, rounds use
  * reliable checkpoints — set one in production: checkpoint FILES
  * survive executor loss and cache eviction, while the fallback local
  * blocks are a truncated lineage whose loss is unrecoverable
  * (observed once at 126M nodes on an 8 GB heap under GC-pressure
  * eviction).
  *
  * An operator gets its `Rounds` from [[Rounds.run]], which owns
  * everything the call stores:
  *  - a PIN ([[pin]]) persists a relation the rounds re-read (an edge
  *    layout, a degree table) at MEMORY_AND_DISK through an internal
  *    [[CacheScope]]. No pin outlives the call.
  *  - a MARK is a round's checkpoint ([[markWith]] and the entry
  *    points below). A mark the returned DataFrame reads (a
  *    `LogicalRDD` in its logical plan) outlives the call and follows
  *    the result's lifetime: ContextCleaner reclaims local blocks once
  *    the result is garbage, reliable files stay until the checkpoint
  *    dir is cleaned. Every other mark is freed when the call returns.
  *  - [[release]] frees a pin or a mark (or a projection of one) early,
  *    to bound the storage a loop holds at once.
  * If the body throws — an operator rejecting its input, a convergence
  * guard — every pin and every mark is freed and the exception is
  * rethrown, so an error leaves nothing in the caller's session.
  *
  * A round costs ONE Spark job beyond its own query's shuffle stages.
  * The round's query runs as the `localCheckpoint`/`checkpoint` SQL
  * action (so query listeners and `Probe` see its plan); the job that
  * materializes the checkpoint is the caller's action on it, and that
  * action reads the checkpoint's RDD directly: [[markN]] counts it
  * with one RDD job, [[markFold]] folds its rows in one RDD job. A
  * `Dataset.count()` or DataFrame aggregate there would add an
  * exchange, so a second job, for a figure the same scan can return.
  *
  * Three entry points:
  *  - [[markWith]] checkpoints a round by running a caller-supplied
  *    action on it — the action IS the round's materializing job, so
  *    a loop reads its emptiness or convergence test from the action's
  *    result (a row count in [[markN]], a signature, total or maximum
  *    in [[markFold]]) instead of launching a second job on the
  *    checkpoint.
  *  - [[replaceWith]] marks the next round and only then releases the
  *    superseded one the next round's plan was derived from.
  *  - [[fixpoint]] runs a frontier-pruned fixpoint: it marks the
  *    initial state, derives each round's delta from the state and the
  *    last delta, and exits at the first empty delta (through the
  *    mark's own count) or at the round cap. Its state is the last
  *    COMPACTED checkpoint plus a lazy union of the checkpointed deltas
  *    since, so a round marks only its delta. The union is compacted
  *    (one more mark) when the deltas since the last compaction hold
  *    more rows than it does — the marks have counted both — and once
  *    at exit; superseded states and frontiers are released.
  *
  * Each [[replaceWith]] or [[fixpoint]] round logs one DEBUG line to
  * the `graft.Rounds` logger: operator, round, the round's rows (or
  * action result) and the wall milliseconds since the previous round;
  * a [[fixpoint]] round adds the deltas its state holds and whether
  * it compacted.
  */
private[graft] final class Rounds private (anchor: DataFrame, op: String) {
  private val sc = anchor.sparkSession.sparkContext
  private val reliable = sc.getCheckpointDir.isDefined
  private val pins = new CacheScope
  // the marks not yet released, by checkpoint RDD id
  private val marks = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
  private var round = 0
  private var tick = System.nanoTime()

  /** Persist `df` until the call returns (or [[release]]). */
  def pin(df: DataFrame): DataFrame =
    pins.track(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Checkpoint `r`, materialized by `action` run on the checkpoint.
    * Reliable mode pins the round first: the checkpoint-file write
    * job that follows the action re-reads the cached blocks instead of
    * recomputing the round, and the pin is dropped once the files are
    * written.
    */
  def markWith[A](r: DataFrame)(action: DataFrame => A): (DataFrame, A) =
    if (reliable) {
      val p = pin(r)
      try { val ck = track(p.checkpoint(false)); (ck, action(ck)) }
      finally release(p)
    } else {
      val ck = track(r.localCheckpoint(false))
      (ck, action(ck))
    }

  private def track(ck: DataFrame): DataFrame = {
    Rounds.markOf(ck).foreach(rdd => marks(rdd.id) = rdd)
    ck
  }

  /** [[markWith]] with the row count, one RDD job, as the action. */
  def markN(r: DataFrame): (DataFrame, Long) = markWith(r)(Rounds.rows)

  def mark(r: DataFrame): DataFrame = markN(r)._1

  /** [[markWith]] with [[Rounds.fold]] of `cols` as the action. */
  def markFold[A: ClassTag](r: DataFrame, cols: Column*)(zero: A)(
      seq: (A, Row) => A)(comb: (A, A) => A): (DataFrame, A) =
    markWith(r)(Rounds.fold(cols: _*)(zero)(seq)(comb))

  /** Mark `next` (derived from `prev`), then release `prev`. */
  def replaceWith[A](prev: DataFrame, next: DataFrame)(
      action: DataFrame => A): (DataFrame, A) = {
    val m = markWith(next)(action)
    release(prev)
    logRound(m._2)
    m
  }

  def replaceN(prev: DataFrame, next: DataFrame): (DataFrame, Long) =
    replaceWith(prev, next)(Rounds.rows)

  def replace(prev: DataFrame, next: DataFrame): DataFrame =
    replaceN(prev, next)._1

  /** Frontier fixpoint from `init`: round t (1-based) checkpoints
    * `delta(state, frontier, t)`; an empty delta ends the loop,
    * otherwise the delta joins the state's union and becomes the next
    * frontier (the first frontier is the initial state itself). At
    * most `maxRounds` deltas. `compact` folds the union back to one
    * row set — per-key `min` for a relaxation, `identity` for a
    * discovered set whose deltas are disjoint — and must be idempotent
    * over any split of the union, since compaction points depend on
    * row counts. `delta` reads a state that may hold several rows per
    * key. Returns the final compacted state and whether an empty delta
    * was reached.
    */
  def fixpoint(init: DataFrame, maxRounds: Int)(
      delta: (DataFrame, DataFrame, Int) => DataFrame)(
      compact: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var (base, nBase) = markN(init)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var nPieces = 0L
    var frontier = base
    // the frontier after a compaction is no longer part of the state,
    // but the next round still reads it: released once superseded
    var loose = false
    def state = pieces.foldLeft(base)(_ unionByName _)
    def compactState(): Unit = {
      val (c, n) = markN(compact(state))
      release(base)
      pieces.foreach(p => if (p ne frontier) release(p))
      loose = true
      base = c; nBase = n
      pieces.clear(); nPieces = 0L
    }
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val (d, n) = markN(delta(state, frontier, r + 1))
      if (loose) { release(frontier); loose = false }
      if (n == 0) {
        release(d); converged = true
        logRound(n, s", pieces ${pieces.size}, compacted false")
      } else {
        pieces += d; nPieces += n
        frontier = d
        val held = pieces.size
        val compacted = nPieces > nBase
        if (compacted) compactState()
        logRound(n, s", pieces $held, compacted $compacted")
        r += 1
      }
    }
    if (pieces.nonEmpty) compactState()
    if (loose) release(frontier)
    (base, converged)
  }

  /** Free a pin, or a mark of this call (or a projection of one), now.
    * Anything else, and anything already freed, is left alone.
    */
  def release(m: DataFrame): Unit =
    if (!pins.release(m))
      Rounds.markOf(m).flatMap(rdd => marks.remove(rdd.id)).foreach(free)

  // local blocks go through GraftBlocks: `RDD.unpersist` on a locally
  // checkpointed RDD logs a lineage-truncation WARN per call
  private def free(rdd: RDD[_]): Unit =
    if (reliable) rdd.getCheckpointFile.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
    }
    else org.apache.spark.rdd.GraftBlocks.unpersist(rdd)

  /** Free every pin and every mark whose RDD id is not in `keep`. */
  private def close(keep: Set[Int]): Unit = {
    pins.close()
    marks.valuesIterator.filterNot(rdd => keep(rdd.id)).foreach(free)
    marks.clear()
  }

  private def logRound(result: Any, extra: String = ""): Unit = {
    round += 1
    val now = System.nanoTime()
    if (Rounds.log.isDebugEnabled)
      Rounds.log.debug(s"$op round $round: rows $result, " +
        s"${(now - tick) / 1000000} ms$extra")
    tick = now
  }
}

private[graft] object Rounds {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Rounds")

  /** Run `body` with a fresh `Rounds` for operator `op` (`anchor`
    * supplies the session) and free what it stored: on return every
    * pin and every mark the result does not read, on a throw all of
    * them before the exception propagates. A result that is not a
    * DataFrame reads no mark.
    */
  def run[A](anchor: DataFrame, op: String)(body: Rounds => A): A = {
    val rounds = new Rounds(anchor, op)
    val out = try body(rounds) catch {
      case t: Throwable => rounds.close(Set.empty); throw t
    }
    rounds.close(out match {
      case df: Dataset[_] =>
        df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      case _ => Set.empty
    })
    out
  }

  /** The checkpoint RDD of a mark, or of a projection of one. */
  private def markOf(df: DataFrame): Option[RDD[_]] = {
    def go(p: LogicalPlan): Option[RDD[_]] = p match {
      case lr: LogicalRDD => Some(lr.rdd)
      case Project(_, child) => go(child)
      case _ => None
    }
    go(df.queryExecution.logical)
  }

  /** Row count of `df` in one RDD job: no aggregate exchange, and no
    * SQL action, so query listeners do not see it.
    */
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** An action folding the rows of `cols` over a relation in one RDD
    * job: `seq` per row within a partition, `comb` across partitions
    * (`zero` starts each), so it must not depend on row order. Like
    * [[rows]] it runs no SQL action (`Dataset.rdd` would be one).
    */
  def fold[A: ClassTag](cols: Column*)(zero: A)(seq: (A, Row) => A)(
      comb: (A, A) => A): DataFrame => A = { df =>
    val p = df.select(cols: _*)
    val schema = p.schema
    p.queryExecution.toRdd.mapPartitions { it =>
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(schema)
      Iterator.single(it.foldLeft(zero)((a, r) => seq(a, toRow(r).asInstanceOf[Row])))
    }.collect().foldLeft(zero)(comb)
  }
}
