package graft.functions

import org.apache.spark.sql.DataFrame

/** The round lifecycle of the iterative operators (the graph
  * fixpoints, the funnel's per-step reached relations, the dedup
  * contraction) — the one place that knows how a round is
  * materialized and how its storage is freed. A lazy plan that
  * references the previous round re-derives every earlier round per
  * reference (join work quadratic in rounds), so each round is an
  * EAGER checkpoint. With a session checkpoint dir set, rounds use
  * reliable checkpoints — set one in production: checkpoint FILES
  * survive executor loss and cache eviction, while the fallback local
  * blocks are a truncated lineage whose loss is unrecoverable
  * (observed once at 126M nodes on an 8 GB heap under GC-pressure
  * eviction).
  *
  * Three entry points:
  *  - [[markWith]] checkpoints a round by running a caller-supplied
  *    action on it — the action IS the round's materializing job, so
  *    a loop reads its emptiness or convergence test from the action's
  *    result (a row count in [[markN]], a signature or several counts
  *    in one aggregate) instead of launching a second job on the
  *    checkpoint.
  *  - [[replaceWith]] marks the next round and only then releases the
  *    superseded one the next round's plan was derived from.
  *  - [[fixpoint]] runs a frontier-pruned fixpoint: it marks the
  *    initial state, derives each round's delta from the state and the
  *    last delta, exits at the first empty delta (through the mark's
  *    own count) or at the round cap, folds each delta into the state,
  *    and releases every superseded state and frontier.
  *
  * Each [[replaceWith]] or [[fixpoint]] round logs one DEBUG line to
  * the `graft.Rounds` logger: operator, round, the round's rows (or
  * action result) and the wall milliseconds since the previous round.
  */
private[graft] final class Rounds(anchor: DataFrame, op: String) {
  private val sc = anchor.sparkSession.sparkContext
  private val reliable = sc.getCheckpointDir.isDefined
  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  private var round = 0
  private var tick = System.nanoTime()

  private def checkpointRddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Checkpoint `r`, materialized by `action` run on the checkpoint.
    * Reliable mode persists the round first: the checkpoint-file write
    * job that follows the action re-reads the cached blocks instead of
    * recomputing the round, and the cache is dropped once the files
    * are written.
    */
  def markWith[A](r: DataFrame)(action: DataFrame => A): (DataFrame, A) =
    if (reliable) {
      val p = r.persist(lvl)
      val ck = p.checkpoint(false)
      val a = action(ck)
      p.unpersist(false)
      (ck, a)
    } else {
      val ck = r.localCheckpoint(false)
      (ck, action(ck))
    }

  /** [[markWith]] with the row count as the action. */
  def markN(r: DataFrame): (DataFrame, Long) = markWith(r)(_.count())

  def mark(r: DataFrame): DataFrame = markN(r)._1

  /** Mark `next` (derived from `prev`), then release `prev`. */
  def replaceWith[A](prev: DataFrame, next: DataFrame)(
      action: DataFrame => A): (DataFrame, A) = {
    val m = markWith(next)(action)
    release(prev)
    logRound(m._2)
    m
  }

  def replaceN(prev: DataFrame, next: DataFrame): (DataFrame, Long) =
    replaceWith(prev, next)(_.count())

  def replace(prev: DataFrame, next: DataFrame): DataFrame =
    replaceN(prev, next)._1

  /** Frontier fixpoint from `init`: round t (1-based) checkpoints
    * `delta(state, frontier, t)`; an empty delta ends the loop,
    * otherwise `merge(state, delta)` becomes the next state and the
    * delta the next frontier (the first frontier is the initial state
    * itself). At most `maxRounds` deltas. Returns the final state and
    * whether an empty delta was reached.
    */
  def fixpoint(init: DataFrame, maxRounds: Int)(
      delta: (DataFrame, DataFrame, Int) => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): (DataFrame, Boolean) = {
    var state = mark(init)
    var frontier = state
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val (d, n) = markN(delta(state, frontier, r + 1))
      logRound(n)
      if (n == 0) { release(d); converged = true }
      else {
        val next = mark(merge(state, d))
        release(state)
        if (frontier ne state) release(frontier)
        state = next
        frontier = d
        r += 1
      }
    }
    if (frontier ne state) release(frontier)
    (state, converged)
  }

  def release(m: DataFrame): Unit =
    checkpointRddOf(m).foreach { rdd =>
      if (reliable) rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
      }
      else rdd.unpersist(false)
    }

  private def logRound(result: Any): Unit = {
    round += 1
    val now = System.nanoTime()
    if (Rounds.log.isDebugEnabled)
      Rounds.log.debug(s"$op round $round: rows $result, " +
        s"${(now - tick) / 1000000} ms")
    tick = now
  }
}

private object Rounds {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Rounds")
}
