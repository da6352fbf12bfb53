package graft.functions

import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer

/** Deterministic release for the relations the dedup/similarity
  * operators pin with cache()/persist(): an operator registers every
  * relation it pins in the scope it was handed, and whoever owns the
  * scope calls [[close]] once results are materialized.
  *
  * Ownership rule (the library's cache-lifecycle contract):
  *   - The eager pipeline entry points ([[Dedup.curateClustered]],
  *     [[Dedup.curateFull]]) own a scope internally: pair-generation
  *     caches are released before they return, because
  *     [[Dedup.connectedComponents]] has already materialized
  *     everything downstream of them (its per-round checkpoints run
  *     Spark actions). Two consecutive pipeline calls therefore leave
  *     the session's cache manager empty — FunctionsSpec pins this.
  *   - The lazy pair generators ([[Dedup.ngramJaccardPairs]],
  *     [[Dedup.winnowPairs]], [[Dedup.minhashLshPairs]]) cannot know
  *     when the caller materializes their result, so by default they
  *     register in an [[CacheScope.unmanaged]] scope nobody closes —
  *     the caches stay pinned until `spark.catalog.clearCache()` or
  *     session end (the pre-round-6 behavior, now documented). A
  *     caller composing them repeatedly in one session should pass an
  *     explicit scope and close it after its own action completes, as
  *     the pipelines and tools/WinnowScale do.
  *   - [[Rounds]] keeps its pins in a private scope: an operator
  *     running under [[Rounds.run]] never holds a scope itself, and the
  *     call closes the scope on every exit path, errors included.
  */
final class CacheScope {
  private val pinned = ArrayBuffer.empty[Dataset[_]]

  /** Register an already-pinned relation for later release. */
  def track[T](ds: Dataset[T]): Dataset[T] = synchronized { pinned += ds; ds }

  /** Unpersist `ds` now (non-blocking) if it is tracked here (by
    * reference); false if it is not.
    */
  def release(ds: Dataset[_]): Boolean = synchronized {
    val i = pinned.indexWhere(_ eq ds)
    if (i >= 0) pinned.remove(i).unpersist(false)
    i >= 0
  }

  /** Unpersist every tracked relation (non-blocking) and forget them.
    * Idempotent; the scope is reusable after close.
    */
  def close(): Unit = synchronized {
    pinned.foreach(_.unpersist(false))
    pinned.clear()
  }
}

object CacheScope {
  /** A scope nobody closes — for callers that want the simple
    * "caches live until clearCache()/session end" behavior.
    */
  def unmanaged: CacheScope = new CacheScope
}
