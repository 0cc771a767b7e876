package graft.core

import scala.collection.mutable
import scala.util.DynamicVariable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every intermediate the library materializes — the
  * role vaex's task cache plays for the reference analyzer
  * (`analyzer.py:71-72`): no pipeline hands its caller a release
  * handle, and no runner sweeps the session. Its verbs are the only
  * persist, checkpoint and free calls under `src/main` outside the
  * allow-list in `ScopeGuardSpec`; `close()` frees what a scope still
  * owns.
  *
  * [[Scope.run]] runs a body with a fresh scope as the thread's current
  * one and returns the result with the still-open scope; the caller
  * closes it once the result is written (`graft.tools.Run.scoped`,
  * which `Run.once`, `graft.Bench` and `graft.Verify` share). Outside
  * any scope the verbs only make the Spark call, so notebook callers
  * own what they get, as with any Spark cache; a frame materialized
  * there is remembered weakly so that a pipeline's own early
  * [[Scope.release]] still frees it.
  *
  * A scope never frees a frame it did not materialize: a `persist` of a
  * plan that is already cached (a caller's cache, possibly through a
  * rename-only projection, which canonicalizes to the same plan) is not
  * owned, so neither `release` nor `close` can evict it. Each `persist`
  * the scope owns counts, and `release` takes one back: a pipeline that
  * persists and releases a frame its caller persisted in the same scope
  * leaves the caller's persist until the caller's release or `close`.
  *
  * Why the runner closes a scope per query: `spark.catalog.clearCache()`
  * drops SQL-cached tables but never RDD-level persists, and every
  * `localCheckpoint` is one. Left alone, those blocks free only when the
  * JVM happens to GC the RDD, so back-to-back queries in one session
  * accumulate dead checkpoint blocks until the block manager evicts LIVE
  * caches to disk. Measured (r17, quiet-window `Run time` at sf0.1):
  * five same-JVM repeats of llm_hybrid_rrf degrade 2.2 → 6.5 s with
  * `clearCache` alone and hold ~1.4 s once the RDD persists are dropped
  * too; llm_dup_spans 2.7 → 1.8 the same way.
  *
  * Only free after materialization: a checkpointed RDD cannot recompute
  * once its blocks are gone (its lineage is cut), and a freed persist
  * recomputes its whole subtree. So `release` goes only where every
  * reader has run, and `close` only after the scope's result has been
  * written or collected. Frees are non-blocking.
  */
final class Scope private () extends AutoCloseable {
  // frame → what this scope holds of it, in creation order:
  // Scope.Checkpointed if it made the frame's checkpoint, plus
  // Scope.Persisted for each of its persists not yet released
  private val owned = mutable.LinkedHashMap[DataFrame, Int]()

  def close(): Unit = {
    owned.foreach { case (df, kinds) => Scope.free(df, kinds) }
    owned.clear()
  }
}

object Scope {
  private val Checkpointed = 1
  private val Persisted = 2
  private val current = new DynamicVariable[Option[Scope]](None)
  private val detached = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Integer]())

  /** `body` with a fresh scope as the current one; the result and the
    * still-open scope (closed here only if `body` throws). */
  def run[A](body: => A): (A, Scope) = {
    val scope = new Scope
    try (current.withValue(Some(scope))(body), scope)
    catch { case e: Throwable => scope.close(); throw e }
  }

  /** Eager `localCheckpoint` of `df`, owned by the current scope. */
  def checkpoint(df: DataFrame): DataFrame =
    own(df.localCheckpoint(), Checkpointed)

  /** Lazy `MEMORY_AND_DISK` persist of `df`, owned by the current scope
    * unless its plan was already cached by someone else. */
  def persist(df: DataFrame): DataFrame = {
    val counted = df.storageLevel == StorageLevel.NONE || kindsOf(df) >= Persisted
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (counted) own(p, Persisted) else p
  }

  /** Take back `df`'s latest materialization by the current scope (or,
    * outside any scope, the library), at a mid-pipeline point where no
    * later plan reads it, and free it unless another persist of `df` is
    * still held; otherwise do nothing. Persists go before the scope's
    * own checkpoint of `df`, which stays until its release or `close`. */
  def release(df: DataFrame): Unit = {
    val kinds = kindsOf(df)
    val latest = if (kinds >= Persisted) Persisted else kinds
    if (latest != 0 && kinds - latest < Persisted) free(df, latest)
    record(df, kinds - latest)
  }

  private def own(df: DataFrame, kind: Int): DataFrame = {
    record(df, kindsOf(df) + kind)
    df
  }

  private def kindsOf(df: DataFrame): Int = current.value match {
    case Some(s) => s.owned.getOrElse(df, 0)
    case None => Option(detached.get(df)).fold(0)(_.intValue)
  }

  private def record(df: DataFrame, kinds: Int): Unit = current.value match {
    case Some(s) => if (kinds == 0) s.owned.remove(df) else s.owned(df) = kinds
    case None => if (kinds == 0) detached.remove(df) else detached.put(df, kinds)
  }

  // a checkpointed frame's plan is a LogicalRDD leaf over the persisted
  // RDD, which `Dataset.unpersist` never touches
  private def free(df: DataFrame, kinds: Int): Unit = {
    if (kinds >= Persisted) df.unpersist(blocking = false)
    if ((kinds & Checkpointed) != 0) df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
