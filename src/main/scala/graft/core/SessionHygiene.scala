package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Per-query session cleanup for the suite runners (`graft.Verify`, and
  * `graft.tools.Run.once`, through which `graft.Bench` and every
  * `Run` mode execute a query) — the r04/r05 RUNNER CONTRACT says
  * queries may leave persisted intermediates behind and the runner
  * releases them between queries.
  *
  * `spark.catalog.clearCache()` alone honors only HALF of that
  * contract: it drops SQL-cached tables (`Dataset.persist`) but never
  * RDD-level persists — and every `localCheckpoint()` in the engine
  * (the iterative-lineage truncations in Graph/SuffixDedup/Dedup, the
  * shared-scan checkpoints in C4/LanguageModel/Curate, the postings
  * checkpoint in Rank.retrieveTopK) is exactly such an RDD persist.
  * Those blocks otherwise free only when the JVM happens to GC the RDD
  * reference, so back-to-back queries in one session accumulate dead
  * checkpoint blocks until the block manager evicts LIVE caches to
  * disk. Measured (r17, quiet-window TimeQueries — now `Run time` —
  * at sf0.1): five same-JVM repeats of llm_hybrid_rrf degrade 2.2 → 6.5 s with
  * clearCache alone and hold ~1.4 s once leaked RDD persists are
  * dropped too; llm_dup_spans 2.7 → 1.8 the same way.
  *
  * Only call BETWEEN queries: a localCheckpointed RDD cannot recompute
  * after its blocks are dropped (lineage is truncated), so the caller
  * must have fully materialized the previous query's output first —
  * which is exactly the runners' position (noop write / collect done).
  */
object SessionHygiene {

  /** Release everything a finished query can have left behind: SQL
    * cache entries and RDD-level persists (localCheckpoint blocks).
    * Non-blocking — removal proceeds while the next query starts. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Free the blocks behind ONE `localCheckpoint()`ed frame — the
    * per-frame counterpart of [[releaseAll]] for the `…Releasable`
    * handles. A checkpointed frame's plan is a `LogicalRDD` leaf over
    * the persisted RDD, which `Dataset.unpersist` never touches. Same
    * rule as above: every reader must have materialized first. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
