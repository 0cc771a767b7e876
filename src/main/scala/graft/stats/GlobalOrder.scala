package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scope

/** The distributed GLOBAL ORDERED PREFIX SUM — the decomposition shared
  * by sequence packing ([[graft.llm.Packing]]), token-budget selection
  * ([[graft.llm.Select]]), and percentile ranking: a naive
  * `Window.orderBy` over everything funnels the corpus through one
  * task; instead range-partition on the order (partition boundaries
  * respect it), take per-partition totals — a P-row aggregate, the ONLY
  * data that ever reaches the driver — broadcast their exclusive
  * offsets back as a literal map, and finish with a PARTITION-LOCAL
  * running sum. Work per executor is linear in its partition; nothing
  * global moves. Same decomposition a 1000-executor prefix sum uses;
  * at P = shuffle partitions the offsets map is a few KB.
  */
object GlobalOrder {

  /** `df` plus `prefixName` = the exclusive prefix sum of `valueCol`
    * (must be long-typed) under the TOTAL order `orderCols` (callers
    * must include a tiebreaker — equal keys across a partition
    * boundary would otherwise make the prefix depend on placement).
    * Returns the frame and the GRAND TOTAL (free from the partials — no
    * extra pass). `maxPrefix` drops
    * partitions whose exclusive offset already reaches the bound
    * BEFORE the finishing window, so a budget-style consumer pays
    * O(selected prefix), not O(input).
    *
    * Keep `df` NARROW — exactly the order/value/carry-through columns:
    * everything in it rides the range exchange, the persist, and the
    * window (the token-budget plan audit caught document text in all
    * three).
    *
    * Materializes in the current [[graft.core.Scope]]: the
    * range-partitioned input the returned plan reads (persisted; two
    * passes: partials + final) and, with `precheckpoint`, the narrow
    * input before the range exchange (checkpointed). Both live until the
    * scope closes, after the returned plan's output is written. */
  def exclusivePrefix(
      df: DataFrame,
      orderCols: Seq[Column],
      valueCol: Column,
      prefixName: String,
      numParts: Int = 0,
      maxPrefix: Option[Long] = None,
      precheckpoint: Boolean = true): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "order columns required")
    val spark = df.sparkSession
    val p =
      if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    // repartitionByRange EXECUTES its child twice — once for the
    // range-boundary sampling pass, once for the exchange itself — so
    // an upstream chain pays double before the prefix machinery even
    // starts. `precheckpoint` materializes the narrow (order, value,
    // carry) input ONCE; sampling and exchange then read the
    // checkpoint (r17, guide §1.2). Callers whose input is EXPENSIVE
    // to run twice (token counting, scoring chains) keep the default;
    // callers whose input is one cheap aggregate over an
    // already-materialized table pass false — the extra job costs more
    // than the re-execution saves (measured per caller, see
    // OPTIMIZATION_r17.md).
    val pre0 = df.withColumn("__val", valueCol)
    val pre = if (precheckpoint) Scope.checkpoint(pre0) else pre0
    val parted = Scope.persist(pre
      .repartitionByRange(p, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__pid", spark_partition_id()))
    // P rows to the driver — the partials, never the data
    val partSums = parted.groupBy("__pid")
      .agg(sum("__val").as("s"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val perPart = Array.tabulate(p)(partSums.getOrElse(_, 0L))
    val offsets = (0 until p).map(i => i -> perPart.take(i).sum).toMap
    val kept = maxPrefix match {
      case Some(bound) =>
        val keepPids = (0 until p).filter(offsets(_) < bound)
        parted.filter(col("__pid").isin(keepPids: _*))
      case None => parted
    }
    // finishing pass: running sum WITHIN each pid group + its broadcast
    // offset. The window clusters on __pid — a P-way-parallel exchange
    // of the narrow table, never a single global sort
    val w = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = kept
      .withColumn(prefixName,
        sum("__val").over(w) - col("__val") +
          element_at(typedlit(offsets), col("__pid")))
      .drop("__pid", "__val")
    (out, perPart.sum)
  }

  /** `df` plus `rankName` = 0-based global rank under the total order
    * `orderCols`, and `pctName` = rank/(N−1) — the corpus-percentile
    * normalization applied to quality scores before thresholding
    * ("keep the top 30%"). A single-row corpus degenerates to
    * percentile 0. One narrow range exchange; no global window.
    * Materializes as [[exclusivePrefix]] does. */
  def percentileRank(
      df: DataFrame,
      orderCols: Seq[Column],
      rankName: String = "rank",
      pctName: String = "percentile",
      numParts: Int = 0): DataFrame = {
    val (ranked, n) =
      exclusivePrefix(df, orderCols, lit(1L), rankName, numParts)
    ranked.withColumn(pctName,
      if (n <= 1L) lit(0.0)
      else col(rankName).cast("double") / lit((n - 1).toDouble))
  }
}
