package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Budget-bounded corpus selection: "take the best N tokens" — order
  * the corpus by a priority (classifier score, familiarity, freshness)
  * and keep the minimal prefix whose token count covers the budget.
  * This is the final step of every curation pipeline that targets a
  * fixed training-token count rather than a fixed document count.
  *
  * Like sequence packing this is a GLOBAL ORDERED PREFIX SUM, so it
  * reuses the shared decomposition
  * ([[graft.stats.GlobalOrder.exclusivePrefixReleasable]]): range-partition by
  * (priority desc, id), per-partition token totals (a P-row aggregate
  * — the only data that reaches the driver), broadcast exclusive
  * offsets, partition-local running sum. Two budget-specific shapes
  * matter at 100 TB:
  *
  *   - ONLY the narrow (id, priority, n_tokens) projection rides the
  *     range exchange, the cache, and the window — ~tens of bytes per
  *     document, a ~1000× reduction over shuffling document text (the
  *     first cut of this operator ranged-shuffled the full rows; the
  *     plan audit caught the corpus in the exchange).
  *   - partitions whose exclusive offset already meets the budget are
  *     dropped BEFORE the finishing window, so the window pass costs
  *     O(selected prefix), not O(corpus).
  *
  * Recovering full document rows is a second step ([[selectedDocs]]):
  * an equi-join of the corpus against the selected-id table, which
  * Spark plans as a broadcast join when the selection is small and a
  * hash join otherwise — either way the corpus text crosses at most
  * ONE hash exchange, never the range sort.
  */
object Select {

  /** The minimal priority-ordered prefix covering `budget` tokens, as a
    * NARROW table (idCol, n_tokens, tokens_before): a row is kept iff
    * the tokens strictly before it (higher priority first, ties broken
    * by ascending `idCol` for determinism) total less than `budget`.
    * The straddling document is INCLUDED — the output covers the
    * budget; trim the final doc downstream if an exact cut is needed.
    * Null priorities sort LAST (lowest priority); null token counts
    * (null text) count as 0. Join back to the corpus with
    * [[selectedDocs]] when full rows are needed.
    *
    * `tokenCounter` defaults to the whitespace heuristic; pass
    * [[Bpe.count]] to budget on REAL subword counts.
    *
    * RUNNER CONTRACT: persists the range-partitioned narrow count
    * table the returned plan reads (two passes: partials + final) and
    * returns it with its release handle — call the handle once the
    * selection has been materialized (ADVICE r06; the
    * [[graft.stats.GlobalOrder.exclusivePrefixReleasable]] contract). */
  def takeTokenBudgetReleasable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      priority: Column,
      budget: Long,
      numParts: Int = 0,
      tokenCounter: Column => Column = TextAnalysis.tokenCount)
      : (DataFrame, () => Unit) = {
    require(budget > 0, "budget must be positive")
    // narrow FIRST: this projection is all that shuffles and caches
    val counts = df.select(col(idCol), priority.as("__prio"),
      coalesce(tokenCounter(col(textCol)), lit(0L))
        .as("n_tokens"))
    val (ranked, _, release) =
      graft.stats.GlobalOrder.exclusivePrefixReleasable(
        counts, Seq(col("__prio").desc_nulls_last, col(idCol)),
        col("n_tokens"), "tokens_before", numParts,
        maxPrefix = Some(budget))
    (ranked
      .filter(col("tokens_before") < budget)
      .drop("__prio"), release)
  }

  /** Full document rows for a [[takeTokenBudgetReleasable]] selection: inner
    * equi-join on `idCol` (AQE broadcasts the selected-id side when it
    * fits, falls back to a hash join when it doesn't — the corpus
    * crosses at most one hash exchange). */
  def selectedDocs(df: DataFrame, selected: DataFrame, idCol: String)
      : DataFrame =
    df.join(selected.select(idCol, "n_tokens", "tokens_before"), Seq(idCol))
}
