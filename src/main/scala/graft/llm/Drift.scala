package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope

/** Corpus-version drift monitoring — the data-ops QA step between two
  * snapshots of a training corpus (yesterday's crawl vs today's, or
  * source A vs source B): which tokens changed distribution most?
  *
  * The ranking statistic is EXACT integer cross-multiplication:
  * `drift(t) = |count_a(t) · total_b − count_b(t) · total_a|` — zero
  * iff the token's relative frequency is identical in both versions,
  * and monotone in `|p_a − p_b|` at fixed totals. Floating KL/JS
  * scores would need order-dependent float sums; the integer form is
  * bit-reproducible across engines and partitionings, and the caller
  * can derive any divergence from the returned exact counts.
  *
  * The cross-multiplication runs in DECIMAL(38,0) (ADVICE r13: a
  * token's count can approach its side's total, so the product bound
  * is total_a·total_b ≈ 2^80 for 2^40-token corpora — far past Long;
  * with ANSI off a bigint multiply would WRAP silently and mis-rank
  * with no error). Decimal arithmetic is exact and order-independent,
  * and 38 digits covers corpora to ~10^19 tokens per side. `drift` is
  * emitted as its decimal STRING (the gate's exact-rationals-as-
  * VARCHAR discipline — parquet decimal columns hash asymmetrically
  * in the driver's compare).
  *
  * Scale shape (100 TB): one token explode + one map-side-combined
  * vocabulary aggregate per side (vocab ≪ corpus), a vocab-sized
  * full-outer join, totals as TWO driver numbers, and a top-k order
  * over the vocab table only — the corpus is never joined or
  * sorted. */
object Drift {

  /** Top-`k` drifting tokens between corpus versions `dfA` and `dfB`:
    * `(token, count_a, count_b, drift)` under (drift DESC, token ASC)
    * — a total order, so the cut is deterministic. Tokens are the
    * engine's whitespace tokenization; empty tokens and null texts
    * contribute nothing. */
  def tokenDrift(
      dfA: DataFrame,
      dfB: DataFrame,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def counts(df: DataFrame, as: String) = Scope.checkpoint(df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as(as)))
    val ca = counts(dfA, "count_a")
    val cb = counts(dfB, "count_b")
    val totA = ca.agg(coalesce(sum("count_a"), lit(0L))).head().getLong(0)
    val totB = cb.agg(coalesce(sum("count_b"), lit(0L))).head().getLong(0)
    ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("count_a"), lit(0L)).as("count_a"),
        coalesce(col("count_b"), lit(0L)).as("count_b"))
      .withColumn("__drift",
        abs(col("count_a").cast("decimal(38,0)") * lit(totB) -
          col("count_b").cast("decimal(38,0)") * lit(totA)))
      .orderBy(desc("__drift"), asc("token"))
      .limit(k)
      .select(col("token"), col("count_a"), col("count_b"),
        col("__drift").cast("string").as("drift"))
  }
}
