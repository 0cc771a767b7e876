package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.cuts._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 — the SURVEY §7.4 minimum
    * end-to-end slice: load → sigma cut (T3) → polynomial cut (D3/F4) →
    * combine (F6) → histogram under the combined cut (A7) with passage
    * fraction (A10). Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = Q.events(spark, "/root/testdata/sf0.001")
    val sigmaPass = SemiAutoCut.cut(ev, "value", CutPars(sigma = Some(3.0)))
    val table = EventTable(ev)
      .registerCut("cut_sigma", Cut.Pred(sigmaPass))
      .registerCut("cut_poly", Cut.Pred(
        PluginRegistry.polyval(Seq(0.001, 1.0, 50.0), col("value"))
          > col("value")))
      .combineCuts("cut_all", Seq("cut_sigma", "cut_poly"), CombineMode.And)
    val frac = table.passageFraction(Cut.Named("cut_all")).head.getDouble(0)
    graft.stats.Hist
      .hist1d(table.filter(Cut.Named("cut_all")), col("value"), 64, 0.0, 500.0)
      .withColumn("passage_fraction", lit(frac)) // rows in bin order
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ StatsQueries.queries ++ CutQueries.queries ++
      JoinQueries.queries ++ LlmQueries.queries ++ TraceQueries.queries ++
      StreamingQueries.queries ++ TemporalQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ StatsQueries.oracle ++ CutQueries.oracle ++
      JoinQueries.oracle ++ LlmQueries.oracle ++ TraceQueries.oracle ++
      StreamingQueries.oracle ++ TemporalQueries.oracle
}
