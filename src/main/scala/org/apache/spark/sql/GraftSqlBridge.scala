package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` helpers: `Column`s from custom Catalyst
  * expressions (the supported classic-API path in Spark 4), a named SQL
  * execution over a plan's rows, and the session's cache check. No
  * logical or physical plan node is built here — every query goes
  * through the public Dataset API and Spark's own planner. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `body` over the rows `df`'s physical plan produces, run as ONE SQL
    * execution named `name` — the wrapping a `collect` gets — so query
    * listeners (`graft.tools.Run.capture`, `Run explain`) and the SQL UI
    * see the plan of a job that is not a Dataset action. */
  def executeRows[T](df: DataFrame, name: String)(
      body: org.apache.spark.rdd.RDD[catalyst.InternalRow] => T): T = {
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some(name))(
      body(qe.executedPlan.execute()))
  }

  /** True when the session holds NO cached/persisted plans — the
    * cache-hygiene assertion for long-lived sessions: every persist a
    * pipeline makes belongs to a `graft.core.Scope`, so once the scope
    * is closed a run with no `clearCache` ends empty. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
}
