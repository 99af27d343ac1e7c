package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column expression-agnostic and hid the Expression↔Column
  * bridge behind `private[sql]`; this shim (in a spark-sql subpackage, like
  * any third-party Catalyst extension needs) re-exports just the two
  * conversions our custom expressions use. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (classic path). */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over an arbitrary logical plan (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Clone of a session: shared SparkContext + shared state, but isolated
    * SQLConf/temp views copied from the parent — the per-query conf scope
    * (`private[sql]` in Spark 4; used where a query needs plan-shaping
    * confs, such as AQE off or a broadcast gate, without mutating the
    * caller's session). A stream must not be started on one: its progress
    * would reach the clone's listeners, not the caller's. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
