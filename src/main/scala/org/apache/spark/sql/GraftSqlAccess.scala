package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge into `private[sql]` constructors needed to materialize a
  * DataFrame from a custom logical plan (graft.plans.TopKPerGroup). This is
  * the standard extension-library technique; nothing else from the internal
  * API is touched. */
object GraftSqlAccess {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  def optimizedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan

  /** Wrap a (resolved or unresolved) Catalyst expression as a Column —
    * the Spark 4 Column is ColumnNode-backed, so raw expressions go
    * through the classic bridge. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `e` with -0.0 and NaN normalized as GROUP BY and join keys are. */
  def normalizeFloats(
      e: org.apache.spark.sql.catalyst.expressions.Expression
  ): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
