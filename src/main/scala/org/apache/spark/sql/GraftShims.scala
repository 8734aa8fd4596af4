package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's Catalyst expressions and the public Column API.
  * Spark 4 moved Column↔Expression conversion behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); this shim re-exports
  * the two conversions the library needs.
  */
object GraftShims {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column→Expression conversion — [[toExpression]] returns a lazy
    * `ColumnNodeExpression` wrapper whose tree is only expanded during
    * analysis, so structural inspection (e.g. "is this a window function?")
    * needs the converter invoked directly.
    */
  def toExpressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a logical plan on the active session (`Dataset.ofRows`
    * is `private[sql]` in Spark 4).
    */
  def ofRows(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.SparkSession.active, plan)

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `spark`'s conf and catalog in a session of its own (`private[sql]`). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Drain the listener bus so `observe()` metrics delivered through a
    * QueryExecutionListener are visible (the bus is `private[spark]`).
    */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
