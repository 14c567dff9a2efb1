package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column <-> Expression conversions for
  * graft's native Catalyst expressions (Spark 4 removed the public
  * `new Column(expr)` / `col.expr` surface; `classic.ExpressionUtils` is
  * the supported internal path).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Live-session function registry (sessionState is private[sql]). */
  def functionRegistry(
      spark: SparkSession): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Dataset from a custom logical plan (`Dataset.ofRows` is private[sql]) —
    * the construction path for graft's own logical operators. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (`logicalPlan` is private[sql]). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Non-blocking read of an Observation's metrics (`getOrEmpty` is
    * private[sql]) — empty until the asynchronous listener delivers the
    * execution's observed metrics; callers poll briefly and fall back to
    * an explicit aggregate rather than blocking on `get`.
    */
  def observationGetOrEmpty(o: Observation): Map[String, Any] = o.getOrEmpty

  /** V1 writes' duplicate-column check and error (`SchemaUtils` is
    * private[spark]). */
  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    util.SchemaUtils.checkColumnNameDuplication(names, caseSensitive)
}
