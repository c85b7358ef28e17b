package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(expr)/col.expr bridge; the classic
  * converter is private[sql]. This shim (in the sql namespace, the standard
  * extension pattern) re-exposes it for graft's custom Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Dataset.ofRows is private[sql] in Spark 4 — re-exposed for commands
    * that analyze a stored logical plan at execution time (SQL MERGE).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `StructType.asNullable` is private[spark]: the recursive relaxation
    * `DataFrameReader` applies to a user schema (nested fields included).
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable
}
