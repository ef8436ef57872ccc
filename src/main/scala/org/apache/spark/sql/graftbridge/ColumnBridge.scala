package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the Column/Expression conversion `private[sql]`
  * (columnNodeSupport.scala); extension libraries reach it by declaring a
  * bridge inside the org.apache.spark.sql package — the same technique used
  * by public Spark connector/extension projects.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Dataset from a (resolved) logical plan — `Dataset.ofRows` is
    * `private[sql]` in Spark 4; custom whole-operator nodes
    * (graft.plans.TopKPerKeyNode) need this one constructor. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
