package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression (and LogicalPlan -> DataFrame) bridge.
  * Spark 4 made these conversions `private[sql]` (Columns are backed
  * by ColumnNodes, resolved per session); extension libraries that
  * define native Catalyst expressions and plan nodes need this one
  * seam into the classic converters. Kept to these forwarders plus the
  * listener-bus drain — everything else in graft uses the public API.
  */
object Bridge {
  /** Wait until every listener event posted so far has been handled. */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
