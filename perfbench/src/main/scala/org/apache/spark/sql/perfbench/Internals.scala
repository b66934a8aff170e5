package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two pieces of Spark the benchmark's listener needs that Spark keeps
  * package-private. */
object Internals {
  /** Wait until every listener event posted so far has been handled. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The executed plan of a finished SQL execution: the same
    * QueryExecution a QueryExecutionListener receives, but together with
    * the execution id its jobs carry, which QueryExecution.id is not. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
