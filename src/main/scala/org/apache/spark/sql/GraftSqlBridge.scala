package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's package-private Column↔Expression
  * converters, for registering graft's native Catalyst expressions as
  * `Column`s. Same pattern as other Spark-extension libraries (a
  * one-file shim in the `org.apache.spark.sql` namespace).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the construction
    * path for graft's custom logical operators (e.g. the as-of join
    * node), same as Spark's own `Dataset.ofRows`.
    */
  def dataFrame(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Evict cached state-store providers after a streaming query ends
    * (keeps finished streams from taxing later batch work in the same
    * session).
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Drain the listener bus: listener delivery is asynchronous, so a
    * reader of listener-fed records (`graft.Profile`) drains it
    * before reading.
    */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports (the object a
    * `QueryExecutionListener` receives for the same action); null for
    * an event posted without one.
    */
  def queryExecution(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = e.qe
}
