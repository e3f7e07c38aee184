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

  /** Start `df` as an unnamed stream on its own session whose sink hands
    * each micro-batch's frame to `batch`, one batch at a time in
    * batch-id order. The frame's query execution is the micro-batch's
    * incremental execution, so an action on it runs, and reports to a
    * `QueryExecutionListener`, the stream's physical plan with its
    * stateful operators (`foreachBatch` hands over a frame over the
    * batch's RDD, whose plan is a bare RDD scan). The query names no
    * checkpoint location: Spark checkpoints under the session's
    * `spark.sql.streaming.checkpointLocation` root if one is set, else in
    * a temporary directory it deletes on a clean stop.
    */
  def startMicroBatches(df: DataFrame, mode: streaming.OutputMode)(
      batch: DataFrame => Unit): streaming.StreamingQuery = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val sink = new execution.streaming.Sink {
      def addBatch(batchId: Long, data: DataFrame): Unit = batch(data)
    }
    ds.sparkSession.streams.startQuery(None, None, ds, Map.empty, sink, mode,
      useTempCheckpointLocation = true)
  }

  /** An eager local checkpoint of a micro-batch frame, as a batch frame.
    * The checkpoint leaf inherits the micro-batch plan's streaming flag,
    * which every later batch action (and any read of its optimized plan)
    * rejects, so the leaf is rebuilt without it.
    */
  def checkpointBatch(data: DataFrame): DataFrame = {
    val cp = data.localCheckpoint(true).asInstanceOf[classic.Dataset[Row]]
    val leaf = cp.queryExecution.analyzed.asInstanceOf[execution.LogicalRDD]
    classic.Dataset.ofRows(cp.sparkSession, execution.LogicalRDD(leaf.output,
      leaf.rdd, leaf.outputPartitioning, leaf.outputOrdering,
      isStreaming = false)(cp.sparkSession))
  }

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
