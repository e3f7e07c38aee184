package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a piece of code ran on a session, read from Spark's own
  * query-execution events rather than from a changed pipeline: every
  * action (`localCheckpoint`, `count`, `collect`, a write's `command`,
  * ...) that completes on the session during [[actions]]' scope, with
  * the executed plan it ran (AQE's final plan) and its SQL metrics.
  */
object Profile {

  /** One completed action: Spark's action name, its query execution
    * and its wall duration.
    */
  final case class Action(name: String, qe: QueryExecution, durationNs: Long)

  /** Run `body`, returning its value and the actions it completed on
    * `spark`, in completion order. The listener is registered for the
    * scope only and removed even when `body` throws.
    */
  def actions[T](spark: SparkSession)(body: => T): (T, Seq[Action]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(Action(name, qe, durationNs))
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      GraftSqlBridge.waitForListeners(spark.sparkContext)
      (out, seen.toArray(Array.empty[Action]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
