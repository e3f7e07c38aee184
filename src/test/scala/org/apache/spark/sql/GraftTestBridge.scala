package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's package-private test hooks that graft's specs read. */
object GraftTestBridge {
  /** The query-execution listeners registered on `spark`. */
  def queryListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** The listeners on `spark`'s SparkContext bus. */
  def sparkListeners(spark: SparkSession): Seq[SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }
}
