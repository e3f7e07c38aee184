package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's package-private test hooks that graft's specs read. */
object GraftTestBridge {
  /** The query-execution listeners registered on `spark`. */
  def queryListeners(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
