package org.apache.spark.sql

/** The listeners attached to a session, per kind: SparkListeners on the
  * context's bus, QueryExecutionListeners and StreamingQueryListeners.
  * The first is package-private Spark state, hence this package. */
object ListenerCounts {
  def apply(spark: SparkSession): (Int, Int, Int) = (
    spark.sparkContext.listenerBus.listeners.size,
    spark.listenerManager.listListeners().length,
    spark.streams.listListeners().length)
}
