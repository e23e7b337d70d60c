package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** How many Spark, streaming-query and query-execution listeners the
  * session has registered. */
object ListenerCounts {
  def apply(spark: SparkSession): (Int, Int, Int) =
    (spark.sparkContext.listenerBus.listeners.size, spark.streams.listListeners().length,
      spark.listenerManager.listListeners().length)
}
