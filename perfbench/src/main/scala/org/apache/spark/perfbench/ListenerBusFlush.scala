package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Blocks until every event posted so far on the session's listener bus
  * has been delivered. The bus is package-private to Spark, hence this
  * one bridge; the benchmark reads all listener data through the public
  * listener interfaces. */
object ListenerBusFlush {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
