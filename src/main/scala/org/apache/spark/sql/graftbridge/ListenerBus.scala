package org.apache.spark.sql.graftbridge

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The listener-bus reads `graft.obs` needs that Spark keeps
  * package-private: the bus's flush, its listener list, and the query
  * execution a SQL execution's end event carries.
  */
object ListenerBus {
  /** Blocks until every event posted so far has been delivered. */
  def flush(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  def registered(spark: SparkSession, l: SparkListenerInterface): Boolean =
    spark.sparkContext.listenerBus.listeners.contains(l)

  /** Planning ms and execution ns of a finished SQL execution. */
  def planning(e: SparkListenerSQLExecutionEnd): Option[(Long, Long)] =
    Option(e.qe).map(qe => (qe.tracker.phases.values.map(_.durationMs).sum, e.duration))
}
