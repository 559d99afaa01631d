package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners need, which Spark
  * keeps package-private. */
object SparkInternals {

  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The id of the QueryExecution an execution-end event reports, which
    * is not its execution id. */
  def queryIdOf(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
