package org.apache.spark.sql.execution.ui

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution

/** Two package-private Spark handles the benchmark's tracer needs: the
 * listener bus's drain (to read a sequence's events once all have
 * arrived) and the query execution an SQL execution-end event carries
 * (for its executed plan's SQL metrics). */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
