package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark members the benchmark's tracer needs. */
object SparkInternals {
  /** Wait until every listener event posted so far has been delivered:
    * Spark delivers them asynchronously. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an execution-end event reports on (null for executions
    * that carry none). */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
