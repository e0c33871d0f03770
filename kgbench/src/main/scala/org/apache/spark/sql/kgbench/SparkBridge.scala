package org.apache.spark.sql.kgbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private hooks the tracer needs, reached from Spark's own
  * package: draining the listener bus, and the query execution behind an
  * SQL execution id (which joins a [[QueryExecution]] seen by a
  * QueryExecutionListener to the jobs that carry that execution id). */
object SparkBridge {
  /** Block until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
