package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two package-private parts of Spark the traced run reads:
  * the listener bus, whose callbacks run asynchronously, so the traced run
  * drains it before it reads its listeners' counters; and the query
  * execution an SQL execution's end event carries, whose executed plan
  * names the files the execution wrote.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
