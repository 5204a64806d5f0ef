package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to two Spark internals the benchmark's listeners need: the
  * listener bus (`private[spark]`), to wait until every posted event was
  * handled, and the query behind an execution-end event (`private[sql]`),
  * to join a QueryExecutionListener callback to its SQL execution id. */
object Shim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
