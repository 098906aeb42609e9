package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners need and the
  * public API does not offer.
  */
object Internals {
  /** Block until every posted event has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query execution an execution-end event reports on: the same
    * object a QueryExecutionListener receives, here with its id. */
  def qeOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
