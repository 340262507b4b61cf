package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark needs: draining the listener bus
  * before reading what listeners saw, the QueryExecution an execution-end
  * event carries (what Spark hands to a QueryExecutionListener), and
  * unloading state-store providers left behind by drained streaming
  * queries. All are package-private in Spark, hence this object in Spark's
  * package namespace. */
object Bridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  /** Set exactly when Spark reports the event to QueryExecutionListeners:
    * a top-level (named) execution that carries its QueryExecution. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe).filter(_ => e.executionName.isDefined)
  def unloadAllStateStores(): Unit = StateStore.unloadAll()
}
