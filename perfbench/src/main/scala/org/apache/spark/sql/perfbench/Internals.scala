package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads, both package-private to
  * Spark, hence this package. */
object Internals {
  /** Waits until the listener bus has delivered every posted event, so a
    * traced pass's spans are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** The id of the QueryExecution an SQL execution ran, which is what a
    * QueryExecutionListener sees; None when the event did not carry it. */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
