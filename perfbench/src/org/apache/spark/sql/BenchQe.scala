package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL execution ran is private to Spark SQL; the tracer
  * needs its id to join an execution to the planning phases the query
  * execution listener reported for it.
  */
object BenchQe {
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
