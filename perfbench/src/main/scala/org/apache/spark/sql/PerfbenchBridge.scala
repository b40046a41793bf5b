package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark needs, exposed from inside
  * Spark's package like the engine's own `GraftColumnBridge`.
  */
object PerfbenchBridge {

  /** Block until every event posted so far has reached every listener, so
    * a traced pass's records are complete before its listeners detach.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an execution-end event reports. It is the object
    * `QueryExecutionListener`s are handed, but unlike that interface the
    * event also carries the execution id that the execution's jobs carry,
    * and it is set for every execution, named action or not.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
