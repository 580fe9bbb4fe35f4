package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the in-process fields of a SQL execution's end event and waits for
  * the listener bus. Both are package-private to Spark, hence this package. */
object SqlEvents {

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Milliseconds spent in each planning phase (analysis, optimization,
    * planning) by the execution that just ended; empty when the event
    * carries no query execution (replayed or remote events). */
  def phasesMs(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, p) => k -> p.durationMs }).getOrElse(Map.empty)

  /** The execution's run time in nanoseconds, as Spark recorded it. */
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
