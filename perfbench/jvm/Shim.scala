package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reaches the two `private[spark]`/`private[sql]` members the benchmark
  * reads from outside the program. */
object Shim {
  /** Catalyst phase durations (ms) of a finished SQL execution. */
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, Long] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
      .getOrElse(Map.empty)

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
