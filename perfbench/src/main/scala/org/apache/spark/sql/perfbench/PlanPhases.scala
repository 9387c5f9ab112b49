package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. Both are
  * package-private in Spark, so this accessor lives under
  * `org.apache.spark.sql`; everything else in the benchmark uses public
  * API.
  */
object PlanPhases {
  /** Catalyst phase timings of a finished SQL execution:
    * phase name ("analysis", "optimization", "planning") → (startMs, endMs).
    */
  def of(e: SparkListenerSQLExecutionEnd): Map[String, (Long, Long)] =
    Option(e.qe).map(_.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs)
    }).getOrElse(Map.empty)

  /** Blocks until the listener bus has delivered every posted event, so
    * a trace read right after an action sees that action's jobs.
    */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
