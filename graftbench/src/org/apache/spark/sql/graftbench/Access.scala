package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. They are
  * package-private in Spark, so this accessor lives under Spark's package.
  */
object Access {
  /** Analysis + optimization + planning ms of a finished SQL execution,
    * from its QueryExecution's planning tracker (0 when Spark attached
    * none to the event).
    */
  def planMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map { qe =>
      Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble
    }.getOrElse(0.0)

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
