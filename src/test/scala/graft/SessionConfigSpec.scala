package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The JVM-wide limits GraftSession.configure sets: a generated-class
  * cache that holds a whole pass of graft's plans, and a status store
  * that does not grow with every action.
  */
class SessionConfigSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** The benchmark's grid workload: one pass compiles more generated
    * classes than Spark's default cache (100) holds.
    */
  val GridQueries = Seq("g01_grid_slice", "g02_grid_bounds", "g04_gradient",
    "g11_nulls", "g13_connected_components", "g14_region_extrema",
    "g15_line_slice")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over the grid queries compiles no class") {
    def pass(): Long = {
      val c0 = compiles
      GridQueries.foreach { n =>
        try QueryRegistry.queries(n)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        finally CacheScope.flush(spark)
      }
      compiles - c0
    }
    pass()
    assert(pass() == 0)
  }

  test("the status store keeps at most the capped executions and jobs") {
    (1 to 3 * GraftSession.RetainedExecutions).foreach(i =>
      spark.range(i).groupBy().count().collect())
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(spark.sharedState.statusStore.executionsCount()
        <= GraftSession.RetainedExecutions)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
        <= GraftSession.RetainedJobs)
    }
  }
}
