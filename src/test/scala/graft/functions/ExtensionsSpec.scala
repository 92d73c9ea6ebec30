package graft.functions

import graft.SharedSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** dot_product must be available through the SparkSessionExtensions
  * injection point — the deployment path where no engine code runs
  * before SQL does (clusters set
  * `spark.sql.extensions=graft.functions.GraftExtensions`; that static
  * conf only takes effect when the session CREATES the SparkContext, so
  * in this shared-context test JVM we exercise the same object through
  * the programmatic `withExtensions` hook). The session is built from
  * SharedSpark's builder, so if this suite runs first the context it
  * creates carries graft's configuration. The sibling session shares
  * the existing context — extensions are per-session state — and the
  * active/default sessions are restored afterwards; it must NOT stop()
  * the shared context.
  */
class ExtensionsSpec extends AnyFunSuite {
  test("GraftExtensions injects dot_product into a fresh session") {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SharedSpark.builder
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val v = s.sql(
        """SELECT dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                   array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
          |""".stripMargin).head().getDouble(0)
      assert(v == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
