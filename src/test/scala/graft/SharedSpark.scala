package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object SharedSpark {
  /** The test JVM's session builder. Every suite that builds a session
    * starts from it, so whichever suite runs first creates the JVM's
    * SparkContext (and its codegen cache) with graft's configuration.
    */
  def builder: SparkSession.Builder =
    GraftSession.configure(SparkSession.builder().master("local[4]"), "4")

  lazy val spark: SparkSession = {
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
