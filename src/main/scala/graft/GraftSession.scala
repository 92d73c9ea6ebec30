package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Scale notes: shuffle partitions default to the local core count for
  * local runs; on a real cluster this is expected to be overridden
  * (spark.sql.shuffle.partitions) or handled by AQE coalescing, which we
  * enable. All timestamps are UTC for oracle parity.
  */
object GraftSession {
  /** Capacity of Spark's generated-class cache, a JVM-wide LRU keyed by
    * the generated source (Spark's default holds 100). One pass over all
    * 215 registered queries at sf0.1 compiles 3537 distinct classes, one
    * pass over the grid workload 179, so at 100 every warm pass recompiles
    * what the previous pass evicted. A cached class costs 20-30 KB of
    * live heap.
    */
  val CodegenCacheEntries = 4096

  /** Status-store retention. Spark's status store keeps the plan graph,
    * metrics and description of the last 1000 SQL executions, jobs and
    * stages and 100000 tasks by default, even with the UI disabled;
    * nothing in graft reads it, so it only grows the driver's live heap.
    */
  val RetainedExecutions = 10
  val RetainedJobs = 10
  val RetainedStages = 10
  val RetainedTasks = 1000
  val RetainedRootRDDs = 10

  /** Configs every Graft session needs, applied to an existing builder.
    * The codegen cache size and the status-store retention are static:
    * they take effect only for the JVM's first SparkContext (and its
    * first generated class), so every session is built through here.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark reads it as
      // nanos-since-epoch LongType with this flag (Tables.events converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Unfiltered count()/min/max over parquet answer from footer
      // statistics instead of scanning row groups (off by default in
      // Spark 4.x). The artifact lifecycles (q119/q150/q156) poll
      // row counts of their persisted components — metadata reads at
      // any scale. Exact by construction; Spark falls back to the
      // scan when a query shape is unsupported.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .config("spark.ui.retainedJobs", RetainedJobs.toString)
      .config("spark.ui.retainedStages", RetainedStages.toString)
      .config("spark.ui.retainedTasks", RetainedTasks.toString)
      .config("spark.ui.dagGraph.retainedRootRDDs", RetainedRootRDDs.toString)

  def get(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
