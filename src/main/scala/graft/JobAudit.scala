package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (beside the Verify/Bench entry points): where one named query's
  * time goes. For each query it prints the formatted physical plan,
  * then replays the Bench methodology (warmup runs + a timed run,
  * count() force, CacheScope flush between runs) while a listener
  * buckets every job by its root call site (AQE query-stage jobs share
  * the root action's SQL execution id, so they fold into the action
  * that spawned them). Output: per-site job counts and summed job wall
  * ms for the FINAL (warm) run — the breakdown that says which action
  * inside a multi-action operator is worth optimizing.
  *
  *   sbt "runMain graft.JobAudit q111_semantic_dedup q104_cluster_policy_compare"
  *   SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 sbt "runMain graft.JobAudit q01_pricing_summary"
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    spark.range(100000).groupBy((col("id") % 7).as("k")).count().count()
    Tables.lineitem(spark, sfDir).limit(1000).count()

    val names = if (args.nonEmpty) args.toSeq else Seq("g19_find_structures")
    names.foreach { name =>
      val fn = QueryRegistry.queries(name)
      // warmup runs (codegen + page cache), flushed like Bench; the
      // last one's frame prints its plan
      (0 until 2).foreach { i =>
        try {
          val df = fn(spark, sfDir)
          if (i == 1) {
            println(s"[audit] ===== $name plan")
            df.explain("formatted")
          }
          df.count(); ()
        } catch { case _: Throwable => () }
        CacheScope.flush(spark, blocking = true)
      }
      System.gc()
      val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]
      val durs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
      val started =
        new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
      val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val infos = j.stageInfos.sortBy(_.stageId)
          val raw = infos.lastOption.map(_.name).getOrElse("unknown")
          val execId = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse("-")
          val site =
            if (raw.contains("CompletableFuture")) s"exec=$execId (aqe stage)"
            else { execSite.putIfAbsent(execId, raw); raw }
          sites.merge(site, 1, (a, b) => a + b)
          started.put(j.jobId, (site, j.time))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(started.remove(j.jobId)).foreach { case (site, t0) =>
            durs.merge(site, j.time - t0, (a, b) => a + b)
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); () } catch {
        case e: Throwable => println(s"[audit] $name FAILED: $e")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      CacheScope.flush(spark, blocking = true)
      // drain the async listener bus before reading the maps
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val total = sites.asScala.values.map(_.intValue).sum
      val tTotal = durs.asScala.values.map(_.longValue).sum
      println(f"[audit] ===== $name wall=$wall%.2f s jobs=$total jobms=$tTotal")
      sites.asScala.toSeq.sortBy { case (s, _) =>
        -Option(durs.get(s)).map(_.longValue).getOrElse(0L) }.foreach {
        case (s, c) =>
          val ms = Option(durs.get(s)).map(_.longValue).getOrElse(0L)
          val label = if (s.startsWith("exec=")) {
            val id = s.stripPrefix("exec=").takeWhile(_ != ' ')
            s + Option(execSite.get(id)).map(r => s" root: $r").getOrElse("")
          } else s
          println(f"[audit]   $c%3d  ${ms}%6d ms  $label")
      }
      System.gc()
    }
    spark.stop()
  }
}
