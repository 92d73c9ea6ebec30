package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool (beside the Verify/Bench entry points): where one named query's
  * time goes. For each query it prints the formatted physical plan,
  * then replays the Bench methodology (warmup runs, count() force,
  * CacheScope flush between runs) and times three warm calls while a
  * listener buckets every job by its root call site (AQE query-stage
  * jobs share the root action's SQL execution id, so they fold into
  * the action that spawned them). Output: each warm call's wall and
  * their median (one call's wall moves by about 20% on unchanged
  * code), then per-site job counts and summed job wall ms for the last
  * warm call — the drift-free breakdown that says which action inside
  * a multi-action operator is worth optimizing.
  *
  *   sbt "runMain graft.JobAudit q111_semantic_dedup q104_cluster_policy_compare"
  *   SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 sbt "runMain graft.JobAudit q01_pricing_summary"
  */
object JobAudit {
  private val WarmCalls = 3

  /** Jobs per root call site of one call: counts, summed job wall ms,
    * and the root site of each SQL execution id, read from the
    * execution's start event (a write whose only jobs are AQE stages
    * has no other job to learn it from).
    */
  private final class SiteJobs extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.ConcurrentHashMap
    val sites = new ConcurrentHashMap[String, Integer]
    val durs = new ConcurrentHashMap[String, java.lang.Long]
    private val started = new ConcurrentHashMap[Int, (String, Long)]
    val execSite = new ConcurrentHashMap[String, String]

    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val infos = j.stageInfos.sortBy(_.stageId)
      val raw = infos.lastOption.map(_.name).getOrElse("unknown")
      val execId = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("-")
      val site =
        if (raw.contains("CompletableFuture")) s"exec=$execId (aqe stage)"
        else raw
      sites.merge(site, 1, (a, b) => a + b)
      started.put(j.jobId, (site, j.time))
    }

    override def onOtherEvent(
        e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId.toString, s.description)
      case _ =>
    }

    override def onJobEnd(
        j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (site, t0) =>
        durs.merge(site, j.time - t0, (a, b) => a + b)
      }
  }

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
        } catch {
          case e: Throwable => println(s"[audit] $name warmup $i FAILED: $e")
        }
        CacheScope.flush(spark, blocking = true)
      }
      val calls = (1 to WarmCalls).map { i =>
        System.gc()
        Bridge.drainListenerBus(spark.sparkContext)
        val jobs = new SiteJobs
        spark.sparkContext.addSparkListener(jobs)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); () } catch {
          case e: Throwable => println(s"[audit] $name call $i FAILED: $e")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        CacheScope.flush(spark, blocking = true)
        Bridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        println(f"[audit] $name warm call $i wall=$wall%.2f s")
        (wall, jobs)
      }
      val median = calls.map(_._1).sorted.apply(WarmCalls / 2)
      val last = calls.last._2
      import scala.jdk.CollectionConverters._
      val total = last.sites.asScala.values.map(_.intValue).sum
      val tTotal = last.durs.asScala.values.map(_.longValue).sum
      println(f"[audit] ===== $name median wall=$median%.2f s " +
        s"(of $WarmCalls) jobs=$total jobms=$tTotal")
      def ms(site: String): Long =
        Option(last.durs.get(site)).map(_.longValue).getOrElse(0L)
      last.sites.asScala.toSeq.sortBy { case (s, _) => -ms(s) }.foreach {
        case (s, c) =>
          val label = if (s.startsWith("exec=")) {
            val id = s.stripPrefix("exec=").takeWhile(_ != ' ')
            s + Option(last.execSite.get(id)).map(r => s" root: $r")
              .getOrElse("")
          } else s
          println(f"[audit]   $c%3d  ${ms(s)}%6d ms  $label")
      }
    }
    spark.stop()
  }
}
