package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scaling probe behind README's "Scale design" numbers. Each
  * rung prints `[scale]` lines; `SPARK_GRAFT_PROBE=a,b` runs only the
  * rungs whose name contains one of the given substrings. The session
  * and data follow `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_SF_DIR` (default
  * sf0.1), as for Bench:
  *
  *   SPARK_GRAFT_PROBE=skew_join sbt "runMain graft.ScaleProbe"
  *
  * The dedup rungs replicate the corpus k-fold (doc_id offsets
  * keep ids unique, so every doc gains k-1 exact twins — the DEGENERATE
  * mega-bucket case for LSH).
  *
  * Measured on local[32] at sf0.1 (5,000 documents):
  *   clusters  (star-contracted CC)  k=1: ~7s   k=10: ~8s  — linear
  *     (timed before the warm-up call existed, so k=1 there includes
  *     start-up; with it, at sf0.001 on local[4]: warmup 5.7 s, then
  *     k=1 1.4 s, k=4 2.0 s, k=10 3.1 s for 500 / 2,000 / 5,000 docs)
  *   minhash_pairs (pairwise est graph) k=1: 6.1M rows, k=4: 97.9M rows
  *     — exactly 16x for 4x docs: the k^2 pair blowup BY CONSTRUCTION.
  * That contrast is the design argument for [[graft.dedup.DedupQueries
  * .dedupClustersStarOf]]: clustering must never materialize the
  * pairwise graph on a twin-heavy corpus. The pairwise probe is capped
  * at k=4 for exactly that reason.
  *
  * vpic_read (DSv2 reader, row-reuse hot loop): 1.31M cells — full
  * schema 0.25 s (~5.1M rows/s), column-pruned value-only scan 0.09 s
  * (~15.2M rows/s): pruning reaches the reader, not just the plan.
  *
  * neardup_stream (stream-static band-index join, 200k-entry index
  * from the 10x corpus): 500-doc micro-batches process in ~4.5 s
  * steady state (first batch ~8 s: plan + codegen warmup), timed from
  * BEFORE data lands so the number is the full arrival-to-drained
  * latency — per-row signatures keep the stream side shuffle-free,
  * and even 23M candidate hits per batch (every arrival has 10 exact
  * twins + the shared-vocabulary bucket collisions) fan out to the
  * sink without touching the driver.
  *
  * skew_join (3M-row fact, ONE key carrying 40%, dim too big to
  * broadcast): plain SMJ 1.0-1.6 s, AQE skew-join 0.8-1.0 s, uniform
  * saltedJoin 0.8-1.3 s, saltedJoinHotKeys 2.6-3.0 s. At probe scale
  * AQE's runtime split already wins, and the hot-key census (two extra
  * joins + a union of two plans) costs more than the straggler it
  * removes — the declarative salting paths earn their keep only where
  * AQE cannot act (shuffle-hash joins, skew landing in aggregations
  * above the join, or configs without AQE), which is why q49 documents
  * them as the fallback, not the default.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Tables.documents(spark, sfDir)
    lazy val nBase = base.count()
    def corpus(k: Int) = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionAll _)
    def probe(name: String, ks: Seq[Int])(f: org.apache.spark.sql.DataFrame => Long): Unit = {
      def run(label: String, k: Int): Unit = {
        val c = corpus(k)
        val t0 = System.nanoTime()
        val n = f(c)
        CacheScope.flush(spark)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $name $label docs=${nBase * k} rows=$n time=$dt%.2f s")
      }
      // one call at the first k before the rungs, printed as `warmup`:
      // every rung is then a warm run (JIT and codegen paid), so the
      // first rung measures scaling, not start-up
      run(s"warmup k=${ks.head}", ks.head)
      ks.foreach(k => run(s"k=$k", k))
    }
    val only = sys.env.get("SPARK_GRAFT_PROBE").map(_.split(',').toSeq)
    def enabled(name: String) = only.forall(_.exists(name.contains))
    if (enabled("clusters")) probe("clusters", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries.dedupClustersStarOf(c).count())
    // pairwise est graph: k^2 pair growth by construction — k capped
    if (enabled("minhash_pairs")) probe("minhash_pairs", Seq(1, 4))(c =>
      graft.dedup.DedupQueries.minhashPairsOf(c).count())
    if (enabled("vpic")) vpicThroughput(spark)
    if (enabled("neardup_stream"))
      streamingNearDupLatency(spark, sfDir, corpus(10))
    if (enabled("skew_join")) aqeVsSalting(spark, sfDir)
    spark.stop()
  }

  /** DSv2 VPIC scan throughput over a 40x32x8x64 grid of two variables
    * (1.31M cells) streamed through the zero-allocation reader: full
    * schema, column-pruned, and a pushed it-range.
    */
  private def vpicThroughput(spark: SparkSession): Unit = {
    import graft.sources.VPICSource
    val dir = TempArtifacts.dir("vpic_probe")
    val vars: Map[String, (Int, Int, Int, Int) => Double] =
      Map("a/v1" -> ((it, iz, iy, ix) => it + iz + iy + ix.toDouble),
          "b/v2" -> ((it, iz, iy, ix) => it * 2.0 - iz + iy - ix))
    VPICSource.writeMock(dir, Array.tabulate(40)(_.toDouble),
      Array.tabulate(32)(_ * 0.1), Array.tabulate(8)(_ * 0.1),
      Array.tabulate(64)(_ * 0.1), vars)
    val rows = 2L * 40 * 32 * 8 * 64
    def scan = spark.read.format("graft-vpic").option("path", dir).load()
    // the 'full' leg must REFERENCE every column: V2 scan pushdown
    // prunes the required schema to whatever the aggregate touches, so
    // a bare sum(value) would make 'full' and 'pruned' the identical
    // plan and the comparison would measure nothing
    for ((label, df, n) <- Seq[(String, org.apache.spark.sql.DataFrame, Long)](
        ("full", scan.agg(sum("value"), max("it"), max("iz"),
          max("iy"), max("ix"), count("var")), rows),
        ("pruned(value)", scan.select("value").agg(sum("value")), rows),
        ("it<10 chunk-pruned",
          scan.filter(col("it") < 10).agg(sum("value")), rows / 4))) {
      val t0 = System.nanoTime()
      df.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] vpic_read $label rows=$n time=$dt%.2f s " +
        f"(${n / dt / 1e6}%.1f M rows/s)")
    }
  }

  /** Streaming incremental near-dup, micro-batch latency: arriving docs
    * (500/batch) per-row-signed and joined against the band index of a
    * 10x corpus (50k docs) — evidence for the stream-static index shape
    * (Streams.nearDupCandidatesStream).
    */
  private def streamingNearDupLatency(spark: SparkSession, sfDir: String,
      corpus10: org.apache.spark.sql.DataFrame): Unit = CacheScope.scoped {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = CacheScope.retain(
      graft.dedup.DedupQueries.bandBucketsPerRow(corpus10))
    println(s"[scale] neardup_stream index rows=${index.count()} (10x corpus)")
    val mem = MemoryStream[(Long, String)]
    // count-only sink: on this twin-heavy degenerate corpus every
    // arrival matches thousands of index docs, so collecting candidates
    // driver-side (memory sink) would exceed maxResultSize — exactly
    // the situation a real deployment is in, where the sink is a store,
    // not the driver.
    val counts = new java.util.concurrent.atomic.AtomicLong
    val q = graft.streaming.Streams.nearDupCandidatesStream(
        mem.toDF.toDF("doc_id", "text"), index)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.addAndGet(df.count()); ()
      }
      .start()
    try {
      val arrivals = Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 500)
        .select("doc_id", "text").as[(Long, String)].collect()
      for (b <- 0 until 3) {
        // reset + start the clock BEFORE addData: the running query may
        // begin (even finish) the micro-batch the moment data lands, so
        // resetting afterwards could wipe an already-counted batch and
        // start the timer mid-processing.
        counts.set(0)
        val t0 = System.nanoTime()
        mem.addData(arrivals.map { case (id, t) =>
          (id + 900000000L + b * 1000L, t) }.toSeq)
        q.processAllAvailable()
        println(f"[scale] neardup_stream batch=$b docs=500 " +
          f"candidates=${counts.get()} " +
          f"latency=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    } finally q.stop()
  }

  /** AQE skew-join vs declarative salting on the same skewed join —
    * which path actually fixes the straggler, and what uniform salting
    * costs. Fact = orders x20 with 40% of rows remapped to ONE hot
    * custkey; dim = customer; broadcast disabled (the 100 TB case where
    * the dim does not broadcast). AQE thresholds tuned down so the
    * optimizer can see the skew at probe scale.
    */
  private def aqeVsSalting(spark: SparkSession,
      dir: String): Unit = CacheScope.scoped {
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val nCust = cust.count()
    val fact = CacheScope.retain((0 until 20).map { i =>
      Tables.orders(spark, dir).select(
        (col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
        when(col("o_orderkey") % 5 < 2, lit(1L)) // 40% -> hot key 1
          .otherwise(pmod(col("o_orderkey") * 2654435761L, lit(nCust)) + 1)
          .as("c_custkey"),
        col("o_totalprice"))
    }.reduce(_ unionAll _))
    println(s"[scale] skew_join fact rows=${fact.count()} (hot key = 40%)")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      // mutated per-case below; listed here so the restore covers it
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"[scale] skew_join $label rows=$n " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      time("plain SMJ (skew straggler)")(fact.join(cust, "c_custkey").count())
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      time("AQE skew-join")(fact.join(cust, "c_custkey").count())
      time("saltedJoinHotKeys(salt=16)")(
        graft.relational.JoinOps.saltedJoinHotKeys(
          fact, cust, "c_custkey", 16, 100000L).count())
      time("saltedJoin uniform(salt=16)")(
        graft.relational.JoinOps.saltedJoin(
          fact, cust, "c_custkey", 16).count())
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
