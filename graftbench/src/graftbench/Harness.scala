package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Access
import org.apache.spark.sql.types._

import graft.{CacheScope, GraftSession, QueryRegistry, Tables}

/** One benchmark run in one JVM.
  *
  * Arguments are `key=value` pairs (see [[Opts]]). The query list file has
  * one query name per line. Modes:
  *  - `run`: set up the session once (timed from JVM start), then run a
  *    cold pass and [[WarmPasses]] warm passes over the query list, each
  *    in a seeded order. Every query is built with its `Q.fn` and forced
  *    by one aggregate that returns its row count and an order-insensitive
  *    fingerprint over all output columns. Each pass ends with a full
  *    collection; the cold and the last pass end with a heap fence.
  *  - `record`: like `run`, but the forcing aggregate also computes the
  *    double-normalised fingerprint, so an unstable query can be told
  *    apart from one whose doubles differ only in their last bits.
  *  - `dump`: write each query's output as parquet under `dump`, and
  *    emit the DuckDB oracle SQL of the queries that have one.
  *
  * Results go to `out` as JSON lines; with `trace=1` the spans of the
  * run (harness spans, Spark jobs and SQL executions) follow them. The
  * JVM exits non-zero only when it could not run at all; per-query
  * failures are records.
  */
object Harness {
  final case class Opts(
      mode: String, data: String, cpus: Int, queries: Seq[String],
      seed: Long, trace: Boolean, out: String, dump: String,
      localDir: String, warehouse: String)

  /** Warm passes after the cold pass. */
  val WarmPasses = 5

  private def parse(args: Array[String]): Opts = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    val qs = scala.io.Source.fromFile(get("queries")).getLines()
      .map(_.trim).filter(_.nonEmpty).toSeq
    Opts(get("mode"), get("data"), get("cpus").toInt, qs,
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("trace", "0") == "1",
      get("out"), kv.getOrElse("dump", ""), get("localDir"), get("warehouse"))
  }

  // ---- clock: epoch ms with sub-ms resolution, comparable to the
  // ms-resolution `time` fields of Spark listener events
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  // ---- minimal JSON writing
  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    js(k) + ":" + (v match {
      case null | None => "null"
      case Some(x) => x match { case s: String => js(s); case o => o.toString }
      case s: String => js(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.4f"
      case o => o.toString
    })
  }.mkString("{", ",", "}")

  // ---- the forcing action
  private def needs(dt: DataType, norm: Boolean): Boolean = dt match {
    case DoubleType | FloatType => norm
    case _: MapType => true
    case ArrayType(et, _) => needs(et, norm)
    case StructType(fs) => fs.exists(f => needs(f.dataType, norm))
    case _ => false
  }

  /** A column that hashes identically whenever the value is "the same":
    * maps become key-sorted entry arrays (xxhash64 rejects maps), and with
    * `norm` (record mode only) doubles are rounded to float precision so
    * last-bit noise from summation order does not change the fingerprint.
    */
  private def canon(c: Column, dt: DataType, norm: Boolean): Column =
    dt match {
      case DoubleType | FloatType if norm => c.cast(FloatType)
      case MapType(kt, vt, vn) =>
        val et = StructType(Seq(StructField("key", kt, nullable = false),
          StructField("value", vt, vn)))
        array_sort(canon(map_entries(c), ArrayType(et, containsNull = false),
          norm))
      case ArrayType(et, _) if needs(et, norm) =>
        transform(c, x => canon(x, et, norm))
      case StructType(fs) if needs(dt, norm) =>
        struct(fs.toIndexedSeq.map(f =>
          canon(c.getField(f.name), f.dataType, norm).as(f.name)): _*)
      case _ => c
    }

  /** Row count and order-insensitive fingerprints over every output
    * column, one per entry of `norms`, in one aggregate (so no column can
    * be pruned away and the query runs once). A fingerprint sums the low
    * and high halves of each row's xxhash64, so it is sensitive to
    * duplicate rows and cannot overflow.
    */
  def fingerprints(df: DataFrame, norms: Seq[Boolean]): (Long, Seq[String]) = {
    val n = df.columns.length
    val pos = df.toDF((0 until n).map(i => s"c$i"): _*)
    val hs = norms.zipWithIndex.map { case (norm, i) =>
      xxhash64(pos.schema.fields.toIndexedSeq.map(f =>
        canon(col(f.name), f.dataType, norm)): _*).as(s"h$i")
    }
    val sums = norms.indices.flatMap { i =>
      val h = col(s"h$i")
      Seq(coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
    }
    val r = pos.select(hs: _*).agg(count(lit(1)), sums: _*).head()
    (r.getLong(0), norms.indices.map(i =>
      f"${r.getLong(1 + 2 * i)}%x-${r.getLong(2 + 2 * i)}%x"))
  }

  // ---- tracing
  /** Spans of the run, kept in memory and written out at the end. Harness
    * spans are opened and closed on the driver thread; each one sets the
    * `graftbench.span` local property, which Spark copies into the jobs
    * it starts, so a job names the harness span that was open when it
    * started. Job metrics are summed from task-end events.
    */
  final class Tracer(sc: SparkContext) extends SparkListener {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val ids = new AtomicLong
    private var stack: List[(String, String, Double)] = Nil // id, name, t0

    def open(name: String): String = {
      val id = s"h${ids.incrementAndGet()}"
      stack = (id, name, nowMs) :: stack
      sc.setLocalProperty("graftbench.span", id)
      id
    }
    def close(attrs: (String, Any)*): Unit = {
      val (id, name, t0) :: rest = stack: @unchecked
      stack = rest
      sc.setLocalProperty("graftbench.span", rest.headOption.map(_._1).orNull)
      lines.add(obj(Seq("k" -> "span", "id" -> id,
        "parent" -> rest.headOption.map(_._1), "name" -> name,
        "t0" -> t0, "t1" -> nowMs) ++ attrs: _*))
    }

    private final class Job(val t0: Long, val hspan: String,
        val sql: String) {
      var stages, tasks, failed = 0L
      var runMs, cpuNs, gcMs, waitMs, shRead, shWrite, fetchWaitMs, spill,
        inBytes, inRows, outBytes, outRows = 0L
    }
    private val jobs = mutable.Map.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
    private val sqlStart = mutable.Map.empty[Long, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs(e.jobId) = new Job(e.time,
        p.map(_.getProperty("graftbench.span")).orNull,
        p.map(_.getProperty("spark.sql.execution.id")).orNull)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(si.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.failed += 1
        stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t =>
          j.waitMs += math.max(0L, e.taskInfo.launchTime - t))
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime; j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shRead += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRows += m.outputMetrics.recordsWritten
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        lines.add(obj("k" -> "span", "id" -> s"j${e.jobId}",
          "name" -> "job", "t0" -> j.t0, "t1" -> e.time,
          "hspan" -> Option(j.hspan),
          "sql" -> Option(j.sql).map("s" + _),
          "ok" -> (e.jobResult == JobSucceeded),
          "stages" -> j.stages, "tasks" -> j.tasks,
          "failed_tasks" -> j.failed, "task_run_ms" -> j.runMs,
          "task_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
          "task_wait_ms" -> j.waitMs, "shuffle_read_b" -> j.shRead,
          "shuffle_write_b" -> j.shWrite, "fetch_wait_ms" -> j.fetchWaitMs,
          "spill_b" -> j.spill, "input_b" -> j.inBytes,
          "input_rows" -> j.inRows, "output_b" -> j.outBytes,
          "output_rows" -> j.outRows))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(s.executionId).foreach { t0 =>
          lines.add(obj("k" -> "span", "id" -> s"s${s.executionId}",
            "name" -> "sql", "t0" -> t0, "t1" -> s.time,
            "plan_ms" -> Access.planMs(s)))
        }
      case _ => ()
    }
  }

  // ---- measurement helpers
  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Live heap: the least heap in use read after three full collections
    * 150 ms apart, which follow a first one. Spark's ContextCleaner drops
    * the blocks of collected broadcasts and RDDs asynchronously, at times
    * some 300 ms after the collection that found them, and other threads
    * allocate between a collection and its reading; the minimum is a
    * reading with neither.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    (1 to 3).map { _ => Thread.sleep(150); System.gc(); heapUsedMb() }.min
  }

  private def dirMb(f: File): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else f.length
    size(f) / 1048576.0
  }

  private def cachedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def codegen(): (Double, Long) =
    (CodeGenerator.compileTime / 1e6,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${root.getClass.getName}: ${msg.take(300)}"
  }

  private def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().master(s"local[${o.cpus}]")
      .appName("graftbench")
      .config("spark.local.dir", o.localDir)
      .config("spark.sql.warehouse.dir", o.warehouse)
    val s = GraftSession.configure(b, o.cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The fixed warm-up that ends set-up: one shuffle, one parquet read
    * and one fingerprint, so the first query does not pay for them.
    */
  private def warmUp(s: SparkSession, data: String): Unit = {
    s.range(100000).groupBy((col("id") % 7).as("k")).count().collect()
    fingerprints(Tables.lineitem(s, data).limit(1000), Seq(false))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = new PrintWriter(o.out, "UTF-8")
    val known = QueryRegistry.queries
    val unknown = o.queries.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // set-up, timed from JVM start
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(o)
    warmUp(spark, o.data)
    out.println(obj("k" -> "setup", "ms" -> (nowMs - jvmStart)))
    val sc = spark.sparkContext

    if (o.mode == "dump") {
      o.queries.foreach { name =>
        try known(name)(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${o.dump}/$name")
        catch { case t: Throwable =>
          out.println(obj("k" -> "dump_error", "q" -> name,
            "err" -> describe(t)))
        } finally CacheScope.flush(spark, blocking = true)
      }
      val oracles = QueryRegistry.oracleSql
      o.queries.flatMap(n => oracles.get(n).map(n -> _))
        .foreach { case (n, sql) =>
          out.println(obj("k" -> "oracle", "q" -> n, "sql" -> sql)) }
      out.println(obj("k" -> "done"))
      out.close(); spark.stop(); return
    }

    val tracer = if (o.trace) Some(new Tracer(sc)) else None
    tracer.foreach(sc.addSparkListener)
    val rng = new scala.util.Random(o.seed)
    val norms = if (o.mode == "record") Seq(false, true) else Seq(false)
    tracer.foreach(_.open("run"))
    for (pass <- 0 to WarmPasses) {
      tracer.foreach(_.open("pass"))
      for (name <- rng.shuffle(o.queries)) {
        val (cgMs0, cgN0) = codegen()
        tracer.foreach(_.open("query"))
        var err: Option[String] = None
        var result: Option[(Long, String)] = None
        var normFp: Option[String] = None
        val t0 = System.nanoTime()
        tracer.foreach(_.open("construct"))
        val df = try Some(known(name)(spark, o.data))
        catch { case t: Throwable => err = Some("construct: " + describe(t)); None }
        val t1 = System.nanoTime()
        tracer.foreach(_.close())
        tracer.foreach(_.open("action"))
        df.foreach { d =>
          try {
            val (rows, fps) = fingerprints(d, norms)
            result = Some(rows -> fps.head)
            normFp = fps.lift(1)
          } catch { case t: Throwable => err = Some("action: " + describe(t)) }
        }
        val t2 = System.nanoTime()
        tracer.foreach(_.close())
        tracer.foreach(_.close("q" -> name, "pass" -> pass))
        val (cgMs1, cgN1) = codegen()
        val scratchMb = if (o.trace) dirMb(new File(o.localDir)) else 0.0
        val storedMb = if (o.trace) cachedMb(sc) else 0.0
        tracer.foreach(_.open("flush"))
        val f0 = System.nanoTime()
        try CacheScope.flush(spark, blocking = true)
        catch { case t: Throwable =>
          if (err.isEmpty) err = Some("flush: " + describe(t)) }
        val flushMs = (System.nanoTime() - f0) / 1e6
        tracer.foreach(_.close())
        out.println(obj("k" -> "query", "pass" -> pass, "q" -> name,
          "wall_ms" -> (t2 - t0) / 1e6, "construct_ms" -> (t1 - t0) / 1e6,
          "action_ms" -> (t2 - t1) / 1e6,
          "rows" -> result.map(_._1), "fp" -> result.map(_._2),
          "fp_norm" -> normFp, "err" -> err,
          "codegen_ms" -> (cgMs1 - cgMs0), "codegen_n" -> (cgN1 - cgN0),
          "flush_ms" -> flushMs,
          "cache_stored_mb" -> storedMb, "scratch_mb" -> scratchMb))
        out.flush()
      }
      tracer.foreach(_.close("pass" -> pass))
      // no collection debt carried into the next pass; the live heap is
      // read after the cold pass and after the last, where it peaks
      val heapMb =
        if (pass == 0 || pass == WarmPasses) liveHeapMb()
        else { System.gc(); Double.NaN } // NaN is written as null
      out.println(obj("k" -> "pass", "pass" -> pass, "heap_mb" -> heapMb))
    }
    tracer.foreach(_.close())
    tracer.foreach { t =>
      Access.drainListenerBus(sc)
      t.lines.forEach(l => out.println(l))
    }
    out.println(obj("k" -> "done"))
    out.close()
    spark.stop()
  }
}
