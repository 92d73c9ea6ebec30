package graft.streaming

import graft.SharedSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Watermark / event-time semantics via MemoryStream (SURVEY §5.5):
  * out-of-order rows inside the watermark are aggregated; rows later than
  * the watermark are dropped.
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling window aggregates out-of-order rows; watermark drops late data") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.tumblingCounts(df)
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    try {
      // batch 1: in-order + out-of-order within the same hour
      mem.addData((1L, ts(10), 1L, "click", 1.0), (2L, ts(50), 1L, "click", 2.0),
        (3L, ts(5), 1L, "click", 4.0))
      q.processAllAvailable()
      // batch 2: advance event time far ahead -> watermark passes hour 0
      mem.addData((4L, ts(5 * 60), 1L, "click", 8.0))
      q.processAllAvailable()
      // batch 3: a row for hour 0, now behind the watermark -> dropped
      mem.addData((5L, ts(20), 1L, "click", 16.0))
      q.processAllAvailable()
      // batch 4: push watermark far enough to finalize hour 5 too
      mem.addData((6L, ts(10 * 60), 1L, "click", 32.0))
      q.processAllAvailable()
      val out = spark.table("tumbling_out")
        .select("w_start", "n", "sum_value").as[(Timestamp, Long, Double)]
        .collect().toSet
      // hour 0 closed with rows 1-3 only (late row 5 dropped)
      assert(out.contains((ts(0), 3L, 7.0)), s"hour-0 window wrong: $out")
      assert(out.contains((ts(5 * 60), 1L, 8.0)), s"hour-5 window wrong: $out")
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from the dim table") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "event_type", "value")
    val q = Streams.enrichWithDim(df, dim, "event_type")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_out").start()
    try {
      mem.addData((1L, ts(1), "click", 1.0), (2L, ts(2), "purchase", 2.0),
        (3L, ts(3), "error", 4.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .select("event_id", "category").as[(Long, Option[String])]
        .collect().toSet
      assert(out == Set((1L, Some("engagement")), (2L, Some("revenue")),
        (3L, None)), s"got $out")
    } finally q.stop()
  }

  test("transformWithState keeps running totals via typed ValueState") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streams.EventRow]
    val q = Streams.runningTotalsTws(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("tws_out").start()
    try {
      mem.addData(Streams.EventRow(1, ts(1), 7L, "click", 1.5))
      q.processAllAvailable()
      mem.addData(Streams.EventRow(2, ts(2), 7L, "click", 2.0),
        Streams.EventRow(3, ts(3), 8L, "view", 4.0))
      q.processAllAvailable()
      val out = spark.table("tws_out")
        .as[Streams.UserRunning].collect().toSet
      // batch 1 emits (7,1,1.5); batch 2 emits the UPDATED totals
      assert(out.contains(Streams.UserRunning(7L, 1L, 1.5)), s"got $out")
      assert(out.contains(Streams.UserRunning(7L, 2L, 3.5)), s"got $out")
      assert(out.contains(Streams.UserRunning(8L, 1L, 4.0)), s"got $out")
    } finally {
      q.stop()
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch sink sees every row once under batchId-keyed upsert") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val ckpt = graft.TempArtifacts.dir("fb_ckpt")
    // the idempotent-sink pattern: upsert keyed by batchId — replays
    // overwrite rather than double-apply
    val applied = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val q = Streams.foreachBatchSink(df, ckpt) { (batch, id) =>
      applied.put(id, batch.select("event_id").collect().map(_.getLong(0)).toSeq)
    }
    try {
      mem.addData((1L, ts(1), 1L, "click", 1.0), (2L, ts(2), 1L, "click", 2.0))
      q.processAllAvailable()
      mem.addData((3L, ts(3), 2L, "view", 3.0))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val all = applied.values.asScala.flatten.toSeq
      assert(all.sorted == Seq(1L, 2L, 3L), s"got $all")
      assert(all.distinct.size == all.size, "a row was applied twice")
      assert(applied.keySet.asScala.size >= 2, "expected multiple batch ids")
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val purchases = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.clickToPurchase(
        clicks.toDF.toDF(cols: _*), purchases.toDF.toDF(cols: _*))
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join_out").start()
    try {
      clicks.addData((1L, ts(10), 1L, "click", 0.0))
      purchases.addData(
        (10L, ts(30), 1L, "purchase", 5.0),   // in window (10, 10+60]
        (11L, ts(200), 1L, "purchase", 6.0),  // same user, out of window
        (12L, ts(20), 2L, "purchase", 7.0))   // no click for user 2
      q.processAllAvailable()
      val out = spark.table("ss_join_out")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set((1L, 1L, 10L)), s"got $out")
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Streams.EventRow]
    val q = Streams.runningTotals(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("running_out").start()
    try {
      mem.addData(Streams.EventRow(1, ts(1), 7L, "click", 1.5))
      q.processAllAvailable()
      mem.addData(Streams.EventRow(2, ts(2), 7L, "click", 2.5),
        Streams.EventRow(3, ts(3), 8L, "view", 1.0))
      q.processAllAvailable()
      val out = spark.table("running_out")
        .as[Streams.UserRunning].collect()
      val u7 = out.filter(_.user_id == 7L).maxBy(_.n)
      assert(u7.n == 2 && u7.total == 4.0, s"user 7 state wrong: ${out.toSeq}")
      assert(out.exists(r => r.user_id == 8L && r.n == 1 && r.total == 1.0))
    } finally q.stop()
  }

  test("fMGWS and transformWithState emit identical totals on the same batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val batches = Seq(
      Seq(Streams.EventRow(1, ts(1), 7L, "click", 1.5),
        Streams.EventRow(2, ts(2), 8L, "view", 2.0)),
      Seq(Streams.EventRow(3, ts(3), 7L, "click", 2.5),
        Streams.EventRow(4, ts(4), 9L, "view", 0.5)),
      Seq(Streams.EventRow(5, ts(5), 8L, "view", 3.0)))
    def run(name: String,
        f: org.apache.spark.sql.Dataset[Streams.EventRow] =>
          org.apache.spark.sql.Dataset[Streams.UserRunning]): Set[Streams.UserRunning] = {
      val mem = MemoryStream[Streams.EventRow]
      val q = f(mem.toDS()).writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[Streams.UserRunning].collect().toSet
      } finally q.stop()
    }
    try {
      val a = run("parity_fmgws", Streams.runningTotals)
      val b = run("parity_tws", Streams.runningTotalsTws)
      assert(a == b, s"fMGWS $a != transformWithState $b")
      assert(a.contains(Streams.UserRunning(7L, 2L, 4.0)))
      assert(a.contains(Streams.UserRunning(8L, 2L, 5.0)))
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("file-based eventsStream reads the raw parquet and matches batch results") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val stream = Streams.eventsStream(spark, dir)
    assert(stream.isStreaming)
    val q = Streams.tumblingCounts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("file_tumbling_out").start()
    try {
      q.processAllAvailable()
      // Append mode only emits windows the watermark has closed; every
      // emitted window must match the batch computation exactly, and the
      // ts conversion must produce non-null timestamps.
      val batch = graft.Tables.events(spark, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .as[(Timestamp, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val got = spark.table("file_tumbling_out")
        .as[(Timestamp, String, Long, Double)].collect()
      assert(got.nonEmpty, "stream emitted no closed windows")
      got.foreach { case (w, et, n, sv) =>
        assert(w != null, "null window start — ts conversion failed")
        assert(batch.get((w, et)).contains((n, sv)),
          s"window ($w,$et): stream=($n,$sv) batch=${batch.get((w, et))}")
      }
    } finally q.stop()
  }

  test("parquet sink round-trip: streamed rows land in files and read back") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = graft.TempArtifacts.dir("graft_sink")
    val ckpt = graft.TempArtifacts.dir("graft_ckpt")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupStream(df)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    try {
      mem.addData((1L, ts(1), 1L, "a", 1.0), (1L, ts(2), 1L, "a", 9.0),
        (2L, ts(3), 2L, "b", 2.0))
      q.processAllAvailable()
      mem.addData((3L, ts(4), 1L, "c", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == 3, "expected 3 deduped rows in the parquet sink")
    assert(back.columns.toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value"))
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Streams.dedupStream(df)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      mem.addData((1L, ts(1), 1L, "a", 1.0), (1L, ts(2), 1L, "a", 1.0),
        (2L, ts(3), 1L, "b", 2.0))
      q.processAllAvailable()
      mem.addData((1L, ts(4), 1L, "a", 1.0)) // duplicate again, same batch horizon
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("streaming near-dup: arriving copy of a corpus doc hits all its bands") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val corpus = graft.Tables.documents(spark, sf)
    val corpusBands = graft.dedup.DedupQueries.bandsOf(
      graft.dedup.DedupQueries.signaturesOf(corpus, 1))
    val doc0Text = corpus.filter(col("doc_id") === 0)
      .select("text").head().getString(0)
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF.toDF("doc_id", "text")
    val q = Streams.nearDupCandidatesStream(df, corpusBands)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      mem.addData((100000L, doc0Text), (100001L, "zqx wvu tsr qpo nml"))
      q.processAllAvailable()
      val hits = spark.table("neardup_out")
        .select("doc_id", "corpus_doc", "band")
        .as[(Long, Long, Int)].collect().toSet
      // an exact copy shares the signature, so EVERY band bucket of
      // doc 0 is hit
      val bandCount = graft.dedup.DedupQueries.NumHashes /
        graft.dedup.DedupQueries.BandRows
      (0 until bandCount).foreach { b =>
        assert(hits.contains((100000L, 0L, b)), s"band $b not hit: $hits")
      }
    } finally q.stop()
  }

  test("streaming span scrub: foreachBatch lifecycle matches the q154 batch flow") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.dedup.DedupQueries
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val w = DedupQueries.DupW
    val split1 = 25L; val split2 = 40L
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    // batch 1 gets a guaranteed-duplicated arrival: an exact copy of
    // doc 0 (indexed), so the scrub provably fires
    val dup = docs.filter(col("doc_id") === 0L)
      .as[(Long, String)].head()._2
    val b1 = docs.filter(col("doc_id") >= split1 && col("doc_id") < split2)
      .as[(Long, String)].collect().toSeq :+ (100000L, dup)
    val b2 = docs.filter(col("doc_id") >= split2)
      .as[(Long, String)].collect().toSeq
    def row5(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
    // batch twin: scrub b1, advance with b1's CLEANED text, scrub b2
    val idxB = tmp("graft_ngram_batch")
    DedupQueries.buildNgramIndex(docs.filter(col("doc_id") < split1), w, idxB)
    val c1 = DedupQueries.spanScrubAgainstIndex(spark,
      b1.toDF("doc_id", "text"), idxB, w).collect().toSeq
    DedupQueries.advanceNgramIndex(
      c1.map(r => (r.getLong(0), r.getString(4))).toDF("doc_id", "text"),
      w, idxB)
    val c2 = DedupQueries.spanScrubAgainstIndex(spark,
      b2.toDF("doc_id", "text"), idxB, w).collect().toSeq
    val want = (c1 ++ c2).map(row5).sortBy(_._1)
    // stream: same base index, same micro-batch boundaries — and the
    // in-stream COMPACTION trigger on every batch, which must be
    // invisible in the output (the batch twin above never compacts)
    val idxS = tmp("graft_ngram_stream")
    DedupQueries.buildNgramIndex(docs.filter(col("doc_id") < split1), w, idxS)
    val out = tmp("graft_span_out") + "/cleaned"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.spanScrubSink(mem.toDF.toDF("doc_id", "text"), idxS, w,
      tmp("graft_span_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // two advances, two compactions: v1 (build) -> v2 -> v3 live
    assert(graft.sources.ArtifactVersions.live(idxS).endsWith("v3"),
      "per-batch compaction must have published v3")
    val got = graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
      .select("doc_id", "n_tokens", "n_spans", "n_removed", "clean_text")
      .collect().toSeq.map(row5).sortBy(_._1)
    assert(got.nonEmpty && got == want)
    // the planted twin was fully scrubbed — the equality is not vacuous
    assert(got.find(_._1 == 100000L).exists(r => r._4 == r._2 && r._5 == ""),
      s"planted twin not scrubbed: ${got.find(_._1 == 100000L)}")
    graft.CacheScope.flush(spark)
  }

  test("composed curation ingest: stream ≡ hand-composed batch flow; " +
      "span/quality/repetition/dedup stages each catch their planted " +
      "doc") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.dedup.DedupQueries
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val w = DedupQueries.DupW
    val split1 = 25L; val split2 = 40L
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    // planted arrivals: an exact twin of indexed doc 0 (scrubs to
    // empty -> quality_drop), two copies of a NOVEL quality-passing
    // doc (the span stage can't see intra-batch copies; the dedup
    // stage's intra-batch leg must catch the second), and a SELF-
    // REPEATING doc — novel tokens, quality-passing, but its second
    // half duplicates its first, so the duplicated 5..10-gram windows
    // cover the whole doc and the repetition stage must catch it
    val dup = docs.filter(col("doc_id") === 0L).as[(Long, String)].head()._2
    val novel = ((1 to 38).map(i => s"nv$i") ++ Seq("the", "of"))
      .mkString(" ")
    val repHalf = ((1 to 18).map(i => s"rp$i") ++ Seq("the", "of"))
      .mkString(" ")
    val repet = repHalf + " " + repHalf
    val b1 = docs.filter(col("doc_id") >= split1 && col("doc_id") < split2)
      .as[(Long, String)].collect().toSeq ++
      Seq((200000L, dup), (200001L, novel), (200002L, novel),
        (200003L, repet))
    val b2 = docs.filter(col("doc_id") >= split2)
      .as[(Long, String)].collect().toSeq
    val corpus = docs.filter(col("doc_id") < split1)
    def freshIdx(tag: String): (String, String) = {
      val ng = tmp("graft_cur_ng_" + tag)
      val dd = tmp("graft_cur_dd_" + tag)
      DedupQueries.buildNgramIndex(corpus, w, ng)
      DedupQueries.buildDedupIndex(corpus, dd)
      (ng, dd)
    }
    // the hand-composed batch twin of one sink iteration (same stage
    // order as the sink: scrub -> quality -> repetition gate -> dedup)
    def batchStep(b: Seq[(Long, String)], ng: String, dd: String, bid: Long)
        : Seq[(Long, Long, String, Long)] = graft.CacheScope.scoped {
      val cleaned = graft.CacheScope.retain(
        DedupQueries.spanScrubAgainstIndex(spark,
            b.toDF("doc_id", "text"), ng, w)
          .select(col("doc_id"), col("clean_text").as("text"),
            col("n_removed")))
      val flagged = graft.text.TextQueries.withQualityFlags(cleaned)
        .select("doc_id", "text", "n_removed", "keep")
      val qSurv = flagged.filter(col("keep")).select("doc_id", "text")
      val rep = graft.text.TextQueries.repetitionGate(qSurv)
        .select(col("doc_id"), col("keep_repetition"))
      val survivors = qSurv.join(rep, "doc_id")
        .filter(col("keep_repetition")).select("doc_id", "text")
      val decisions = DedupQueries.ingestBatchDecisions(survivors, dd)
      val audit = flagged
        .join(rep, Seq("doc_id"), "left")
        .join(decisions, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_removed"),
          when(!col("keep"), lit("quality_drop"))
            .when(!col("keep_repetition"), lit("repetition_drop"))
            .otherwise(col("status")).as("status"),
          lit(bid).as("batch_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).toSeq
      val admitted = survivors.join(
        decisions.filter(col("status") === "added").select("doc_id"),
        "doc_id").localCheckpoint(true)
      DedupQueries.advanceNgramIndex(admitted, w, ng)
      DedupQueries.advanceDedupIndex(admitted, dd)
      audit
    }
    val (ngB, ddB) = freshIdx("batch")
    val want = (batchStep(b1, ngB, ddB, 0L) ++ batchStep(b2, ngB, ddB, 1L))
      .sortBy(_._1)
    // the stream, same base artifacts, same batch boundaries, plus the
    // in-stream compaction cadence (must be invisible in the audit)
    val (ngS, ddS) = freshIdx("stream")
    val out = tmp("graft_cur_out") + "/audit"
    val mem = MemoryStream[(Long, String)]
    val q = Streams.curationIngestSink(mem.toDF.toDF("doc_id", "text"),
      ngS, ddS, w, tmp("graft_cur_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
      .select("doc_id", "n_removed", "status", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(got.nonEmpty && got == want)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(200000L)._3 == "quality_drop" && byId(200000L)._2 > 0,
      s"scrubbed-to-empty twin: ${byId(200000L)}")
    assert(byId(200001L)._3 == "added" && byId(200001L)._2 == 0,
      s"novel doc: ${byId(200001L)}")
    assert(byId(200002L)._3 == "dup",
      s"intra-batch copy: ${byId(200002L)}")
    assert(byId(200003L)._3 == "repetition_drop",
      s"self-repeating doc: ${byId(200003L)}")
    graft.CacheScope.flush(spark)
  }

  test("streaming index advance: foreachBatch lifecycle matches the q119 batch flow") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val allDocs = graft.Tables.documents(spark, sf)
    val docs = allDocs.select("doc_id", "text")
    val split1 = 25L; val split2 = 40L
    // reference: the q119 batch lifecycle on the same splits
    val batchFlow = graft.dedup.DedupQueries
      .advanceIngestFlow(spark, allDocs, split1, split2).collect().toSeq
    graft.CacheScope.flush(spark)
    // stream: same base index, two micro-batches at the same boundaries
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val idx = tmp("graft_idx_stream")
    graft.dedup.DedupQueries.buildDedupIndex(
      docs.filter(col("doc_id") < split1), idx)
    val out = tmp("graft_stream_out") + "/decisions"
    val b1 = docs.filter(col("doc_id") >= split1 && col("doc_id") < split2)
      .as[(Long, String)].collect().toSeq
    val b2 = docs.filter(col("doc_id") >= split2)
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    // compactEvery = 1: the in-stream dedup-index compaction must be
    // invisible in every assertion below (decisions, partition of the
    // arrival set, artifact ≡ rebuild)
    val q = Streams.nearDupIngestSink(
      mem.toDF.toDF("doc_id", "text"), idx, tmp("graft_stream_ckpt"), out,
      compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // decisions: static 'existing' + streamed ADMISSIONS == batch flow
    // (the batch flow's contract emits no rows for drops; the stream's
    // outDir additionally records them as 'dup' for auditability)
    val streamed =
      graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
    val total = docs.filter(col("doc_id") < split1)
      .select(col("doc_id"), lit("existing").as("status"))
      .unionAll(streamed.filter(col("status") === "added")
        .select("doc_id", "status"))
      .orderBy("doc_id").collect().toSeq
    assert(batchFlow.nonEmpty && total == batchFlow)
    // EVERY arrival left exactly one decision row: added + dup
    // partitions the arrival set (absence == never arrived)
    val decided = streamed.select("doc_id").as[Long].collect().sorted.toSeq
    assert(decided == (b1 ++ b2).map(_._1).sorted.toSeq)
    assert(streamed.filter(col("status") === "dup").count() ==
      decided.size - total.count(_.getString(1) == "added"))
    // batch 2 really ran against the ADVANCED artifact: the artifact
    // now equals a rebuild from (base corpus + all stream admissions)
    val admitted = streamed.filter(col("status") === "added")
      .select("doc_id")
    val rebuilt = tmp("graft_idx_stream_rebuild")
    graft.dedup.DedupQueries.buildDedupIndex(
      docs.filter(col("doc_id") < split1)
        .unionAll(docs.join(admitted, "doc_id").select("doc_id", "text")),
      rebuilt)
    val sa = graft.dedup.DedupQueries.indexSignatures(spark, idx)
    val sb = graft.dedup.DedupQueries.indexSignatures(spark, rebuilt)
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty)
    graft.CacheScope.flush(spark)
  }

  test("streaming CMS profile advance equals the whole-corpus sketch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.text.TextQueries
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val whole = TextQueries.tokenSketchOf(docs)
    val path = graft.TempArtifacts.dir("graft_cms_stream") + "/profile.cms"
    TextQueries.buildTokenSketch(docs.filter(col("doc_id") < 25), path)
    val b1 = docs.filter(col("doc_id") >= 25 && col("doc_id") < 40)
      .as[(Long, String)].collect().toSeq
    val b2 = docs.filter(col("doc_id") >= 40)
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = Streams.cmsAdvanceSink(mem.toDF.toDF("doc_id", "text"), path,
      graft.TempArtifacts.dir("graft_cms_ckpt"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val advanced = TextQueries.readTokenSketch(path)
    assert(advanced.totalCount() == whole.totalCount())
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").distinct().collect().map(_.getString(0))
    assert(vocab.nonEmpty)
    vocab.foreach { t =>
      assert(advanced.estimateCount(t) == whole.estimateCount(t),
        s"stream-advanced profile diverges on token '$t'")
    }
  }

  test("streaming IVF advance: batching-invariant vs one-shot advance") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    import graft.similarity.SimilarityQueries
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val split = SimilarityQueries.AnnAdvanceSplit
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    // reference: build base, advance ALL arrivals in one shot
    val ref = tmp("graft_ivf_stream_ref")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), ref)
    SimilarityQueries.advanceIvfIndex(f.filter(col("vec_id") >= split), ref)
    // stream: same base, arrivals split across two micro-batches
    val idx = tmp("graft_ivf_stream")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), idx)
    val mid = split + 60
    val b1 = f.filter(col("vec_id") >= split && col("vec_id") < mid)
      .as[(Long, Int, Int, Double)].collect().toSeq
    val b2 = f.filter(col("vec_id") >= mid)
      .as[(Long, Int, Int, Double)].collect().toSeq
    val mem = MemoryStream[(Long, Int, Int, Double)]
    // compactEvery = 1: the in-stream IVF compaction must be invisible
    // in the ≡ one-shot-advance equality below
    val q = Streams.ivfAdvanceSink(
      mem.toDF.toDF("vec_id", "label", "i", "v"), idx,
      tmp("graft_ivf_stream_ckpt"), compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val aa = SimilarityQueries.indexAssignments(spark, idx)
    val ab = SimilarityQueries.indexAssignments(spark, ref)
    assert(aa.count() > 0)
    assert(aa.exceptAll(ab).isEmpty && ab.exceptAll(aa).isEmpty)
    graft.CacheScope.flush(spark)
  }

  test("streaming phash ingest: batch-2 dups against batch-1 " +
    "admissions, index ≡ rebuild, replay fenced under compaction") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.multimodal.{CodecQueries, PhashIndex}
    val sf = "/root/testdata/sf0.001"
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val idx = tmp("graft_phash_stream")
    // corpus: PPM variants below 100
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, sf,
        col("doc_id") % 6 === 0 && col("doc_id") < 100), idx)
    // batch 1: PPM variants in [100, 200) — novel, must admit AND
    // advance; batch 2: their PNG pixel-twins (ids+3) — every one must
    // then dup against batch 1's admissions, proving batch 2 read the
    // ADVANCED artifact
    val b1 = CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 0 && col("doc_id") >= 100
        && col("doc_id") < 200)
      .as[(Long, Long)].collect().toSeq
    val b2 = b1.map { case (id, _) => id + 3 }
    val b2Hashes = CodecQueries.phashHashesOf(spark, sf,
      col("doc_id").isInCollection(b2))
      .as[(Long, Long)].collect().toSeq
    assert(b1.nonEmpty && b2Hashes.nonEmpty)
    val out = tmp("graft_phash_out") + "/decisions"
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.phashIngestSink(
      mem.toDF.toDF("doc_id", "hash"), idx,
      tmp("graft_phash_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2Hashes: _*); q.processAllAvailable()
    } finally q.stop()
    val dec = graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3)))
      .toMap
    b1.foreach { case (id, _) =>
      assert(dec(id)._1 == "added", s"novel corpus image $id") }
    b2Hashes.foreach { case (id, _) =>
      assert(dec(id) == ("dup", id - 3),
        s"pixel-twin $id must dup against batch 1's admission") }
    // the advanced artifact ≡ a rebuild from (corpus + all admissions)
    val rebuilt = tmp("graft_phash_stream_rebuild")
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, sf,
        (col("doc_id") % 6 === 0 && col("doc_id") < 100)
          || (col("doc_id") % 6 === 0 && col("doc_id") >= 100
            && col("doc_id") < 200)), rebuilt)
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(frame(PhashIndex.indexHashes(spark, idx)) ==
      frame(PhashIndex.indexHashes(spark, rebuilt)))
    // replay batch 1 after the compaction flips: fenced, no change
    val before = frame(PhashIndex.indexHashes(spark, idx))
    Streams.phashIngestBatch(b1.toDF("doc_id", "hash"), 0L, idx, out,
      compactEvery = 0)
    assert(frame(PhashIndex.indexHashes(spark, idx)) == before)
    graft.CacheScope.flush(spark)
  }

  test("streaming media ingest gate: stream ≡ batch decisions, " +
    "quarantine fires, replay fences, compaction invisible") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.multimodal.CodecQueries
    val sf = "/root/testdata/sf0.001"
    val ids = graft.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect().sorted.toSeq
    def arrivals(of: Seq[Long]) = of.map { id =>
      val (kind, bytes) = CodecQueries.synthPayload(id)
      (id, kind, CodecQueries.corruptIf(id, bytes))
    }
    val (b1ids, b2ids) = ids.splitAt(ids.length / 2)
    val b1 = arrivals(b1ids)
    val b2 = arrivals(b2ids)
    // reference: the batch twin over the SAME arrivals
    val want = CodecQueries
      .mediaDecisions(arrivals(ids).toDF("media_id", "kind", "bytes"))
      .collect().map(d => (d.media_id, d.kind, d.status, d.codec,
        d.width, d.height, d.n_units, d.exact_sum, d.error))
      .sortBy(_._1).toSeq
    // the stream, two micro-batches, compacting after EVERY batch —
    // the stats artifact the sink maintains must still equal the batch
    // decisions exactly
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val out = tmp("graft_media_out")
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.mediaIngestSink(
      mem.toDF.toDF("media_id", "kind", "bytes"),
      tmp("graft_media_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def served() =
      graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
      .select("media_id", "kind", "status", "codec", "width", "height",
        "n_units", "exact_sum", "error")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getInt(4), r.getInt(5), r.getLong(6),
        r.getLong(7), r.getString(8)))
      .sortBy(_._1).toSeq
    val got = served()
    assert(got.nonEmpty && got == want)
    // the corruption rule quarantined exactly the id % 31 == 0 rows,
    // each with a loud error, and nothing decoded garbage
    val quarantined = got.filter(_._3 == "quarantined")
    assert(quarantined.nonEmpty)
    assert(quarantined.map(_._1).toSet == ids.filter(_ % 31 == 0).toSet)
    quarantined.foreach(r => assert(r._9.nonEmpty, s"silent quarantine: $r"))
    got.filter(_._3 == "ok").foreach(r => assert(r._9.isEmpty))
    // replay fence: re-running batch 1's body (post-compaction, so the
    // fence marker carried across the version flip) changes nothing
    Streams.mediaIngestBatch(
      b2.toDF("media_id", "kind", "bytes"), 1L, out, compactEvery = 0)
    assert(served() == want, "replayed batch re-appended")
    graft.CacheScope.flush(spark)
  }

  test("streaming media curation gate: stream ≡ q181 batch audit, " +
    "every reason fires, replay fences across the compaction flip") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.multimodal.CodecQueries
    val sf = "/root/testdata/sf0.001"
    val all = CodecQueries.curatedMediaTable(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2))).sortBy(_._1).toSeq
    val want = CodecQueries.mediaCurationDecisions(
        all.toDF("media_id", "kind", "bytes"))
      .collect().map(d => (d.media_id, d.kind, d.reason, d.keep,
        d.gate_stat)).sortBy(_._1).toSeq
    val (b1, b2) = all.splitAt(all.length / 2)
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val out = tmp("graft_mcur_out")
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val q = Streams.mediaCurationSink(
      mem.toDF.toDF("media_id", "kind", "bytes"),
      tmp("graft_mcur_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def served() = {
      graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
        .select("media_id", "kind", "reason", "keep", "gate_stat")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getBoolean(3), r.getLong(4))).sortBy(_._1).toSeq
    }
    val got = served()
    assert(got.nonEmpty && got == want)
    // all four drop reasons + ok fire on this corpus
    val reasons = got.map(_._3).toSet
    assert(reasons == Set("quarantined", "blank", "clipped", "static", "ok"),
      s"missing reasons: $reasons")
    // the planted families are caught exactly
    assert(got.filter(_._3 == "blank").map(_._1).toSet ==
      all.map(_._1).filter(id =>
        id % CodecQueries.BlankImageMod == 0 && id % 31 != 0).toSet)
    assert(got.filter(_._3 == "static").map(_._1).toSet ==
      all.map(_._1).filter(id => id % 3 == 2
        && id % CodecQueries.StaticVideoMod == 0 && id % 31 != 0).toSet)
    // replay fence across the compaction flip: nothing re-appends
    Streams.mediaCurationBatch(
      b1.toDF("media_id", "kind", "bytes"), 0L, out, compactEvery = 0)
    assert(served() == want, "replayed batch re-appended")
    graft.CacheScope.flush(spark)
  }

  test("streaming composed image curation: batch-1 audit ≡ the q186 " +
    "batch body, re-keyed batch-2 twins near-dup against batch-1 " +
    "admissions, stage order beats near-dup, replay fences") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.multimodal.{CodecQueries, PhashIndex}
    val sf = "/root/testdata/sf0.001"
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    def buildIdx(): String = {
      val idx = tmp("graft_icur_idx")
      val corpus = CodecQueries.gatedImageHashes(
        CodecQueries.twinImageTable(spark, sf, col("doc_id") % 6 === 0
          && col("doc_id") < CodecQueries.PhashCorpusCutoff)).toDF()
      PhashIndex.buildPhashIndex(
        corpus.filter(col("keep"))
          .select(col("media_id").as("doc_id"), col("hash")), idx)
      idx
    }
    val idx = buildIdx()
    val b1 = CodecQueries.twinImageTable(spark, sf, col("doc_id") % 6 === 3)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1).toSeq
    assert(b1.nonEmpty)
    // batch 2: batch 1's exact payloads under FRESH ids — every
    // decodable non-blank one must near-dup against what batch 1
    // ADMITTED (proof batch 2 read the advanced index); blanks and
    // corrupt rows must keep their earlier-stage reason (stage order)
    val b2 = b1.map { case (id, bytes) => (id + 100000L, bytes) }
    // the batch twin of batch 1 against the same corpus-only index
    val wantB1 = CodecQueries.imageCurationIngestDecisions(
        b1.toDF("media_id", "bytes"), buildIdx())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val out = tmp("graft_icur_out")
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Streams.imageCurationSink(
      mem.toDF.toDF("media_id", "bytes"), idx,
      tmp("graft_icur_ckpt"), out, compactEvery = 1)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def served() = {
      graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
        .select("media_id", "reason", "keep", "gate_stat", "hash",
          "dup_of")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    }
    val got = served()
    val gotB1 = got.filter(_._1 < 100000L)
    assert(gotB1 == wantB1, "stream batch 1 != q186 batch body")
    assert(got.map(_._2).toSet ==
      Set("quarantined", "blank", "near_dup", "ok"))
    val byId = got.map(r => r._1 -> r).toMap
    b1.foreach { case (id, _) =>
      val first = byId(id); val second = byId(id + 100000L)
      first._2 match {
        case "quarantined" | "blank" =>
          // earlier stages win over near-dup, and a dropped row never
          // advanced the index — the re-keyed copy repeats the reason
          assert(second._2 == first._2, s"stage order broke on $id")
        case "ok" =>
          // admitted in batch 1 -> the re-keyed copy is its near-dup
          assert(second._2 == "near_dup" && second._6 == id,
            s"re-keyed copy of admitted $id: $second")
        case "near_dup" =>
          // dropped as dup of the corpus -> still dups (same corpus row)
          assert(second._2 == "near_dup", s"near-dup copy of $id: $second")
      }
    }
    // advanced index ≡ rebuild from (gated corpus + every admitted row)
    val admitted = got.filter(_._3).map(r => (r._1, r._5))
    val rebuilt = buildIdx()
    admitted.toDF("doc_id", "hash").createOrReplaceTempView("adm")
    PhashIndex.advancePhashIndex(spark.table("adm"), rebuilt)
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(frame(PhashIndex.indexHashes(spark, idx)) ==
      frame(PhashIndex.indexHashes(spark, rebuilt)))
    // replay batch 1 after the compaction flips: fenced, no change
    Streams.imageCurationBatch(b1.toDF("media_id", "bytes"), 0L, idx,
      out, compactEvery = 0)
    assert(served() == got, "replayed batch changed the audit")
    assert(frame(PhashIndex.indexHashes(spark, idx)) ==
      frame(PhashIndex.indexHashes(spark, rebuilt)),
      "replayed batch changed the index")
    graft.CacheScope.flush(spark)
  }

  test("streaming semantic-leak gate: stream over val arrivals ≡ " +
    "q187's batch pair set, replay fenced, served index READ-ONLY") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.similarity.SimilarityQueries
    val sf = "/root/testdata/sf0.001"
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val idx = SimilarityQueries.semanticLeakTrainIndex(spark, sf)
    // reference: the batch audit over the full val side
    val expected = SimilarityQueries.semanticLeakPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(expected.nonEmpty, "corpus must yield at least one leak pair")
    // the val half arrives as a stream, split into two micro-batches
    val valRows = graft.Tables.embeddings(spark, sf)
      .join(SimilarityQueries.vecSplitOf(spark, sf)
        .filter(col("split") === "val").select("vec_id"),
        Seq("vec_id"), "left_semi")
      .select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect().toSeq
    val (b1, b2) = valRows.partition(_._1 % 2 == 0)
    assert(b1.nonEmpty && b2.nonEmpty)
    def idxListing() = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else Seq(s"${f.getPath}:${f.length}:${f.lastModified}")
      walk(new java.io.File(idx)).sorted
    }
    val idxBefore = idxListing()
    val out = tmp("graft_semleak_out")
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val q = Streams.semanticLeakSink(
      mem.toDF.toDF("vec_id", "label", "embedding"), sf, idx,
      tmp("graft_semleak_ckpt"), out)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def served() =
      graft.sources.ArtifactVersions.read(spark, out, Streams.Log)
      .select("train_vec", "val_vec", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = served()
    assert(got.toSet == expected,
      "streamed audit must equal the batch pair set")
    assert(got.length == expected.size, "duplicate pairs in the audit")
    // forced replay of batch 0: the fence must skip it
    Streams.semanticLeakAuditBatch(
      b1.toDF("vec_id", "label", "embedding"), 0L, sf, idx, out)
    assert(served().length == expected.size,
      "replayed batch doubled audit rows")
    // the served index is READ-ONLY for the gate: a val arrival must
    // never advance the train index — that would BE the leak
    assert(idxListing() == idxBefore,
      "the leak gate modified the served train index")
    graft.CacheScope.flush(spark)
  }

  test("streaming URL frontier: stream over url arrivals ≡ the " +
    "batch-twin decision log, replay fenced on BOTH artifacts, " +
    "frontier advance is sticky") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.text.TextQueries
    val sf = "/root/testdata/sf0.001"
    def tmp(p: String) =
      graft.TempArtifacts.dir(p)
    val arrivals = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), TextQueries.messyUrl.as("url"))
    val batches = (0 to 2).map(k =>
      arrivals.filter(col("doc_id") % 3 === k)
        .as[(Long, String)].collect().toSeq)
    assert(batches.forall(_.nonEmpty))
    // reference: the batch twin run directly
    val (fB, aB) = (tmp("graft_urlf_fb"), tmp("graft_urlf_ab"))
    batches.zipWithIndex.foreach { case (rows, k) =>
      Streams.urlFrontierBatch(rows.toDF("doc_id", "url"), k.toLong,
        fB, aB)
    }
    def decisions(dir: String) = graft.sources.ArtifactVersions
      .read(spark, dir, Streams.Log)
      .select("canonical_url", "batch_id", "keeper", "n_docs", "status")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq.sorted
    val expected = decisions(aB)
    assert(expected.map(_._5).toSet ==
      Set("kept", "domain_capped", "duplicate"),
      "fixture must exercise all three decision branches")
    // the same arrivals through a REAL stream, one micro-batch each
    val (fS, aS) = (tmp("graft_urlf_fs"), tmp("graft_urlf_as"))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.urlFrontierSink(mem.toDF.toDF("doc_id", "url"),
      fS, tmp("graft_urlf_ckpt"), aS)
    try batches.foreach { rows =>
      mem.addData(rows: _*); q.processAllAvailable()
    } finally q.stop()
    assert(decisions(aS) == expected,
      "streamed decision log must equal the batch twin's")
    // forced replay of batch 0 AFTER the frontier advanced: both
    // fences must skip — not one decision row or frontier row changes
    def frontierRows(dir: String) = TextQueries.readFrontier(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    val fBefore = frontierRows(fS)
    Streams.urlFrontierBatch(batches(0).toDF("doc_id", "url"), 0L,
      fS, aS)
    assert(decisions(aS) == expected, "replay changed the audit")
    assert(frontierRows(fS) == fBefore, "replay changed the frontier")
    // stickiness: every decided canonical (kept AND capped) is in the
    // frontier exactly once; kept per domain never exceeds the cap
    val fr = TextQueries.readFrontier(spark, fS)
    assert(fr.groupBy("canonical_url").count()
      .filter(col("count") > 1).count() == 0)
    val overCap = fr.filter(col("kept")).groupBy("domain").count()
      .filter(col("count") > TextQueries.UrlDomainCap).count()
    assert(overCap == 0, "a domain exceeded the politeness cap")
    graft.CacheScope.flush(spark)
  }

  test("a frontier whose first commit crashed after the first publish " +
      "reads as the empty, typed frame") {
    import graft.text.TextQueries
    val frontier = graft.TempArtifacts.dir("graft_urlf_crash")
    // the first advance publishes v1, then its commit's write fails
    val failing = spark.range(1).select(
      lit("https://a.example/x").as("canonical_url"),
      lit("a.example").as("domain"), col("id").as("keeper"),
      raise_error(lit("crash before the commit")).cast("string")
        .as("status"))
    intercept[Exception] {
      TextQueries.advanceFrontier(failing, frontier, 0L)
    }
    assert(graft.sources.ArtifactVersions.live(frontier).endsWith("v1"))
    val read = TextQueries.readFrontier(spark, frontier)
    assert(read.isEmpty)
    assert(read.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("canonical_url" -> "string", "domain" -> "string",
        "keeper" -> "bigint", "kept" -> "boolean"))
  }
}
