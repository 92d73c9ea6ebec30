package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.CacheScope
import graft.sources.ArtifactVersions

/** Structured-Streaming surface over the `events` schema. Every transform
  * here takes a (possibly streaming) DataFrame with the events columns
  * (ts TIMESTAMP_NTZ-compatible, user_id, event_type, value) and returns a
  * streaming-safe plan: event-time watermarks bound state; aggregations
  * are incremental. The same expressions run in batch (StreamingQueries
  * q33-q35) — that's how the DuckDB oracle checks them.
  */
object Streams {
  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** File-based streaming read of the events table (real deployments
    * would point this at an arriving-file directory or Kafka).
    *
    * The raw parquet has shipped ts as either TIMESTAMP(NANOS) —
    * surfaced as LongType under `nanosAsLong`, converted nanos -> micros
    * like Tables.events — or native TIMESTAMP(MICROS) (read as NTZ). The
    * stream is declared with the RAW file schema and the conversion is
    * picked from the OBSERVED ts type. Either way the result is
    * TIMESTAMP (ltz): event-time watermarks reject TIMESTAMP_NTZ, and
    * the session runs UTC so the wall clock is identical.
    *
    * SIDE EFFECT (deliberate, cannot be scoped): sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` on the session. The
    * flag is SQLConf-only (ParquetOptions exposes no per-read key) and
    * is consulted at EVERY micro-batch scan for the stream's lifetime,
    * so restoring it after this call would fail the next batch. Callers
    * sharing the session with nanos-precision parquet reads that must
    * surface as TIMESTAMP should use a separate session.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = graft.sources.Formats.readParquet(spark, spark.read,
      s"$dir/events.parquet").schema
    // events.parquet is a single file; the file stream source requires a
    // directory or glob, so match the file with a glob pattern.
    val stream = spark.readStream.schema(rawSchema)
      .parquet(s"$dir/{events.parquet}")
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1-hour event-time counts with a 2-hour watermark: late rows
    * beyond the watermark are dropped, windows finalize incrementally.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows (30-min gap) per user under a watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("w_start"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming side of the dedup surface (state is bounded by the
    * watermark; at 100 TB/day this is the only safe exact-dedup shape).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static join: enrich a live event stream with a static
    * dimension snapshot (the static side is re-read per micro-batch by
    * the engine — a broadcast-size dim is the scalable shape; big dims
    * belong behind a stream-stream join with watermarks instead).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming incremental near-dup: each arriving document's MinHash
    * band buckets (computed per-row — stateless, no aggregation in the
    * stream) are stream-static joined against a precomputed corpus band
    * index; a row out means the doc shares a band bucket with an
    * existing corpus doc (LSH near-dup candidate). At 100 TB the index
    * is a bucketed static table on (band, bucket) and the join
    * co-partitions; here the corpus index side is whatever the caller
    * passes. Output: (doc_id, corpus_doc, band) candidate hits — exact
    * verification (signature agreement) belongs downstream, exactly as
    * in the batch pipeline.
    */
  def nearDupCandidatesStream(docs: DataFrame,
      corpusBands: DataFrame): DataFrame =
    graft.dedup.DedupQueries.bandsOf(
        graft.dedup.DedupQueries.signaturesOf(docs, 1))
      .join(corpusBands
          .withColumnRenamed("doc_id", "corpus_doc"),
        Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("corpus_doc"))
      .select("doc_id", "corpus_doc", "band")

  /** Stream-stream inner join with an event-time range: each click pairs
    * with purchases of the same user within one hour after it. BOTH
    * sides carry watermarks and the join condition bounds event time in
    * both directions, so the engine can expire join state — the only
    * stream-stream join shape whose state does not grow forever.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_uid"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(p, col("user_id") === col("p_uid")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
  }

  /** foreachBatch sink: hand each micro-batch (as a BATCH DataFrame,
    * full batch API available) plus its replayable batchId to `f`. The
    * batchId is the exactly-once hook: a sink that records applied ids
    * and skips repeats stays correct when a restart replays the last
    * uncommitted batch. This is how streaming writes reach sinks with
    * no native streaming support (JDBC upserts, file compaction, ...).
    * Each `*Batch` body below runs in one [[graft.CacheScope.scoped]]
    * block, so what a micro-batch retains is released when it returns.
    */
  def foreachBatchSink(events: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()

  /** The one component of every sink's decision log: each `outDir` is
    * an [[graft.sources.ArtifactVersions]] root holding it.
    */
  private[graft] val Log = "audit"

  /** Commit `rows`, tagged with `batchId`, as that batch's append to the
    * decision log at `outDir`, fenced on the id: a replayed batch whose
    * rows already landed evaluates nothing.
    */
  private def logDecisions(outDir: String, batchId: Long)(
      rows: => DataFrame): Unit =
    ArtifactVersions.advance(outDir, Log, Some(batchId))(
      rows.withColumn("batch_id", lit(batchId)))

  /** STREAMING INDEX ADVANCE: the near-dup ingest loop as a live
    * stream. Each micro-batch of arriving documents (doc_id, text) is
    * scored against the PERSISTED dedup index
    * (DedupQueries.ingestBatchDecisions: band join + intra-batch star
    * leg + signature verify), the admission decisions are committed to
    * `outDir`, and the artifact at `indexPath` is ADVANCED with the
    * admitted docs before the next batch reads it. Batch N+1 therefore
    * dedups against batch N's admissions — the q119 lifecycle
    * (build -> serve -> advance -> serve) driven by the stream itself;
    * StreamsSpec asserts the stream-advanced artifact and decisions
    * match the batch flow on the same splits.
    *
    * EXACTLY-ONCE: every write is an atomic per-batch commit fenced on
    * the replayable batchId ([[graft.sources.ArtifactVersions.advance]])
    * — the decision log commits first, a replayed batch skips whatever a
    * crash already committed and completes only the missing component
    * appends, and the admitted set those appends derive from is read
    * back from the COMMITTED decision rows, never recomputed against a
    * half-advanced index (StreamsSpec forces a replay and asserts
    * artifact equality).
    *
    * 100 TB shape: per-batch work is arrival-side only (per-row sigs,
    * band equi-join against the index, appends sized by admissions);
    * the index is never rebuilt.
    */
  def nearDupIngestSink(docs: DataFrame, indexPath: String,
      checkpointDir: String, outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir) { (batch, batchId) =>
      nearDupIngestBatch(batch, batchId, indexPath, outDir, compactEvery)
    }

  /** One micro-batch of [[nearDupIngestSink]] — exposed so the spec
    * can force a replay (same batch, same id, twice) and assert the
    * fence. Decisions carry EVERY arrival ('added' or 'dup') so outDir
    * is auditable — absence means "never arrived", not "dropped";
    * only the admitted side advances the artifact.
    */
  private[graft] def nearDupIngestBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outDir: String, compactEvery: Int = 0)
      : Unit = CacheScope.scoped {
    val s = batch.sparkSession
    logDecisions(outDir, batchId)(
      graft.dedup.DedupQueries.ingestBatchDecisions(batch, indexPath))
    // the advance payload derives from the COMMITTED decisions (plus
    // the source's replayed bytes), so a post-crash replay appends
    // exactly what the original attempt decided
    ArtifactVersions.committed(s, outDir, Log, batchId).foreach(c =>
      graft.dedup.DedupQueries.advanceDedupIndex(
        batch.join(c.filter(col("status") === "added").select("doc_id"),
            "doc_id")
          .select("doc_id", "text"), indexPath, Some(batchId)))
    compactOnCadence(s, batchId, compactEvery, Seq(indexPath))
  }

  /** The advance sinks' shared compaction cadence: every `every`
    * committed batches, fold each artifact root's batch dirs into the
    * next version ([[graft.sources.ArtifactVersions.compact]]) and
    * retire old versions — a
    * long-running stream must not accumulate one batch dir per
    * micro-batch (the serve-read listing is linear in them) nor one
    * full index copy per compaction (retention keeps live + one grace
    * version). `every <= 0` disables.
    *
    * COST MODEL: the compaction runs SYNCHRONOUSLY inside the
    * foreachBatch that hits the cadence, so that one micro-batch
    * stalls for a full-index rewrite — a latency spike that grows
    * with index size over the stream's lifetime even though the
    * cadence bounds batch-dir count. `compactEvery` therefore trades
    * one slow batch per cycle for bounded serve reads; a deployment
    * with hard per-batch SLAs should disable it here and run
    * [[graft.sources.ArtifactVersions.compactIfFragmented]] out-of-band
    * instead (same whole-root compaction, same versioned-flip
    * protocol, safe between batches of a live stream — the fence
    * markers carry across the flip — and threshold-gated on the
    * actual batch-dir count rather than a blind cadence).
    */
  private def compactOnCadence(s: SparkSession, batchId: Long, every: Int,
      roots: Seq[String]): Unit =
    if (every > 0 && (batchId + 1) % every == 0)
      roots.foreach { root =>
        ArtifactVersions.compact(s, root)
        ArtifactVersions.pruneVersions(root): Unit
      }

  /** Streaming span scrub + index advance — q154's loop live: each
    * micro-batch of arriving docs is scrubbed against the persisted
    * n-gram window index (spans the corpus already holds are cut), the
    * cleaned docs land in `outDir` batch-tagged, and the index
    * ADVANCES with the admitted CLEANED text's window hashes — batch
    * N+1 is scrubbed against batch N's surviving novelty too.
    * Per-batch cost: arrival-side windows semi-joined to the columnar
    * artifact; the advance is a pure append (the index's consumers are
    * set-semantics).
    *
    * EXACTLY-ONCE: the cleaned batch commits to `outDir` under the
    * batchId fence first, and the index advance derives its window
    * hashes from the COMMITTED cleaned text — a replay can neither
    * double-append nor re-scrub against an index its first attempt
    * already advanced ([[graft.sources.ArtifactVersions.advance]]).
    * Compaction on a replayed cadence boundary just produces one more
    * version with the identical distinct set — idempotent in effect.
    *
    * `compactEvery` > 0 compacts the index root after every that-many
    * batches — a live
    * stream is exactly where the append-only artifact's small files
    * pile up. Compaction is transparent to the scrub by construction
    * (DedupSpec pins frame equality across the version flip; the spec
    * below pins it live, stream-with-compaction ≡ batch-without).
    * Production sizes the cadence so the O(index) rewrite amortizes
    * over many O(batch) appends, or triggers on the live dir's file
    * count instead of a fixed count.
    */
  def spanScrubSink(docs: DataFrame, indexPath: String, w: Int,
      checkpointDir: String, outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir) { (batch, batchId) =>
      spanScrubBatch(batch, batchId, indexPath, w, outDir, compactEvery)
    }

  /** One micro-batch of [[spanScrubSink]] — exposed for the forced-
    * replay spec. The scrub is evaluated once, straight into the
    * fenced commit; the advance reads the committed parquet back, so
    * no persist is needed to keep the two consumers consistent.
    */
  private[graft] def spanScrubBatch(batch: DataFrame, batchId: Long,
      indexPath: String, w: Int, outDir: String,
      compactEvery: Int): Unit = CacheScope.scoped {
    val s = batch.sparkSession
    logDecisions(outDir, batchId)(graft.dedup.DedupQueries
      .spanScrubAgainstIndex(s, batch, indexPath, w))
    ArtifactVersions.committed(s, outDir, Log, batchId).foreach(c =>
      graft.dedup.DedupQueries.advanceNgramIndex(
        c.select(col("doc_id"), col("clean_text").as("text")),
        w, indexPath, Some(batchId)))
    compactOnCadence(s, batchId, compactEvery, Seq(indexPath))
  }

  /** THE COMPOSED INGEST LOOP — q144's curation pipeline live, wired
    * through the persisted artifacts: each micro-batch is
    * (1) SPAN-SCRUBBED against the n-gram window index (substrings the
    * corpus already holds are cut — q154), (2) QUALITY-GATED on the
    * cleaned text (q132's rules, stateless — an arrival that was
    * entirely known substrings scrubs to empty and dies here),
    * (3) REPETITION-GATED (q158's Gopher signals over the quality
    * survivors — stage-ordered after the cheap rules, before the
    * index probes), and (4) NEAR-DUP SCORED against the dedup index
    * (q119's decisions). Every arrival lands in `outDir` with its
    * audit row (batch id, CLEANED text, tokens span-removed,
    * first-drop-wins status: quality_drop / repetition_drop / dup /
    * added — the q148 label discipline), and BOTH
    * artifacts advance with the admitted docs' cleaned text before the
    * next batch reads them; `compactEvery` runs the q156 compaction on
    * cadence.
    *
    * EXACTLY-ONCE: the audit rows (including the cleaned text — they
    * ARE the curated output) commit to `outDir` under the batchId
    * fence FIRST; both artifact advances then derive the admitted
    * payload from the COMMITTED rows and fence on the same id. A
    * replay after any crash point skips what committed and completes
    * what didn't, with the original attempt's exact payload — the
    * scrub is never re-run against an index the first attempt already
    * advanced, and the two advances read one committed payload, so
    * they agree without a checkpoint of their own.
    *
    * RETENTION (deliberate asymmetry, the near-dup, span-scrub and
    * curation sinks): `outDir` grows one committed batch dir per
    * micro-batch FOREVER and is NOT compacted here — it is the sink's
    * PRODUCT (the curated docs + audit trail), an append-only export
    * stream the DOWNSTREAM consumer owns, exactly like any other
    * output dataset it would archive or expire on its own schedule.
    * The pipeline itself only ever re-reads the current batch's commit
    * (during the advance), so outDir's growth never touches the hot
    * path — unlike the index components, whose every serve read lists
    * all batch dirs, which is why THEY compact on the cadence and
    * outDir does not.
    *
    * Per-batch cost: all three stages are arrival-side joins against
    * columnar artifacts plus one stateless scan — nothing rescans the
    * corpus.
    */
  def curationIngestSink(docs: DataFrame, ngramIdx: String,
      dedupIdx: String, w: Int, checkpointDir: String, outDir: String,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir) { (batch, batchId) =>
      curationIngestBatch(batch, batchId, ngramIdx, dedupIdx, w,
        outDir, compactEvery)
    }

  /** One micro-batch of [[curationIngestSink]] — exposed for the
    * forced-replay spec.
    */
  private[graft] def curationIngestBatch(batch: DataFrame, batchId: Long,
      ngramIdx: String, dedupIdx: String, w: Int, outDir: String,
      compactEvery: Int): Unit = CacheScope.scoped {
    import graft.dedup.DedupQueries
    val s = batch.sparkSession
    logDecisions(outDir, batchId) {
      // cleaned feeds the gate AND the audit projection
      val cleaned = CacheScope.retain(DedupQueries
        .spanScrubAgainstIndex(s, batch, ngramIdx, w)
        .select(col("doc_id"), col("clean_text"), col("n_removed")))
      // quality rules IN PLACE on the retained batch (per-row HOFs,
      // no flags-back-on-doc_id self-join per micro-batch); the retain
      // holds METADATA ONLY — (doc_id, keep), never the batch text
      // a second time (as in q144: `cleaned` is the one
      // text barrier, every other barrier is fingerprint-width)
      val flags = CacheScope.retain(graft.text.TextQueries.withQualityFlags(
          cleaned.select(col("doc_id"), col("clean_text").as("text")))
        .select("doc_id", "keep"))
      val qSurv = cleaned
        .join(flags.filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("clean_text").as("text"))
      // Gopher repetition gate (q158), survivor-only — the same
      // stage order as q144's batch pipeline, so stream ≡ batch
      val rep = graft.text.TextQueries.repetitionGate(qSurv)
        .select(col("doc_id"), col("keep_repetition"))
      val survivors = qSurv.join(rep, "doc_id")
        .filter(col("keep_repetition")).select("doc_id", "text")
      // localCheckpoint'ed inside — one stable evaluation
      val decisions =
        DedupQueries.ingestBatchDecisions(survivors, dedupIdx)
      cleaned
        .join(flags, Seq("doc_id"))
        .join(rep, Seq("doc_id"), "left")
        .join(decisions, Seq("doc_id"), "left")
        .select(col("doc_id"), col("clean_text"),
          col("n_removed"),
          when(!col("keep"), lit("quality_drop"))
            .when(!col("keep_repetition"), lit("repetition_drop"))
            .otherwise(col("status")).as("status"))
    }
    ArtifactVersions.committed(s, outDir, Log, batchId).foreach { c =>
      val admitted = c.filter(col("status") === "added")
        .select(col("doc_id"), col("clean_text").as("text"))
      DedupQueries.advanceNgramIndex(admitted, w, ngramIdx, Some(batchId))
      DedupQueries.advanceDedupIndex(admitted, dedupIdx, Some(batchId))
    }
    // BOTH artifacts compact on the cadence — grams (q156) and the
    // dedup signatures (its transplant): a live stream is
    // exactly where per-batch dirs pile up
    compactOnCadence(s, batchId, compactEvery, Seq(ngramIdx, dedupIdx))
  }

  /** Streaming advance of the IVF index — the ANN-side twin of
    * [[nearDupIngestSink]]: each micro-batch of arriving FLAT vectors
    * (vec_id, i, v) is assigned to the artifact's FROZEN centroids and
    * appended to its inverted lists
    * (SimilarityQueries.advanceIvfIndex). Per-batch cost is batch rows
    * x k broadcast centroid rows — never a corpus re-scan, and because
    * centroids are frozen the advanced artifact is IDENTICAL to a
    * one-shot assignment of the same vectors regardless of how the
    * stream batches them (StreamsSpec pins this batching-invariance).
    * EXACTLY-ONCE: the append is an atomic per-batch commit fenced on
    * the batchId ([[graft.sources.ArtifactVersions.advance]]) — a
    * replayed batch finds its commit and skips.
    */
  def ivfAdvanceSink(vecs: DataFrame, indexPath: String,
      checkpointDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(vecs, checkpointDir) { (batch, batchId) =>
      graft.similarity.SimilarityQueries.advanceIvfIndex(batch, indexPath,
        Some(batchId))
      compactOnCadence(batch.sparkSession, batchId, compactEvery,
        Seq(indexPath))
    }

  /** STREAMING MEDIA INGEST GATE: decode-validate-on-ingest for the
    * multimodal codec stack. Each micro-batch of arriving media rows
    * (media_id, kind, bytes) goes through the five-codec kind+magic
    * dispatch ([[graft.multimodal.CodecQueries.mediaDecisions]]):
    * decodable payloads commit their decoded summary with status `ok`,
    * malformed payloads are QUARANTINED with the decoder's error —
    * per-row fault isolation, so one corrupt stream can neither crash
    * the pipeline nor silently contribute garbage features, and every
    * arrival is accounted for in the decision log. q164 is the batch
    * twin; StreamsSpec pins stream ≡ batch on the same arrivals.
    *
    * EXACTLY-ONCE: one atomic per-batch commit fenced on the
    * replayable batchId ([[graft.sources.ArtifactVersions.advance]]);
    * a replayed batch finds its fence and skips. The decision log
    * compacts on the cadence like every other long-running artifact.
    *
    * 100 TB shape: the batch body is per-row CPU batched per partition
    * — ZERO shuffles (decode, summarize, and the quarantine decision
    * ride one pass over the arrival partitions); artifact maintenance
    * is the only non-arrival cost and is cadence-bounded.
    */
  def mediaIngestSink(media: DataFrame, checkpointDir: String,
      outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(media, checkpointDir) { (batch, batchId) =>
      mediaIngestBatch(batch, batchId, outDir, compactEvery)
    }

  /** STREAMING MEDIA CURATION — the q181 unified gate run live:
    * every arriving payload is decode-validated and its modality's
    * low-information gate (blank / clipped / static) applied on the
    * DECODED content, one audit row per arrival committed fenced to
    * the decision log. Same exactly-once and
    * compaction discipline as [[mediaIngestSink]]; the batch body is
    * one map-only pass (zero shuffles). q181 is the batch twin;
    * StreamsSpec pins stream ≡ batch on the same arrivals.
    */
  def mediaCurationSink(media: DataFrame, checkpointDir: String,
      outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(media, checkpointDir) { (batch, batchId) =>
      mediaCurationBatch(batch, batchId, outDir, compactEvery)
    }

  /** One micro-batch of [[mediaCurationSink]] — exposed for the
    * forced-replay spec.
    */
  private[graft] def mediaCurationBatch(batch: DataFrame, batchId: Long,
      outDir: String, compactEvery: Int): Unit = CacheScope.scoped {
    logDecisions(outDir, batchId)(
      graft.multimodal.CodecQueries.mediaCurationDecisions(batch).toDF())
    compactOnCadence(batch.sparkSession, batchId, compactEvery, Seq(outDir))
  }

  /** One micro-batch of [[mediaIngestSink]] — exposed for the
    * forced-replay spec.
    */
  private[graft] def mediaIngestBatch(batch: DataFrame, batchId: Long,
      outDir: String, compactEvery: Int): Unit = CacheScope.scoped {
    logDecisions(outDir, batchId)(
      graft.multimodal.CodecQueries.mediaDecisions(batch).toDF())
    compactOnCadence(batch.sparkSession, batchId, compactEvery, Seq(outDir))
  }

  /** STREAMING IMAGE NEAR-DUP INGEST — [[nearDupIngestSink]]'s image
    * twin on the persisted perceptual-hash index (q171's machinery,
    * live): each micro-batch of arriving image hashes (doc_id, hash)
    * is gated against the artifact (banded candidates + exact hamming
    * verify), decisions commit fenced, and the index ADVANCES with the
    * admitted images before the next batch reads it. EXACTLY-ONCE:
    * decisions commit first; the advance payload derives from the
    * COMMITTED decision rows, so a post-crash replay appends exactly
    * what the original attempt decided; compaction on the cadence.
    */
  def phashIngestSink(hashes: DataFrame, indexPath: String,
      checkpointDir: String, outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(hashes, checkpointDir) { (batch, batchId) =>
      phashIngestBatch(batch, batchId, indexPath, outDir, compactEvery)
    }

  /** One micro-batch of [[phashIngestSink]] — exposed for the
    * forced-replay spec.
    */
  private[graft] def phashIngestBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outDir: String, compactEvery: Int)
      : Unit = CacheScope.scoped {
    import graft.multimodal.PhashIndex
    val s = batch.sparkSession
    logDecisions(outDir, batchId)(
      PhashIndex.phashIngestDecisions(batch, indexPath))
    ArtifactVersions.committed(s, outDir, Log, batchId).foreach(c =>
      PhashIndex.advancePhashIndex(
        c.filter(col("status") === "added").select("doc_id", "hash"),
        indexPath, Some(batchId)))
    compactOnCadence(s, batchId, compactEvery, Seq(indexPath))
  }

  /** STREAMING COMPOSED IMAGE CURATION — the q186 gate run live:
    * each micro-batch of raw image arrivals (media_id, bytes) is
    * decode-validated, blank-gated, and its SURVIVORS near-dup-gated
    * against the persisted phash index (first-drop-wins: quarantined >
    * blank > near_dup > ok); the composed audit row commits fenced and
    * the index ADVANCES with the admitted images before the next batch
    * reads it. EXACTLY-ONCE: audit commits first, the advance payload
    * derives from the COMMITTED audit rows (the [[phashIngestSink]]
    * discipline), so a post-crash replay appends exactly what the
    * original attempt decided. The per-batch retain holds METADATA only
    * (media_id/reason/stat/hash — never payloads or decoded pixels,
    * as in q144); q186 is the batch twin and StreamsSpec pins
    * stream ≡ batch on the same arrivals.
    */
  def imageCurationSink(media: DataFrame, indexPath: String,
      checkpointDir: String, outDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(media, checkpointDir) { (batch, batchId) =>
      imageCurationBatch(batch, batchId, indexPath, outDir,
        compactEvery)
    }

  /** One micro-batch of [[imageCurationSink]] — exposed for the
    * forced-replay spec.
    */
  private[graft] def imageCurationBatch(batch: DataFrame, batchId: Long,
      indexPath: String, outDir: String, compactEvery: Int)
      : Unit = CacheScope.scoped {
    import graft.multimodal.{CodecQueries, PhashIndex}
    val s = batch.sparkSession
    logDecisions(outDir, batchId)(
      CodecQueries.imageCurationIngestDecisions(batch, indexPath))
    // the advance payload derives from the COMMITTED audit rows; the
    // audit compacts on the cadence strictly AFTER the (itself fenced)
    // index advance, so a batch whose rows a compaction folded away
    // has nothing left to apply
    ArtifactVersions.committed(s, outDir, Log, batchId).foreach(c =>
      PhashIndex.advancePhashIndex(
        c.filter(col("keep"))
          .select(col("media_id").as("doc_id"), col("hash")),
        indexPath, Some(batchId)))
    compactOnCadence(s, batchId, compactEvery, Seq(outDir, indexPath))
  }

  /** STREAMING SEMANTIC-LEAK GATE — q187's embedding-level split-
    * leakage audit run at ARRIVAL time: each micro-batch of val-
    * candidate embeddings (vec_id, label, embedding) is scored
    * against the persisted TRAIN-side IVF index (frozen centroids,
    * nprobe lists, exact cosine on list-bounded candidates only —
    * the q187 serve path, never a val x train scan), and the detected
    * leak pairs commit to a fenced audit artifact. The index is READ-
    * ONLY here by design: val arrivals must never advance the train
    * index — that would be the leak. EXACTLY-ONCE: one atomic fenced
    * commit per batch; a replayed batch finds its fence and skips.
    * q192 is the batch twin (same arrivals re-batched + a forced
    * replay must equal q187's pair set exactly); StreamsSpec pins
    * stream ≡ batch through a real MemoryStream.
    *
    * 100 TB shape: per-batch cost is arrivals x (nprobe/K of the
    * train side) — the audit rides the arrival partitions against a
    * served artifact, and the corpus-sized legs (train components,
    * norms) are the same columnar scans q187 already prices.
    */
  def semanticLeakSink(vecs: DataFrame, corpusDir: String,
      indexPath: String, checkpointDir: String, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(vecs, checkpointDir) { (batch, batchId) =>
      semanticLeakAuditBatch(batch, batchId, corpusDir, indexPath,
        outDir)
    }

  /** One micro-batch of [[semanticLeakSink]] — exposed for the
    * forced-replay spec and q192's batch-twin harness.
    */
  private[graft] def semanticLeakAuditBatch(batch: DataFrame,
      batchId: Long, corpusDir: String, indexPath: String,
      outDir: String, corpus: Option[DataFrame] = None)
      : Unit = CacheScope.scoped {
    import graft.similarity.SimilarityQueries
    // without `corpus` the corpus flat view is retained per batch; a
    // multi-batch BATCH caller (q192) passes it retained once for the
    // whole query instead
    logDecisions(outDir, batchId)(
      SimilarityQueries.semanticLeakPairsOf(batch.sparkSession,
        corpusDir, SimilarityQueries.flatVecs(batch), indexPath,
        corpus = corpus))
  }

  /** STREAMING URL FRONTIER — q193's canonicalization + first-copy-
    * wins + per-domain politeness cap run at ARRIVAL time: each
    * micro-batch of (doc_id, url) arrivals canonicalizes per-row,
    * collapses in-batch, and is decided against the PERSISTED
    * frontier (seen canonicals are sticky 'duplicate's; new ones take
    * the next slots of their domain's cap). EXACTLY-ONCE: the
    * decision rows commit to a fenced audit artifact FIRST, and the
    * frontier advance derives from the COMMITTED rows under its own
    * fence — a crash between the two replays into "skip the audit,
    * complete the advance", never a double-append (the q171/q186
    * two-fence discipline). q194 is the batch twin (same arrivals
    * re-batched + a forced replay, oracle-checked end to end);
    * StreamsSpec pins stream ≡ batch through a real MemoryStream.
    *
    * 100 TB shape: per-batch cost is arrivals x one hash exchange of
    * canonical STRINGS; the frontier read is metadata-width and the
    * domain-slot side of the join is one row per domain (broadcast).
    */
  def urlFrontierSink(urls: DataFrame, frontierPath: String,
      checkpointDir: String, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(urls, checkpointDir) { (batch, batchId) =>
      urlFrontierBatch(batch, batchId, frontierPath, outDir)
    }

  /** One micro-batch of [[urlFrontierSink]] — exposed for the
    * forced-replay spec and q194's batch-twin harness.
    */
  private[graft] def urlFrontierBatch(batch: DataFrame, batchId: Long,
      frontierPath: String, outDir: String): Unit = CacheScope.scoped {
    logDecisions(outDir, batchId)(
      graft.text.TextQueries.urlFrontierDecisions(batch, frontierPath))
    // the frontier ADVANCE derives from the COMMITTED decision rows
    // and fences independently: a replay after a crash between the
    // two commits completes the advance from the exact bytes the
    // original attempt decided
    ArtifactVersions.committed(batch.sparkSession, outDir, Log, batchId)
      .foreach(graft.text.TextQueries.advanceFrontier(_, frontierPath,
        batchId))
  }

  /** Streaming advance of the CORPUS-STATISTICS artifact (the q143
    * CMS as a persisted profile): each micro-batch's token sketch is
    * merged into the file at `sketchPath`. CMS merge is element-wise
    * counter addition, so the stream-advanced profile equals the
    * whole-corpus sketch EXACTLY regardless of batching (StreamsSpec
    * pins it) — token-frequency monitoring over an unbounded ingest
    * stream with a few KB of state and no reprocessing. EXACTLY-ONCE:
    * the applied-batch-id set lives INSIDE the sketch file, so the
    * counter merge and its fence record commit in one atomic file
    * replace — no crash point can separate them, and a replayed batch
    * no-ops.
    */
  def cmsAdvanceSink(docs: DataFrame, sketchPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir) { (batch, batchId) =>
      graft.text.TextQueries.advanceTokenSketch(batch, sketchPath,
        Some(batchId))
    }

  /** Custom state: running per-user count/total via
    * flatMapGroupsWithState (reference has no streaming; this is the
    * §2B custom-state surface).
    */
  def runningTotals(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n; var tot = prev.total
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator(next)
      }
  }

  /** The same running totals on the Spark 4 `transformWithState` API:
    * typed state handles (ValueState/ListState/MapState + timers + TTL)
    * owned by a StatefulProcessor — the successor to
    * flatMapGroupsWithState for custom streaming state. Requires the
    * RocksDB state store provider (set in the spec); state lives off-heap
    * and scales past executor memory.
    */
  final class RunningTotalProcessor
      extends StatefulProcessor[Long, EventRow, UserRunning] {
    @transient private var st: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserRunning]("tot",
        Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (st.exists()) st.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n; var tot = prev.total
      rows.foreach { r => n += 1; tot += r.value }
      val next = UserRunning(key, n, tot)
      st.update(next)
      Iterator(next)
    }
  }

  def runningTotalsTws(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
