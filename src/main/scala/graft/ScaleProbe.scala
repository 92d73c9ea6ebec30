package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scaling probe: replicate the sf0.1 corpus k-fold (doc_id
  * offsets keep ids unique, so every doc gains k-1 exact twins — the
  * DEGENERATE mega-bucket case for LSH) and time the dedup paths.
  *
  * Measured on local[32]:
  *   clusters  (star-contracted CC)  k=1: ~7s warm   k=10: ~8s  — linear
  *   dup_ngrams (window-hash counts) — linear in corpus size
  *   minhash_pairs (pairwise est graph) k=1: 6.1M rows, k=4: 97.9M rows
  *     — exactly 16x for 4x docs: the k^2 pair blowup BY CONSTRUCTION.
  * That contrast is the design argument for [[graft.dedup.DedupQueries
  * .dedupClustersStarOf]]: clustering must never materialize the
  * pairwise graph on a twin-heavy corpus. The pairwise probe is capped
  * at k=4 for exactly that reason.
  *
  * vpic_read (DSv2 reader, post row-reuse hot loop): 1.31M cells —
  * full schema 0.25 s (~5.1M rows/s), column-pruned value-only scan
  * 0.09 s (~15.2M rows/s): pruning reaches the reader, not just the
  * plan.
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
  * saltedJoin 0.8-1.3 s, saltedJoinHotKeys 2.6-3.0 s. HONEST reading:
  * at probe scale AQE's runtime split already wins, and the hot-key
  * census (two extra joins + a union of two plans) costs more than
  * the straggler it removes — the declarative salting paths earn
  * their keep only where AQE cannot act (shuffle-hash joins, skew
  * landing in aggregations above the join, or engines/configs without
  * AQE), which is why q49 documents them as the fallback, not the
  * default.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]"), "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    def corpus(k: Int) = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text"))
    }.reduce(_ unionAll _)
    def probe(name: String, ks: Seq[Int])(f: org.apache.spark.sql.DataFrame => Long): Unit =
      for (k <- ks) {
        val c = corpus(k)
        val t0 = System.nanoTime()
        val n = f(c)
        CacheScope.flush(spark)
        println(f"[scale] $name k=$k docs=${5000L * k} rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    // Dev aid: SPARK_GRAFT_PROBE=g19,knn restricts to matching probes
    // (substring), mirroring Bench's SPARK_GRAFT_ONLY.
    val only = sys.env.get("SPARK_GRAFT_PROBE").map(_.split(',').toSeq)
    def enabled(name: String) = only.forall(_.exists(name.contains))
    if (enabled("clusters")) probe("clusters", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries.dedupClustersStarOf(c).count())
    if (enabled("dup_ngrams")) probe("dup_ngrams", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries.dupNgramStats(c, graft.dedup.DedupQueries.DupW).count())
    // q152 span removal on the replicated corpus: every replica is
    // fully duplicated, so the removable stream is (k-1)/k of ALL
    // windows — the islands window's worst case — while the firsts
    // agg collapses each window's k occurrences map-side before the
    // exchange. Expect ~linear in k. Forces clean_text via a length
    // sum (count() would let pruning drop the reassembly fold).
    if (enabled("span_removal")) probe("span_removal", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries
        .dupSpanRemoval(c, graft.dedup.DedupQueries.DupW)
        .agg(sum(length(col("clean_text"))) + sum(col("n_removed")))
        .head.getLong(0))
    // q154 serve cost: index built ONCE on the base corpus, arrivals
    // replicated k-fold — every arrival is an exact twin of an indexed
    // doc, so ALL its windows are removable (the scrub's worst case:
    // maximal islands, maximal removal). Cost must be linear in the
    // ARRIVAL volume and independent of k on the index side.
    // Measured (local[32], sf0.1 base): k=1 4.3 s (plan/codegen
    // warmup), k=4 3.4 s, k=10 4.1 s — 10x the arrivals stays inside
    // the fixed-cost envelope; the data-sized terms (window stream,
    // semi join, islands, fold) are a minority of wall time at probe
    // scale. (r13 re-measure after the lead-context window rewrite:
    // k=1 2.2 s, k=4 2.7 s, k=10 3.6 s.)
    if (enabled("span_scrub")) {
      val w = graft.dedup.DedupQueries.DupW
      val idx = TempArtifacts.dir("probe_ngram_idx")
      graft.dedup.DedupQueries.buildNgramIndex(base, w, idx)
      probe("span_scrub", Seq(1, 4, 10))(c =>
        graft.dedup.DedupQueries.spanScrubAgainstIndex(spark, c, idx, w)
          .agg(sum(length(col("clean_text"))) + sum(col("n_removed")))
          .head.getLong(0))
    }
    // pairwise est graph: k^2 pair growth by construction — k capped
    if (enabled("minhash_pairs")) probe("minhash_pairs", Seq(1, 4))(c =>
      graft.dedup.DedupQueries.minhashPairsOf(c).count())

    // q120 decision cost on the twin-heavy replicated corpus: the
    // star-contracted cascade must stay ~linear where the verified
    // PAIR graph grows k² (every doc gains k-1 exact twins — compare
    // minhash_pairs above: 6.1M pairs at k=1, 97.9M at k=4).
    // Measured: k=1 12.1 s (cold), k=4 5.9 s, k=10 10.0 s — 10x the
    // docs costs 1.7x of k=4: linear with a fixed term. The kept
    // counts (4954/17407/42313) also expose the star policy's recall
    // trade at its degenerate worst: on this shared-vocabulary corpus
    // the band buckets are mega-buckets whose ONE representative is a
    // non-twin for most members, so twins verify against the wrong doc
    // and survive — the q50/q110 linearity-for-recall bargain
    // (DedupIndexSpec pins the mechanism on crafted signatures), made
    // quantitative here. Natural corpora have sparse buckets; a
    // deployment needing exhaustive recall on twin-heavy data runs the
    // q104-style exact-pairwise audit instead.
    if (enabled("fuzzy")) probe("fuzzy_dedup", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries.fuzzyDedupOf(c).filter(col("kept")).count())
    // q125 containment: the Sigma df^2 posting-list cost model probed
    // on NATURAL subsets (doc_id strides), not the replicated corpus —
    // replication multiplies every shingle's df by k, so the replicated
    // shape IS the k^2 degenerate the cost model warns about, while
    // natural text keeps long postings rare. Expect ~linear in docs.
    // Measured (local[32], sf0.1 strides): 1250 docs 5.5 s (cold:
    // plan + codegen warmup), 2500 docs 2.3 s, 5000 docs 4.4 s —
    // 2x docs costs 1.9x warm while the PAIR count grows ~4x
    // (31/132/505): the join cost tracks Sigma df^2, not pairs^2.
    if (enabled("containment")) {
      import graft.dedup.DedupQueries
      for (m <- Seq(4, 2, 1)) {
        val sub = base.filter(col("doc_id") % m === 0)
        val t0 = System.nanoTime()
        val n = DedupQueries.containmentPairsOf(
          CacheScope.retain(DedupQueries.shingleSets(sub,
            DedupQueries.ShingleW)), DedupQueries.ContainT).count()
        CacheScope.flush(spark)
        println(f"[scale] containment docs=${5000 / m} pairs=$n " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    // q136 A-ES sampling under k-fold strata growth: output stays
    // EsK rows per source (the TopK buffers never exceed k entries
    // map-side), so time must track the scan, not the stratum size.
    // Measured: k=1 1.3 s, k=4 0.9 s, k=10 1.3 s — 10x the stratum,
    // FLAT wall and constant 200 output rows: the bounded-buffer
    // claim, observed.
    if (enabled("weighted_sample")) {
      val baseFull = Tables.documents(spark, "/root/testdata/sf0.1")
      for (k <- Seq(1, 4, 10)) {
        val c = (0 until k).map(i => baseFull.select(
            (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            col("source"), col("n_chars")))
          .reduce(_ unionAll _)
        val t0 = System.nanoTime()
        val n = graft.text.TextQueries.weightedSampleOf(c).count()
        CacheScope.flush(spark)
        println(f"[scale] weighted_sample k=$k docs=${5000L * k} rows=$n " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    // q138 source-sketch union: the fold is map-side (16-slot buffers
    // per source), output is source-pair sized regardless of k —
    // expect linear scan cost, constant rows. The exact-Jaccard
    // CALIBRATION leg (token-level cross-source join, deliberately NOT
    // in the declared query) runs once at k=1 and reports the worst
    // estimate deviation.
    // Measured: k=1 3.2 s, k=4 3.0 s, k=10 3.8 s — 10x the docs costs
    // 1.2x, 190 pair rows throughout. Calibration worst_abs_err =
    // 0.0000, with a caveat recorded honestly: the synthetic corpus
    // draws every source from ONE 31-token vocabulary, so all exact
    // pair Jaccards are literally 1.0 and the sketches agree
    // perfectly — the probe proves the merge law, not estimator noise
    // (QueriesSpec's minhash-vs-exact case covers the noisy regime on
    // doc-level sketches).
    if (enabled("sketch_union")) {
      import graft.dedup.DedupQueries
      val baseFull = Tables.documents(spark, "/root/testdata/sf0.1")
      for (k <- Seq(1, 4, 10)) {
        val c = (0 until k).map(i => baseFull.select(
            (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
            col("source"), col("text")))
          .reduce(_ unionAll _)
        val t0 = System.nanoTime()
        val n = DedupQueries.sourceSketchUnionOf(c).count()
        CacheScope.flush(spark)
        println(f"[scale] sketch_union k=$k docs=${5000L * k} rows=$n " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val t0 = System.nanoTime()
      val cal = DedupQueries.exactSourceJaccardOf(baseFull).collect()
      CacheScope.flush(spark)
      val worst = cal.map(r => math.abs(r.getAs[Double]("est_jaccard")
        - r.getAs[Double]("exact_jaccard"))).max
      println(f"[scale] sketch_union_calibration pairs=${cal.length} " +
        f"worst_abs_err=$worst%.4f time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // q140 BPE trainer under corpus replication: the trainer runs on
    // the DISTINCT-WORD table, and the synthetic vocabulary saturates,
    // so k-fold more docs leave the iteration state identical — only
    // the one pre-aggregation scan grows. Expect near-flat wall.
    // Measured: k=1 6.1 s (cold), k=4 2.0 s, k=10 1.9 s — 10x the
    // docs, FLAT warm wall: training cost is vocabulary-scale, not
    // corpus-scale.
    if (enabled("bpe")) probe("bpe_trainer", Seq(1, 4, 10))(c =>
      graft.text.BpeTrainer.bpeTrainerOf(c).count())
    // q147 strategy audit: PRE-filter (predicate intersects the probed
    // lists before re-rank) vs POST-filter (rank the unfiltered
    // candidates, filter the top-k afterwards). Post-filter returns
    // however many of the fixed top-k survive the predicate — the
    // starvation q147's shape avoids; pre-filter always fills k from
    // the qualifying pool. Measured (sf0.1, odd-label predicate):
    // pre-filter fills all 10; post-filtering the exact unfiltered
    // top-10 leaves 5 — half the requested results gone, exactly the
    // ~predicate-selectivity starvation rate.
    if (enabled("filtered_ann")) {
      val pre = graft.similarity.SimilarityQueries
        .defs.find(_.name == "q147_filtered_ann").get
        .fn(spark, "/root/testdata/sf0.1").count()
      // post-filter leg: the unfiltered exact top-10 (q31's ranking),
      // then the predicate applied AFTER
      val unfiltered = graft.QueryRegistry
        .queries("q31_cosine_topk")(spark, "/root/testdata/sf0.1")
      val lab = Tables.embeddings(spark, "/root/testdata/sf0.1")
        .select(col("vec_id"), col("label"))
      val surviving = unfiltered.join(lab, "vec_id")
        .filter(col("label") % 2 === 1).count()
      CacheScope.flush(spark)
      println(s"[scale] filtered_ann pre_filter_k=$pre " +
        s"post_filter_surviving=$surviving (of 10 requested)")
    }
    // q148 cascade under replication: replicas share text, so the
    // EXACT stage absorbs the k-fold blowup and the banded machinery
    // only ever sees ~the base corpus — the cascade's cost argument,
    // measured DECISIVELY: with MinHash run corpus-wide (the first
    // implementation) k=10 took **723 s** (every band bucket holds all
    // 10 copies of its docs — the LSH mega-bucket quadratic); with
    // signatures computed on stage-1 survivors only, k=1 15.6 s
    // (cold), k=4 8.0 s, k=10 8.1 s — FLAT, 90x faster at k=10, same
    // 73 kept rows. (Replica ids have no embedding rows, so the
    // semantic stage covers the base ids; that is the intended
    // degradation — un-embedded docs simply cannot be semantic dups.)
    if (enabled("cascade")) probe("dedup_cascade", Seq(1, 4, 10))(c =>
      graft.dedup.DedupQueries.dedupCascadeOf(c,
          Tables.embeddings(spark, "/root/testdata/sf0.1"))
        .filter(col("status") === "kept").count())
    if (enabled("knn")) knnGraphScale(spark)
    if (enabled("multiprobe")) multiProbeRecall(spark)
    if (enabled("dedup_index")) dedupIndexScale(spark)
    if (enabled("vpic")) vpicThroughput(spark)
    if (enabled("neardup_stream")) streamingNearDupLatency(spark, corpus(10))
    if (enabled("skew_join")) aqeVsSalting(spark)
    if (enabled("skew_remediation")) skewRemediation(spark)
    if (enabled("longdoc")) longDocStress(spark)
    if (enabled("pagerank")) pagerankScale(spark)
    if (enabled("sweepline")) sweepLineScale(spark)
    if (enabled("g19")) g19GridSweep(spark)
    if (enabled("jobaudit")) g19JobAudit(spark)
    if (enabled("pathslice")) pathSliceScale(spark)
    if (enabled("batch_dirs")) batchDirListing(spark, base)
    if (enabled("curation_stream")) curationSinkLatency(spark, base)
    if (enabled("ann_train")) annTrainScale(spark)
    if (enabled("ivfpq")) ivfPqScale(spark)
    if (enabled("codec")) codecScale(spark)
    if (enabled("phash")) phashIngestScale(spark)
    if (enabled("hdf5")) hdf5ScanThroughput(spark)
    if (enabled("semantic_leak")) semanticLeakScale(spark)
    if (enabled("mjpeg")) mjpegScale(spark)
    if (enabled("url_frontier")) urlFrontierGrowth(spark)
    spark.stop()
  }

  /** q194's live URL frontier: per-batch decision cost as the
    * PERSISTED seen set grows — the claim under test is that a batch
    * costs O(arrivals) map work + one hash exchange of canonical
    * strings, with the frontier read metadata-width, so batch N must
    * not inflate as seen climbs by ~200k canonicals per batch.
    */
  private def urlFrontierGrowth(spark: SparkSession): Unit = {
    val frontier = graft.TempArtifacts.dir("urlf_probe_f")
    val audit = graft.TempArtifacts.dir("urlf_probe_a")
    val perBatch = 200000L
    (0 until 6).foreach { b =>
      val arrivals = spark.range(b * perBatch, (b + 1) * perBatch, 1, 32)
        .select(col("id").as("doc_id"),
          concat(lit("https://s"), (col("id") % 97).cast("string"),
            lit(".example.com/p/"), (col("id") % 50021).cast("string"),
            lit("?utm_source=x&page="),
            (col("id") % 3).cast("string")).as("url"))
      val t0 = System.nanoTime()
      graft.streaming.Streams.urlFrontierBatch(arrivals, b.toLong,
        frontier, audit)
      val dt = (System.nanoTime() - t0) / 1e9
      val seen = graft.sources.BatchCommits
        .readComponent(spark, frontier).count()
      println(f"[scale] url_frontier batch=$b arrivals=$perBatch " +
        f"seen_after=$seen time=$dt%.2f s")
    }
    println("[scale] url_frontier HONEST GEOMETRY: per-batch cost is " +
      "O(arrivals) + a broadcast build of the seen set — metadata-" +
      "WIDTH but corpus-CARDINALITY, so past ~10^7-10^8 canonicals " +
      "the broadcast (not the decision rule) is the knee and the " +
      "seen join must flip to a bucketed/sort-merge layout; the " +
      "consumed-slots side stays one row per domain at any scale")
  }

  /** The REAL-HDF5 scan layout vs the raw per-variable tree on the
    * same grid: full schema, pruned(value), and a pushed it-range that
    * prunes whole chunks. Evidence that the h5 path's per-chunk seek
    * into the contiguous dataset block costs what the raw layout's
    * header seek costs — the container adds parse-once metadata, not
    * per-row work.
    */
  private def hdf5ScanThroughput(spark: SparkSession): Unit = {
    import graft.sources.VPICSource
    val (t, z, y, x) = probeGridAxes
    val dRaw = java.nio.file.Files.createTempDirectory("h5_raw").toString
    VPICSource.writeMock(dRaw, t, z, y, x, ProbeGridVars)
    val dH5 = java.nio.file.Files.createTempDirectory("h5_h5").toString
    VPICSource.writeHdf5Tree(dH5, t, z, y, x, ProbeGridVars)
    vpicScanLegs(spark, "hdf5_scan raw", dRaw)
    vpicScanLegs(spark, "hdf5_scan hdf5", dH5)
    // the layout real h5py/VPIC dumps use: chunked + per-chunk deflate.
    // The pruned it<10 leg is the per-chunk cost evidence — it must
    // track ~its chunk fraction of the full leg's time (a reader that
    // decompressed the whole dataset per partition would not), and the
    // partition count equals the planned chunk count
    val dChk = java.nio.file.Files.createTempDirectory("h5_chunk").toString
    VPICSource.writeHdf5Tree(dChk, t, z, y, x, ProbeGridVars,
      chunkTime = Some(5), gzip = true)
    val parts = spark.read.format("graft-vpic").option("path", dChk)
      .load().rdd.getNumPartitions
    println(s"[scale] hdf5_scan chunked_gzip partitions=$parts " +
      s"(= vars x ceil(nt/5) chunks)")
    vpicScanLegs(spark, "hdf5_scan chunked_gzip", dChk)
    // BYTES-INFLATED evidence for the compressed path: a pushed
    // it-range must DECOMPRESS only the chunks it intersects, never a
    // neighbor's bytes. The Hdf5.decodeChunk counter (same JVM in
    // local mode) is compared against the exact stored-byte sum of
    // the intersecting chunks from the metadata index — equality, not
    // a ratio eyeball. HONEST GEOMETRY: the pruned fraction equals
    // the chunk-grid fraction the predicate covers (here it<10 of
    // nt=40 in 5-step chunks -> exactly 1/4 of each variable's
    // stored bytes); a predicate inside one chunk still pays that
    // whole chunk — the storage chunk is the pruning granularity.
    import graft.sources.Hdf5
    def bytesInflated(f: => Unit): Long = {
      Hdf5.decodedStoredBytes.set(0L)
      f
      Hdf5.decodedStoredBytes.get()
    }
    def scanChk = spark.read.format("graft-vpic").option("path", dChk).load()
    val fullBytes = bytesInflated(
      scanChk.select("value").agg(sum("value")).collect(): Unit)
    val prunedBytes = bytesInflated(
      scanChk.filter(col("it") < 10).agg(sum("value")).collect(): Unit)
    val idx = Hdf5.index(
      java.nio.file.Paths.get(dChk, VPICSource.Hdf5File).toString)
    val wantPruned = idx.filterNot(_.path.startsWith("grid/")).map { d =>
      d.layout match {
        case Hdf5.H5Chunked(cd, _, _, chunks, _) =>
          chunks.filter(c => c.offset(0) < 10 && c.offset(0) + cd(0) > 0)
            .map(_.storedBytes).sum
        case _ => 0L
      }
    }.sum
    val ok = prunedBytes == wantPruned
    println(f"[scale] hdf5_scan chunked_gzip bytes_inflated " +
      f"full=$fullBytes pruned(it<10)=$prunedBytes " +
      f"expected_intersecting=$wantPruned exact=$ok " +
      f"(${prunedBytes * 100.0 / fullBytes}%.1f%% of full)")
    if (!ok) println("[scale] hdf5_scan PRUNING LEAK: pruned scan " +
      "inflated bytes outside its chunk range")
  }

  /** q187's index-served semantic leakage audit vs the brute-force
    * val x train scan on k-replicated embeddings. HONEST geometry
    * note: the shipped search index is the per-label quantizer, so K
    * is the LABEL COUNT (10) and the candidate space is the constant
    * fraction nprobe/K (~20%) of val x train — a constant-factor win
    * here, not an asymptotic one; production IVF grows K with the
    * corpus (~sqrt n), which is what shrinks the fraction at 100 TB.
    * The probe therefore checks two things: the served path tracks
    * ~nprobe/K of the brute cost (it must never LOSE to brute force —
    * the r15 finding: the first candidate-pair plan expanded pairs 64x
    * before its joins and did lose, 108 s vs 44 s at k=10; the q111
    * list-co-grouped shape fixed it), and leak volume is probe-
    * degenerate under duplicate replication (every replica near-dups
    * its base — expected, documents the worst case).
    */
  private def semanticLeakScale(spark: SparkSession): Unit = {
    import graft.similarity.SimilarityQueries
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    for (k <- Seq(1, 4, 10)) {
      val rep = (0 until k).map(i => base.select(
          (col("vec_id") + lit(i.toLong * 10000L)).as("vec_id"),
          col("label"), col("embedding")))
        .reduce(_ unionAll _)
      val d = java.nio.file.Files.createTempDirectory("semleak").toString
      rep.write.mode("overwrite").parquet(d + "/embeddings.parquet")
      // build the train-side index OUTSIDE every timed leg: `served`
      // and `stream_batch` both measure the SERVE path, so the
      // one-time build must not skew either baseline (it is memoized
      // per content fingerprint after this call)
      val idxPath = SimilarityQueries.semanticLeakTrainIndex(spark, d)
      val t0 = System.nanoTime()
      val leaks = SimilarityQueries.semanticLeakPairs(spark, d).count()
      val dt = (System.nanoTime() - t0) / 1e9
      CacheScope.flush(spark)
      // brute force: every val x train cosine (the plan the audit avoids)
      val f = spark.read.parquet(d + "/embeddings.parquet")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .withColumn("v", col("v").cast("double"))
      val split = spark.read.parquet(d + "/embeddings.parquet")
        .select(col("vec_id"),
          (graft.functions.Hashing.h60(
            concat(lit("vec-"), col("vec_id"))) % 100 < 90).as("tr"))
      val t1 = System.nanoTime()
      val bf = f.join(split.filter(!col("tr")).select("vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("a"), col("i"), col("v").as("av"))
        .join(f.join(split.filter(col("tr")).select("vec_id"), Seq("vec_id"), "left_semi")
          .select(col("vec_id").as("b"), col("i"), col("v").as("bv")), "i")
        .groupBy("a", "b").agg(sum(col("av") * col("bv")).as("dot"))
        .count()
      val dt1 = (System.nanoTime() - t1) / 1e9
      CacheScope.flush(spark)
      // the STREAMING gate's per-arrival-batch cost: the same served
      // body over the val half as ONE micro-batch, plus the fenced
      // audit commit — with the build hoisted above, the delta over
      // `served` is genuinely the commit machinery's price, which
      // must stay a small constant
      val valArr = spark.read.parquet(d + "/embeddings.parquet")
        .join(SimilarityQueries.vecSplitOf(spark, d)
          .filter(col("split") === "val").select("vec_id"),
          Seq("vec_id"), "left_semi")
      val auditDir = java.nio.file.Files
        .createTempDirectory("semleak_audit").toString
      val t2 = System.nanoTime()
      graft.streaming.Streams.semanticLeakAuditBatch(
        valArr, 0L, d, idxPath, auditDir)
      val dt2 = (System.nanoTime() - t2) / 1e9
      CacheScope.flush(spark)
      println(f"[scale] semantic_leak k=$k vecs=${500 * k} leaks=$leaks " +
        f"served=$dt%.2f s brute_pairs=$bf brute=$dt1%.2f s " +
        f"stream_batch=$dt2%.2f s")
    }
  }

  /** MJPEG/AVI decode throughput next to the Y4M raw path on the same
    * frame content: the compressed leg pays the JPEG Huffman/IDCT per
    * frame where Y4M pays a memcpy-scale plane sum — the price of
    * ~10-20x smaller payloads. Per-frame seek behavior is identical
    * (only the sampled frames' bytes are touched in both containers).
    */
  private def mjpegScale(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.multimodal.{CodecQueries, Codecs}
    val ids = Tables.documents(spark, "/root/testdata/sf0.1")
      .filter(col("doc_id") % 3 === 2).select(col("doc_id")).as[Long]
    for (k <- Seq(1, 4, 10)) {
      val rows = (0 until k).map(i =>
        ids.map(_ + i.toLong * 10000000L)).reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val (nf, nb) = rows.mapPartitions(_.map { id =>
        val bytes = CodecQueries.synthAviMjpeg(id)
        val v = Codecs.parseAviMjpeg(bytes)
        var s = 0L
        (0 until v.nFrames).foreach { i =>
          val img = Codecs.decodeJpeg(v.frameJpeg(i))
          s += img.pixels.length
        }
        (v.nFrames.toLong, bytes.length.toLong)
      }).toDF("nf", "nb").agg(sum("nf"), sum("nb")).head() match {
        case r => (r.getLong(0), r.getLong(1))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val y4mF = rows.mapPartitions(_.map { id =>
        val s = Codecs.parseY4m(CodecQueries.synthY4m(id))
        var t = 0L
        (0 until s.nFrames).foreach { f =>
          val (a, b, c) = Codecs.y4mPlaneSums(s, f); t += a + b + c }
        s.nFrames.toLong
      }).agg(sum("value")).head().getLong(0)
      val dt1 = (System.nanoTime() - t1) / 1e9
      println(f"[scale] mjpeg k=$k frames=$nf avi_bytes=$nb " +
        f"decode=$dt%.2f s (${nf / dt}%.0f fps) y4m_frames=$y4mF " +
        f"y4m=$dt1%.2f s")
      // q191's compressed-domain prefilter vs decode-every-frame on
      // the scene-structured corpus: byte-compare gates the decoder
      // to candidate cut pairs, so the prefiltered pass must decode
      // a small fraction of the frames and win wall-clock — the
      // O(cuts)-not-O(frames) claim, measured
      val t2 = System.nanoTime()
      val (cuts, decA) = rows.mapPartitions(_.map { id =>
        // the SHIPPED q191 rule — one copy, so the probe cannot drift
        val (c, dec, _) = CodecQueries.detectCuts(
          Codecs.parseAviMjpeg(CodecQueries.synthAviMjpegScenes(id)))
        (c.length.toLong, dec)
      }).toDF("c", "d").agg(sum("c"), sum("d")).head() match {
        case r => (r.getLong(0), r.getLong(1))
      }
      val dt2 = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val decAll = rows.mapPartitions(_.map { id =>
        val v = Codecs.parseAviMjpeg(CodecQueries.synthAviMjpegScenes(id))
        var prev = Codecs.decodeJpeg(v.frameJpeg(0))
        var c = 0L
        (1 until v.nFrames).foreach { f =>
          val cur = Codecs.decodeJpeg(v.frameJpeg(f))
          if (prev.pixels.zip(cur.pixels).exists(p => p._1 != p._2)) c += 1
          prev = cur
        }
        v.nFrames.toLong
      }).agg(sum("value")).head().getLong(0)
      val dt3 = (System.nanoTime() - t3) / 1e9
      println(f"[scale] mjpeg_cuts k=$k cuts=$cuts prefilter_decodes=" +
        f"$decA of $decAll frames: prefiltered=$dt2%.2f s " +
        f"decode_all=$dt3%.2f s (${dt3 / dt2}%.1fx)")
    }
    // HONEST GEOMETRY: the q191 corpus has scene length 2-4, so the
    // prefilter decodes ~1/c of the frames (cuts+1 with the one-frame
    // decode cache) — a modest win there. The claim scales with SCENE
    // LENGTH: on the static-heavy streams the operator exists for
    // (surveillance, slideshows, long takes), decode drops to cuts+1
    // of nf. Measure that regime directly: 240 frames in 60-frame
    // scenes -> 3 cuts, 4 decodes.
    val longScene = {
      val w = 32; val h = 32
      def jpegOf(sc: Int) = Codecs.encodeJpeg(
        graft.multimodal.Multimodal.PpmImage(w, h,
          Array.tabulate(w * h * 3)(j =>
            ((sc.toLong * 113 + j.toLong * 11) % 256).toByte)))
      val scenes = (0 until 4).map(jpegOf)
      Codecs.encodeAviMjpeg(w, h, 25,
        (0 until 240).map(f => scenes(f / 60)))
    }
    val ls = spark.sparkContext.broadcast(longScene)
    val vids = spark.range(0, 512, 1, 32)
    def cutsPrefiltered(): (Long, Long) = {
      import spark.implicits._
      vids.mapPartitions(_.map { _ =>
        val (c, dec, _) = CodecQueries.detectCuts(
          Codecs.parseAviMjpeg(ls.value))
        (c.length.toLong, dec)
      }).toDF("c", "d").agg(sum("c"), sum("d")).head() match {
        case r => (r.getLong(0), r.getLong(1))
      }
    }
    def cutsDecodeAll(): Long = {
      import spark.implicits._
      vids.mapPartitions(_.map { _ =>
        val v = Codecs.parseAviMjpeg(ls.value)
        var prev = Codecs.decodeJpeg(v.frameJpeg(0))
        var c = 0L
        (1 until v.nFrames).foreach { f =>
          val cur = Codecs.decodeJpeg(v.frameJpeg(f))
          if (prev.pixels.zip(cur.pixels).exists(p => p._1 != p._2)) c += 1
          prev = cur
        }
        c
      }).agg(sum("value")).head().getLong(0)
    }
    val tA = System.nanoTime()
    val (lc, ld) = cutsPrefiltered()
    val dA = (System.nanoTime() - tA) / 1e9
    val tB = System.nanoTime()
    val lcAll = cutsDecodeAll()
    val dB = (System.nanoTime() - tB) / 1e9
    println(f"[scale] mjpeg_cuts long-scene 512x240f: cuts=$lc " +
      f"(=${lcAll} decode-all) prefilter_decodes=$ld of ${512 * 240} " +
      f"frames: prefiltered=$dA%.2f s decode_all=$dB%.2f s " +
      f"(${dB / dA}%.1fx)")
  }

  /** q171's ingest path under arrival growth, WORST CASE by
    * construction: the index holds every PPM variant of the sf0.1
    * corpus and the arrivals are k-fold replicas of every PNG
    * pixel-twin (ids offset, hashes identical) — every arrival is a
    * dup, every band of every arrival hits its twin's buckets, so the
    * candidate volume is the maximum the corpus admits. Cost must be
    * linear in arrivals (decode+hash per arrival, one band equi-join,
    * verify on candidates) with the index side fixed.
    *
    * Measured (local[32], 833-image index): 3.77/1.94/1.35 s at
    * k=1/4/10 (833/3332/8330 arrivals, 100% dup) — k=1 carries plan +
    * codegen warmup; 10x the arrivals lands BELOW it, i.e. the whole
    * worst-case ingest is fixed-cost dominated at probe scale with a
    * shallow linear data term.
    */
  private def phashIngestScale(spark: SparkSession): Unit = {
    import graft.multimodal.{CodecQueries, PhashIndex}
    val dir = "/root/testdata/sf0.1"
    val idx = TempArtifacts.dir("probe_phash_idx")
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, dir, col("doc_id") % 6 === 0),
      idx)
    // decode+hash ONCE; replicas are projections over the checkpoint
    val base = CodecQueries
      .phashHashesOf(spark, dir, col("doc_id") % 6 === 3)
      .localCheckpoint(true)
    for (k <- Seq(1, 4, 10)) {
      val arr = (0 until k).map(i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L))
          .as("doc_id"), col("hash"))).reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val dec = PhashIndex.phashIngestDecisions(arr, idx)
      val dups = dec.filter(col("status") === "dup").count()
      println(f"[scale] phash_ingest k=$k arrivals=${dec.count()} " +
        f"dups=$dups time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** The real-codec stack (q160-q164) under growth on BOTH axes that
    * matter for a 100 TB media corpus:
    *
    *   - ROW axis (`codec_rows`): k-fold arrivals through the full
    *     five-codec dispatch (encode+decode round-trip per row). The
    *     decode is per-row CPU batched per partition with zero
    *     shuffles, so wall-clock must be linear in rows and saturate
    *     the cores (mapPartitions parallelism, not a driver loop).
    *   - PIXEL axis (`codec_pixels`): constant rows, image area scaled
    *     s^2 via PNG (the heaviest real decoder: zlib + defilter).
    *     Cost must track DECODED BYTES, not row count — a decoder
    *     that re-buffers or spools per row would show a knee here.
    *
    * Measured (local[32], sf0.1): codec_rows 3.3 s at k=1 (codegen
    * warmup) then 1.30/1.27 s at k=4/10 — 10x the rows inside the
    * fixed-cost envelope, 50k mixed-codec round-trips ≈ 1.3 s wall.
    * codec_pixels 1.34/1.37/3.63 s at s=1/2/4 (2.2M/8.6M/34.5M
    * pixels): 16x the pixels costs 2.7x — per-row overhead dominates
    * the small rungs and the top rung decodes ~9.5M px/s with no
    * knee (ImageIO.setUseCache(false) matters here: the default
    * disk-backed stream cache would put a temp-file write in every
    * row's decode).
    */
  private def codecScale(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.multimodal.{CodecQueries, Codecs, Multimodal}
    val ids = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id")).as[Long]
    for (k <- Seq(1, 4, 10)) {
      val rows = (0 until k).map(i =>
        ids.map(_ + i.toLong * 10000000L)).reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val n = rows.mapPartitions(_.map { id =>
        val (kind, bytes) = CodecQueries.synthPayload(id)
        CodecQueries.mediaSummary(kind, bytes).nUnits
      }).agg(sum("value")).head().getLong(0)
      println(f"[scale] codec_rows k=$k rows=${5000 * k} units=$n " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    for (s <- Seq(1, 2, 4)) {
      val t0 = System.nanoTime()
      val (nPix, nBytes) = ids.mapPartitions(_.map { id =>
        val small = CodecQueries.synthImage(id)
        val img = Multimodal.PpmImage(small.width * s, small.height * s,
          Array.tabulate(small.width * s * small.height * s * 3)(j =>
            ((id * 7 + j.toLong * 131) % 256).toByte))
        val png = Codecs.encodePng(img)
        val dec = Codecs.decodePng(png)
        (dec.width.toLong * dec.height, png.length.toLong)
      }).toDF("pix", "bytes").agg(sum("pix"), sum("bytes")).head() match {
        case r => (r.getLong(0), r.getLong(1))
      }
      println(f"[scale] codec_pixels s=$s pixels=$nPix png_bytes=$nBytes " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // q181's gate overhead ON TOP of bare decode: the low-information
    // gates (blank variance / clip count / static delta) add one more
    // pass over decoded content inside the same partition map — the
    // delta vs codec_rows above is the gate's whole marginal cost
    // (no extra decode, no shuffle). Measured (local[32], sf0.1):
    // 1.2/1.0/1.4 s at 5k/20k/50k rows vs codec_rows 3.2(warm
    // 1.2)/1.2/1.2 s — the gates cost ~0.2 s per 50k mixed payloads
    // on top of decode, and kept counts replicate exactly (3732 x k).
    for (k <- Seq(1, 4, 10)) {
      val t0 = System.nanoTime()
      val media = CodecQueries.curatedMediaTable(
        spark, "/root/testdata/sf0.1")
      // k-fold arrival volume: the synthesis+decode pass runs k times
      // over the corpus with shifted ids (ids only shift AFTER
      // synthesis so every replica carries real decodable payloads)
      val all = (0 until k).map { i =>
        media.select((col("media_id") + lit(i.toLong * 10000000L))
          .as("media_id"), col("kind"), col("bytes"))
      }.reduce(_ unionAll _)
      val kept = CodecQueries.mediaCurationDecisions(all).toDF()
        .filter(col("keep")).agg(count(lit(1))).head().getLong(0)
      println(f"[scale] curation_gate k=$k rows=${5000 * k} kept=$kept " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** q46's IN-QUERY integer-Lloyd training loop under corpus growth:
    * each iteration is one broadcast join against K x Dim centroid
    * rows (metadata) plus two map-side-combining aggregations over
    * corpus x K narrow integer rows, so total cost must be LINEAR in
    * the vector count with no pair blowup — the property that lets
    * the oracle-checkable trainer double as a (sampled) production
    * trainer. Replicates the sf0.1 embeddings (2000 vectors) k-fold
    * with shifted vec_ids (the probe set stays the original first 10
    * ids) and forces the recall output.
    *
    * Measured (local[32], 2k/8k/20k vectors x 64 dims): 12.2/8.2/9.4 s
    * at k=1/4/10 (k=1 carries first-run codegen warmup — k=4 is
    * cheaper): 10x the vectors moves warm wall-clock ~15%, so at probe
    * scale the loop is fixed-cost dominated (4 iterations x ~6 jobs)
    * with a shallow linear data term and no knee — the shape that
    * scales to a corpus-sized training set, where the per-iteration
    * broadcast join + two partial aggregations dominate and grow
    * linearly.
    */
  private def annTrainScale(spark: SparkSession): Unit = {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    for (k <- Seq(1, 4, 10)) {
      val f = (0 until k).map { i =>
        emb.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          posexplode(col("embedding")).as(Seq("i", "v")))
      }.reduce(_ unionAll _)
        .withColumn("v", col("v").cast("double"))
      val t0 = System.nanoTime()
      val r = graft.similarity.SimilarityQueries.annIvfRecallOf(f)
        .agg(sum("recall_at_10")).head.getDouble(0)
      println(f"[scale] ann_train k=$k vecs=${2000L * k} recall_sum=$r%.2f " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      CacheScope.flush(spark)
    }
  }

  /** q178's IVF-PQ under corpus growth, in the regime that matters:
    * coarse K stays fixed (10 label lists) while every list's
    * membership grows k-fold, so the probed share of the corpus is a
    * constant fraction (IvfPqNProbe/K) and the candidate + ADC stage
    * must scale linearly in it; the exact re-rank stays bounded at
    * PqNCand rows regardless of k. Replicas shift vec_id only, so
    * codebook training mass also grows k-fold — the one super-linear
    * risk would be an accidental pairwise term, which the probe would
    * expose as super-linear time.
    *
    * Measured (local[32], sf0.1, 10 probes): k=1 11.1 s (codegen
    * warmup), k=4 8.2 s, k=10 10.1 s — 10x the vectors costs 1.2x of
    * k=4, so the probe scale is fixed-cost dominated and the
    * data-sized terms (assign, encode, ADC) are the linear minority
    * they should be. Aggregate hits rise with k (26 -> 93 of 100)
    * because every replica of a probe is an exact twin landing in the
    * probe's own coarse list — the exact top-10 concentrates into
    * probed lists as k grows.
    */
  private def ivfPqScale(spark: SparkSession): Unit = {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
    for (k <- Seq(1, 4, 10)) {
      val f = (0 until k).map { i =>
        emb.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("label"),
          posexplode(col("embedding")).as(Seq("i", "v")))
      }.reduce(_ unionAll _)
        .withColumn("v", col("v").cast("double"))
      val t0 = System.nanoTime()
      val row = graft.similarity.SimilarityQueries.ivfPqRecallOf(f)
        .agg(sum("n_candidates").as("nc"), sum("hits").as("h")).head()
      println(f"[scale] ivfpq k=$k vecs=${2000L * k} " +
        f"cand=${row.getLong(0)} hits=${row.getLong(1)} " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      CacheScope.flush(spark)
    }
  }

  /** The COMPOSED curation sink's per-micro-batch cost (span scrub ->
    * quality -> repetition gate -> dedup decisions -> fenced commit ->
    * two index advances) at 1x/4x/10x arrival volume against a fixed
    * half-corpus index; the other half (id-shifted) arrives, so the
    * batch carries the realistic mix — partially scrubbed docs,
    * quality drops, repetition drops, dups, and admissions all occur
    * (the audit statuses are printed to prove the stages fire). The
    * repetition gate — the stage this round composed in — is also
    * timed ALONE, over the whole raw batch with the same local-persist
    * pins: an UPPER BOUND on its in-sink incremental cost (inside the
    * sink the gate prices only the scrubbed quality SURVIVORS, ~70%
    * of arrivals here). Expect ~linear in arrival volume; the index
    * side is fixed.
    *
    * Measured (local[32], sf0.1 halves): gate 6.3/6.3/7.6 s, full
    * batch 44.4/31.7/39.4 s at k=1/4/10 (2.5k/10k/25k arriving docs;
    * k=1 carries first-run codegen warmup — k=4 is CHEAPER) — both
    * legs are fixed-cost dominated at probe scale: 10x the arrival
    * volume moves the gate ~20% and the batch not at all, so the
    * composed sink's cost is its ~dozen fenced jobs (scrub, gate,
    * decisions, commit, two advances), which amortize over the much
    * larger micro-batches a real deployment feeds. The status line
    * proves every stage fires on real text: quality_drop ~30%,
    * repetition_drop 6 docs per corpus half (the CLEAN gate, no
    * fixture augmentation — genuine within-doc repeats), survivors
    * all near-dup twins of the indexed half (this corpus's nature).
    */
  private def curationSinkLatency(spark: SparkSession,
      base: org.apache.spark.sql.DataFrame): Unit = {
    val w = graft.dedup.DedupQueries.DupW
    val idxDocs = base.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text")
    val arrBase = base.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    for (k <- Seq(1, 4, 10)) {
      val ng = TempArtifacts.dir(s"probe_cur_ng$k")
      val dd = TempArtifacts.dir(s"probe_cur_dd$k")
      graft.dedup.DedupQueries.buildNgramIndex(idxDocs, w, ng)
      graft.dedup.DedupQueries.buildDedupIndex(idxDocs, dd)
      val out = TempArtifacts.dir(s"probe_cur_out$k") + "/audit"
      val arrivals = (0 until k).map { i =>
        arrBase.select(
          (col("doc_id") + lit(20000000L + i.toLong * 10000000L))
            .as("doc_id"), col("text"))
      }.reduce(_ unionAll _).localCheckpoint(true)
      val n = arrivals.count()
      // the new stage alone, stream-style pins (local persists)
      val pins = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.DataFrame]
      val pin: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        df => { val p = df.persist(); pins += p; p }
      var t0 = System.nanoTime()
      val kept = graft.text.TextQueries.repetitionGate(arrivals, pin)
        .agg(sum(col("keep_repetition").cast("long"))).head.getLong(0)
      val gateSec = (System.nanoTime() - t0) / 1e9
      pins.foreach(_.unpersist())
      t0 = System.nanoTime()
      graft.streaming.Streams.curationIngestBatch(
        arrivals, 0L, ng, dd, w, out, 0)
      val batchSec = (System.nanoTime() - t0) / 1e9
      val statuses = spark.read.parquet(out + "/batch-0")
        .groupBy("status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
        .mkString(" ")
      println(f"[scale] curation_stream k=$k docs=$n gate=$gateSec%.2f s " +
        f"batch=$batchSec%.2f s keep_rep=$kept $statuses")
      CacheScope.flush(spark)
    }
  }

  /** The committed-batch-dir listing knee: a fenced streaming advance
    * leaves one `batch-<id>` dir per micro-batch, and
    * [[graft.sources.BatchCommits.readComponent]]'s recursive lookup
    * is LINEAR in them (directory listing + one parquet footer per
    * batch file before a single row is read). This probe puts a number
    * on where that knee sits — the measurement that motivates the
    * compaction cadence (`compactEvery`) instead of asserting it.
    *
    * One real fenced advance is cloned byte-for-byte to batch-2..N (the
    * probe measures the SERVE READ, not the writes), the serve read is
    * timed at 10/100/1000 committed dirs, then `compactDedupIndex`
    * collapses the artifact and the read is timed again.
    *
    * Measured (local[32], local disk): read 0.36 s at 10 dirs, 0.47 s
    * at 100, 2.19 s at 1000 — the listing+footer term dominates data
    * cost well before 1000 batches even on LOCAL files (an object
    * store pays 1-2 orders of magnitude more per LIST), and
    * post-compaction the same artifact reads in 0.14 s. A stream
    * committing every ~30 s crosses 1000 batches in ~8 h: an
    * uncompacted index serves ~15x slower than a compacted one within
    * a day,
    * which is why the sinks run the q156-family compaction on a
    * batch-count cadence rather than leaving it to an operator.
    */
  private def batchDirListing(spark: SparkSession,
      base: org.apache.spark.sql.DataFrame): Unit = {
    val idx = TempArtifacts.dir("probe_batch_dirs")
    graft.dedup.DedupQueries.buildDedupIndex(
      base.filter(col("doc_id") < 500), idx)
    graft.dedup.DedupQueries.advanceDedupIndex(
      base.filter(col("doc_id") >= 500 && col("doc_id") < 550)
        .select("doc_id", "text"), idx, Some(1L))
    val live = graft.sources.ArtifactVersions.live(idx)
    def cloneBatch(comp: String, to: Long): Unit = {
      val src = java.nio.file.Paths.get(live, comp, "batch-1")
      val dst = java.nio.file.Paths.get(live, comp, s"batch-$to")
      java.nio.file.Files.createDirectories(dst)
      Option(src.toFile.listFiles).getOrElse(Array.empty).foreach(f =>
        java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)): Unit)
    }
    var have = 1L
    for (n <- Seq(10L, 100L, 1000L)) {
      for (id <- have + 1 to n; comp <- Seq("signatures", "bands"))
        cloneBatch(comp, id)
      have = n
      spark.catalog.refreshByPath(idx)
      val t0 = System.nanoTime()
      val rows = graft.dedup.DedupQueries.indexSignatures(spark, idx).count()
      println(f"[scale] batch_dirs n=$n rows=$rows " +
        f"read=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val tc = System.nanoTime()
    graft.dedup.DedupQueries.compactDedupIndex(spark, idx)
    val compactS = (System.nanoTime() - tc) / 1e9
    val t1 = System.nanoTime()
    val rows = graft.dedup.DedupQueries.indexSignatures(spark, idx).count()
    println(f"[scale] batch_dirs compacted rows=$rows " +
      f"read=${(System.nanoTime() - t1) / 1e9}%.2f s " +
      f"(compaction itself $compactS%.2f s)")
    CacheScope.flush(spark)
  }

  /** pathSlice cost vs trajectory length: a fixed 20x256x256 volume
    * (1.3M cells), probe paths of 10k / 100k / 1M samples. The corner
    * explosion is 4x the path and the join is hash-partitioned on
    * (it, iz, ix), so cost should track path length ~linearly with a
    * constant grid-side term — the property that lets a billion-row
    * spacecraft trajectory sample a petabyte volume without the grid
    * ever being re-shuffled per sample.
    *
    * Measured on local[32]: k=10k 5.0 s (absorbs grid build + codegen
    * warmup), k=100k 1.8 s, k=1M 4.0 s — 10x the samples costs 2.3x:
    * a ~1.5 s fixed grid-side term plus a linear path term, exactly
    * the intended shape.
    */
  private def pathSliceScale(spark: SparkSession): Unit = {
    import graft.grid.{GridVar, LineSlice}
    val nt = 20; val n = 256
    val axes = (0 until n).map(_ * 0.5).toArray
    val grid = spark.range(nt.toLong * n * n).select(
        (col("id") / (n * n)).cast("int").as("it"),
        ((col("id") / n) % n).cast("int").as("iz"),
        (col("id") % n).cast("int").as("ix"))
      .withColumn("value",
        sin(col("iz") * 0.1) * cos(col("ix") * 0.1) + col("it"))
    val v = GridVar("b", Array.tabulate(nt)(_.toDouble),
      Seq(("iz", axes), ("ix", axes)), grid)
    for (k <- Seq(10000, 100000, 1000000)) {
      val path = spark.range(k).select(
          (col("id") % nt).cast("int").as("it"),
          // dense deterministic coverage of the box; 997/999 are coprime
          // to the 20-step time cycle so (it, z, x) triples stay distinct
          (((col("id") * 7919) % 997) * (n * 0.5 / 1000)).as("z"),
          (((col("id") * 104729) % 999) * (n * 0.5 / 1000)).as("x"))
      val t0 = System.nanoTime()
      val rows = LineSlice.pathSlice(v, path).df.count()
      CacheScope.flush(spark)
      println(f"[scale] pathslice k=$k rows=$rows " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Where do find_structures' scheduled jobs COME from? One n=48
    * island-lattice run with a listener that histograms job call sites
    * — the targeting data for any job-count reduction (the wall at toy
    * scale is per-job quanta, so the biggest bucket is the lever).
    *
    * Round-8 audit (n=48, 25 X pts, local[32]): 65 jobs, 47 of them
    * AQE query-stage materializations of KB-scale exchanges. Round 9
    * SPENT that audit: FindStructures scopes AQE off (+ static
    * shuffle width 8) for small grids (its AqeCellFloor) — 30 jobs.
    * Round 10 spent the rest: the scope moved into a child
    * newSession, so the RETURNED mask dataframes execute AQE-off too
    * (the 16 post-return query stages under the two output counts
    * collapsed to 2 one-job counts), and statically single-tile CC
    * solves became LAZY (4 eager localCheckpoints folded into their
    * consumers) — **20 jobs**, isolated g19 bench 10.28 -> 7.39 s
    * min-of-3. What remains: the classify collect + its broadcasts,
    * the seps/cs checkpoints, and the overlapped current-sheet
    * chain's jobs. (Round-9 negative results, don't retry: AQE off
    * ALONE is slower, 12.25 s — the static width matters; width 4
    * gains nothing over 8.) At cluster scale the quanta amortize over
    * arbitrarily large stages (the sweep above shows the data term is
    * flat), so the remaining floor is a LOCAL artifact, not a scale
    * risk.
    */
  private def g19JobAudit(spark: SparkSession): Unit = {
    import graft.grid.{FindStructures, GridVar, SimDataset}
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val durs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]
    val listener =
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // AQE query-stage jobs carry the AQE pool's lambda as their
          // stage name, but SHARE the root action's SQL execution id —
          // key the histogram on (execId, root site): the root site is
          // whichever job of the execution has a real call-site name
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
    val n = 48
    val k = 2 * math.Pi / 16
    val ph = 0.3
    val g0 = spark.range(n.toLong * n).select(lit(0).as("it"),
        (col("id") / n).cast("int").as("iz"),
        (col("id") % n).cast("int").as("ix"), lit(0.0).as("t"))
      .withColumn("b1",
        lit(k) * cos(lit(k) * (col("iz") + ph)) * sin(lit(k) * (col("ix") + ph)))
      .withColumn("b2",
        lit(k) * sin(lit(k) * (col("iz") + ph)) * cos(lit(k) * (col("ix") + ph)))
    val axes = (0 until n).map(_ * 0.5).toArray
    def v(label: String, c: org.apache.spark.sql.Column) =
      GridVar(label, Array(0.0), Seq(("iz", axes), ("ix", axes)),
        g0.select(col("it"), col("iz"), col("ix"), col("t"), c.as("value")))
    val ds = SimDataset(Map.empty, Map("b1" -> v("b1", col("b1")),
      "b2" -> v("b2", col("b2")), "jy" -> v("jy", col("b2"))))
    val res = FindStructures(ds, smoothing = 1.0, deTol = 5.0)
    res.dataset.variables("separatrices").df.filter(col("value") > 0).count()
    res.dataset.variables("current_sheets").df.filter(col("value") =!= 0).count()
    CacheScope.flush(spark)
    import scala.jdk.CollectionConverters._
    val total = sites.asScala.values.map(_.intValue).sum
    val tTotal = durs.asScala.values.map(_.longValue).sum
    println(s"[scale] g19_jobaudit total=$total jobms=$tTotal")
    sites.asScala.toSeq.sortBy(-_._2.intValue).foreach { case (s, c) =>
      val ms = Option(durs.get(s)).map(_.longValue).getOrElse(0L)
      // resolve "exec=N (aqe stage)" buckets to the execution's root site
      val label = if (s.startsWith("exec=")) {
        val id = s.stripPrefix("exec=").takeWhile(_ != ' ')
        s + Option(execSite.get(id)).map(r => s" root: $r").getOrElse("")
      } else s
      println(f"[scale]   $c%3d  ${ms}%6d ms  $label")
    }
    // probes running after this one must not keep feeding the audit
    // maps (nor would a second audit call double-count)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Multi-probe economics for the cluster-bounded family (q111/q116):
    * on the sf0.1 embeddings (5k vectors), build the EXACT top-5 graph
    * by brute force (n² vector-level cross join through the native
    * cosine expression — affordable at probe scale, the thing the
    * cluster bound exists to avoid at corpus scale), then measure the
    * kNN graph's edge recall and candidate-pair cost at probe widths
    * 1 and 2. The claim under test: top-2 probing recovers the
    * cross-boundary edges single-probe structurally misses, for ≈2x
    * the bounded pair space (both linear in n).
    *
    * Measured on local[32] (sf0.1, 2000 vecs, k=5, k_clusters=20):
    * nprobe=1 pairs=100,060 recall=0.167; nprobe=2 pairs=387,924
    * recall=0.443 — 2.7x the recalled edges for 3.9x the candidate
    * pairs. The 2x geometry estimate understates the cost at this toy
    * k_clusters=20 (probed-cluster populations overlap heavily); both
    * counts stay ≈ nProbe²·n·stride — linear in n, which is the bound
    * that matters at corpus scale. Absolute recall is low because
    * synthetic label-blob embeddings put most true top-5 edges across
    * blob boundaries — the structural miss multi-probe exists to
    * shrink; the q89/q96/q118 recall gates measure the production ANN
    * ladder instead.
    */
  private def multiProbeRecall(spark: SparkSession): Unit = {
    import graft.similarity.SimilarityQueries
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding").persist()
    val k = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("va").orderBy(col("cos").desc, col("vb").asc)
    val exact = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")),
        col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        round(graft.functions.VectorOps.cosine(col("ea"), col("eb")), 6)
          .as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("va", "vb").persist()
    val nEdges = exact.count()
    for (np <- Seq(1, 2)) {
      val t0 = System.nanoTime()
      val (_, half) = SimilarityQueries.clusterBoundedCosineOf(emb, np)
      val nPairs = half.count()
      val hit = SimilarityQueries.knnGraphOf(emb, k, np)
        .select(col("vec_id").as("va"), col("nbr_id").as("vb"))
        .join(exact, Seq("va", "vb"), "left_semi").count()
      CacheScope.flush(spark)
      println(f"[scale] multiprobe nprobe=$np pairs=$nPairs " +
        f"recall=${hit.toDouble / nEdges}%.4f exact_edges=$nEdges " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    exact.unpersist(); emb.unpersist()
  }

  /** q116 kNN-graph scaling: replicate the embeddings corpus k-fold.
    * Plain replication would be the DEGENERATE case (identical twins
    * all land in one cluster -> pop k·stride -> pair space n·k·stride,
    * quadratic in k — same lesson as minhash_pairs above), so each
    * replica circular-shifts the embedding by one position: same value
    * distribution, but every replica forms its own cluster structure.
    * Seed density stays 1-in-stride (vec_id offsets are multiples of
    * the stride), so k_clusters grows with n and expected population
    * stays ~stride: candidate pairs ≈ n·stride — LINEAR in n by
    * construction. `pairs` counts the cluster-bounded candidate space
    * (the cost driver); `edges` the kept top-k rows (≤ n·K trivially).
    */
  private def knnGraphScale(spark: SparkSession): Unit = {
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding")
    val dim = 64
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map { i =>
        val sh = i % dim
        base.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          (if (sh == 0) col("embedding")
           else concat(slice(col("embedding"), sh + 1, dim - sh),
             slice(col("embedding"), 1, sh))).as("embedding"))
      }.reduce(_ unionAll _)
      val t0 = System.nanoTime()
      val (_, half) = graft.similarity.SimilarityQueries
        .clusterBoundedCosineOf(emb)
      val halfC = half.persist()
      val pairs = halfC.count()
      val edges = graft.similarity.SimilarityQueries.knnGraphOf(emb).count()
      halfC.unpersist()
      CacheScope.flush(spark)
      println(f"[scale] knn_graph k=$k vecs=${5000L * k} pairs=$pairs " +
        f"edges=$edges time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Dedup-index artifact economics: on a 10x corpus (50k docs), time
    * (a) the recompute path — each query rebuilds MinHash signatures
    * from raw text — vs (b) ONE buildDedupIndex job + queries that scan
    * the parquet artifact. The per-query delta times the query count is
    * what a deployment saves; the build cost is paid once per corpus
    * snapshot. The consumer here is star-contracted clustering (q50's
    * operator), the heaviest signature consumer in the suite.
    */
  private def dedupIndexScale(spark: SparkSession): Unit = {
    val docs = {
      val base = Tables.documents(spark, "/root/testdata/sf0.1")
      (0 until 10).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionAll _)
    }.persist()
    docs.count()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] dedup_index $label time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_probe").toString
    time("build (once per snapshot)")(
      graft.dedup.DedupQueries.buildDedupIndex(docs, idx))
    CacheScope.flush(spark)
    for (q <- 1 to 2) {
      time(s"query_recompute #$q (sigs from text)")(
        graft.dedup.DedupQueries.dedupClustersStarOf(docs).count())
      CacheScope.flush(spark)
    }
    for (q <- 1 to 2) {
      time(s"query_indexed #$q (sigs from artifact)")(
        graft.dedup.DedupQueries.dedupClustersStarFrom(docs,
          graft.CacheScope.retain(
            graft.dedup.DedupQueries.indexSignatures(spark, idx))).count())
      CacheScope.flush(spark)
    }
    docs.unpersist()
  }

  /** find_structures grid-size sweep — the measured backing for g19's
    * bench note: the composed pipeline schedules a (nearly) CONSTANT
    * number of Spark jobs regardless of grid size, so its toy-scale
    * wall is per-job fixed overhead, not a data term. The field is the
    * analytic island lattice (TopologySpec) at fixed wavelength, so the
    * structure count grows with AREA (more X points, more keyed-CC
    * groups) while the plan — and the job count — stays the same shape.
    *
    * Measured on local[32] (round 7):
    *   n=24   (576 cells,   4 X pts)  jobs=65  14.6 s
    *   n=48  (2304 cells,  25 X pts)  jobs=65  14.2 s
    *   n=96  (9216 cells, 121 X pts)  jobs=65  25.4 s
    * Round 8, after the support-bounded separatrix cell generation
    * (sep/O-structure work tracks Σ bbox area instead of cells×xpoints):
    *   n=24  jobs=65  17.4 s   n=48  jobs=65  12.9 s   n=96  jobs=65  14.9 s
    * — the n=96 data term collapsed (25.4 -> 14.9 s, now ~flat in grid
    * size); job count exactly constant. Round 9, after the scoped
    * AQE-off + static-width-8 window inside FindStructures:
    *   n=24  jobs=30  15.1 s   n=48  jobs=30  11.2 s   n=96  jobs=30  13.7 s
    * — jobs 65 -> 30, still EXACTLY constant in grid size (n=24 pays
    * first-run JVM/codegen warmup). The smooth island jy never exceeds
    * its mean±3σ threshold, so the current-sheet legs run on empty
    * masks (cs=0) — the chain's fixed cost is still in every number.
    * See [[g19JobAudit]] for where the remaining ~20 come from.
    */
  /** q133 cost vs order count: replicate sf0.1 lineitem k x with
    * disjoint order keys (same parts — the node set stays fixed, the
    * basket count scales k x). Edge generation is the only data-sized
    * stage (self-join + pair aggregate); iterations touch the
    * DISTINCT-pair table, whose size is capped by the (unchanged)
    * node-pair space — so time should grow sublinearly in k once the
    * distinct pair space saturates, and never quadratically.
    *
    * Measured on local[32]: k=1 13.5 s (cold session), k=4 9.3 s,
    * k=10 25.3 s — 2.5x the baskets from k=4 costs 2.7x: linear in
    * basket count (the self-join + pair aggregate), no quadratic term.
    */
  private def pagerankScale(spark: SparkSession): Unit = {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .select("l_orderkey", "l_partkey")
    def rep(k: Int) = (0 until k).map { i =>
      li.select((col("l_orderkey") + lit(i.toLong * 1000000000L))
        .as("l_orderkey"), col("l_partkey"))
    }.reduce(_ unionAll _)
    for (k <- Seq(1, 4, 10)) {
      val t0 = System.nanoTime()
      val n = graft.relational.RelationalQueries
        .copurchasePagerankOf(rep(k)).count()
      CacheScope.flush(spark)
      println(f"[scale] pagerank k=$k rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** q135 cost vs event count: replicate sf0.1 events k x with
    * disjoint user ids (sessions and sweep boundaries scale k x, the
    * peak multiplies). The sweep is a range exchange + narrow
    * accumulation (globalCumSum), so time should track boundary count
    * ~linearly — the property that lets the timeline of a year of
    * cluster-wide events be swept without a single-task sort.
    *
    * Measured on local[32]: k=1 4.5 s (cold), k=4 2.7 s, k=10 2.7 s —
    * 10x the sessions at the k=4 cost: the wall is the fixed per-stage
    * quanta, the data term is not yet visible at ~1M sessions. The
    * peak multiplying exactly by k (9/36/90) checks the replication.
    */
  private def sweepLineScale(spark: SparkSession): Unit = {
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
    def rep(k: Int) = (0 until k).map { i =>
      ev.select(col("event_id"), col("ts"),
        (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    for (k <- Seq(1, 4, 10)) {
      val t0 = System.nanoTime()
      val r = graft.relational.RelationalQueries
        .peakConcurrencyOf(rep(k)).collect()(0)
      CacheScope.flush(spark)
      println(f"[scale] sweepline k=$k peak=${r.getLong(0)} nsess=${r.getLong(2)} time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  private def g19GridSweep(spark: SparkSession): Unit = {
    import graft.grid.{FindStructures, GridVar, SimDataset}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    val k = 2 * math.Pi / 16
    val ph = 0.3
    for (n <- Seq(24, 48, 96)) {
      val g0 = spark.range(n.toLong * n).select(lit(0).as("it"),
          (col("id") / n).cast("int").as("iz"),
          (col("id") % n).cast("int").as("ix"), lit(0.0).as("t"))
        .withColumn("b1",
          lit(k) * cos(lit(k) * (col("iz") + ph)) * sin(lit(k) * (col("ix") + ph)))
        .withColumn("b2",
          lit(k) * sin(lit(k) * (col("iz") + ph)) * cos(lit(k) * (col("ix") + ph)))
      val axes = (0 until n).map(_ * 0.5).toArray
      def v(label: String, c: org.apache.spark.sql.Column) =
        GridVar(label, Array(0.0), Seq(("iz", axes), ("ix", axes)),
          g0.select(col("it"), col("iz"), col("ix"), col("t"), c.as("value")))
      val ds = SimDataset(Map.empty, Map("b1" -> v("b1", col("b1")),
        "b2" -> v("b2", col("b2")), "jy" -> v("jy", col("b2"))))
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val res = FindStructures(ds, smoothing = 1.0, deTol = 5.0)
      val sepCells = res.dataset.variables("separatrices").df
        .filter(col("value") > 0).count()
      val csCells = res.dataset.variables("current_sheets").df
        .filter(col("value") =!= 0).count()
      CacheScope.flush(spark)
      println(f"[scale] g19_sweep n=$n cells=${n * n} " +
        f"xpoints=${res.xCoords.size} sep=$sepCells cs=$csCells " +
        f"jobs=${jobs.get - j0} time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** DSv2 VPIC scan throughput: one 3-D var streamed through the
    * zero-allocation reader (full schema, then column-pruned).
    */
  /** ONE copy of the VPIC probe grid (40x32x8x64, two variables) and
    * its measurement legs — the raw-vs-HDF5 comparison must measure the
    * SAME corpus through the SAME plans, so both probes share this.
    */
  private val ProbeGridVars: Map[String, (Int, Int, Int, Int) => Double] =
    Map("a/v1" -> ((it, iz, iy, ix) => it + iz + iy + ix.toDouble),
        "b/v2" -> ((it, iz, iy, ix) => it * 2.0 - iz + iy - ix))
  private def probeGridAxes = (Array.tabulate(40)(_.toDouble),
    Array.tabulate(32)(_ * 0.1), Array.tabulate(8)(_ * 0.1),
    Array.tabulate(64)(_ * 0.1))

  private def vpicScanLegs(spark: SparkSession, tag: String,
      dir: String): Unit = {
    val rows = 2L * 40 * 32 * 8 * 64
    def scan = spark.read.format("graft-vpic").option("path", dir).load()
    // the 'full' leg must REFERENCE every column: V2 scan pushdown
    // prunes the required schema to whatever the aggregate touches, so
    // a bare sum(value) would make 'full' and 'pruned' the identical
    // empty-ish plan and the comparison would measure nothing
    for ((label, df, n) <- Seq[(String, org.apache.spark.sql.DataFrame, Long)](
        ("full", scan.agg(sum("value"), max("it"), max("iz"),
          max("iy"), max("ix"), count("var")), rows),
        ("pruned(value)", scan.select("value").agg(sum("value")), rows),
        ("it<10 chunk-pruned",
          scan.filter(col("it") < 10).agg(sum("value")), rows / 4))) {
      val t0 = System.nanoTime()
      df.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $tag $label rows=$n time=$dt%.2f s " +
        f"(${n / dt / 1e6}%.1f M rows/s)")
    }
  }

  private def vpicThroughput(spark: SparkSession): Unit = {
    import graft.sources.VPICSource
    val dir = java.nio.file.Files.createTempDirectory("vpic_probe").toString
    val (t, z, y, x) = probeGridAxes
    VPICSource.writeMock(dir, t, z, y, x, ProbeGridVars)
    vpicScanLegs(spark, "vpic_read", dir)
  }

  /** Streaming incremental near-dup, micro-batch latency: arriving docs
    * (500/batch) per-row-signed and joined against the band index of a
    * 10x corpus (50k docs) — evidence for the stream-static index shape
    * (Streams.nearDupCandidatesStream).
    */
  private def streamingNearDupLatency(spark: SparkSession,
      corpus10: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = graft.dedup.DedupQueries.bandBucketsPerRow(corpus10).persist()
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
      val arrivals = Tables.documents(spark, "/root/testdata/sf0.1")
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
    } finally { q.stop(); index.unpersist() }
  }

  /** Per-row text HOFs under LONG documents — q132's one-pass
    * repetition stat, q122's chunk explode, q97's windowed hashing
    * were built for 100k-token docs, but the gate corpus tops out
    * around 100 tokens. Sweep synthetic docs of 1k/10k/100k tokens at
    * CONSTANT total token mass (2M tokens), so linear-in-length cost
    * shows as ~flat wall-clock across the sweep — the O(L²)
    * distinct×filter shape q132 used to have would blow the 100k
    * point up ~100x (10^10 comparisons in one row). Measured
    * (local[32], warm at len >= 10k): q132 0.72/0.68 s, q122
    * 0.18/0.15 s, q97 2.03/2.29 s at 10k/100k — flat, the expected
    * slope. q152's span removal (islands window + reassembly fold,
    * near-maximal removable stream on this shared-vocab synthesis):
    * 3.7/3.2/2.8 s at 1k/10k/100k — flat too, so a single 100k-token
    * doc's per-doc sort and fold are no worse than the same mass
    * spread over 100 docs. q158's line/paragraph half in isolation
    * (interpreted HOF line/para assembly behind pinned barriers —
    * the one leg NOT rewritten to the codegen lead stream):
    * 1.2/1.0/1.3 s at 1k/10k/100k — flat-to-noise in doc length, no
    * knee, confirming the per-row slices are O(L) total and the
    * barrier shape needs no lead rewrite even at 100k-token docs.
    */
  /** The longdoc synthesis, shared with Profile's q158long section so
    * the profile always reproduces EXACTLY the probe's workload: `n`
    * docs of `len` tokens from a 30-word vocab, token at position i a
    * fixed function of (i, doc). NOTE the multiplier is ≡ 1 (mod 30),
    * so each doc is a rotated 30-token CYCLE — every window repeats
    * every 30 positions, the every-window-duplicated worst case for
    * the repetition/span families.
    */
  private[graft] def longDocCorpus(spark: SparkSession, n: Int, len: Int)
      : org.apache.spark.sql.DataFrame = {
    val vocab = array((0 until 30).map(i => lit(s"w$i")): _*)
    spark.range(n.toLong).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(len)),
        i => element_at(vocab,
          (pmod(i * 2654435761L + col("id") * 97L, lit(30)) + 1)
            .cast("int"))), " ").as("text"))
  }

  private def longDocStress(spark: SparkSession): Unit = {
    for ((n, len) <- Seq((2000, 1000), (200, 10000), (20, 100000))) {
      val c = longDocCorpus(spark, n, len).persist()
      c.count() // doc synthesis paid outside the timed ops
      def time(label: String)(f: => Any): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] longdoc $label len=$len docs=$n out=$r " +
          f"time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      // aggregates force the expensive columns (count() would let
      // Spark prune the HOFs away and time nothing)
      time("q132_quality")(
        graft.text.TextQueries.qualityFlagsOf(c)
          .agg(sum(col("keep").cast("long"))).head.getLong(0))
      time("q122_chunking")(
        graft.text.TextQueries.chunksOf(c)
          .agg(sum(length(col("chunk_text")))).head.getLong(0))
      time("q97_dup_ngrams")(
        graft.dedup.DedupQueries.dupNgramStats(c,
            graft.dedup.DedupQueries.DupW)
          .agg(sum("n_dup")).head.getLong(0))
      // q152's islands window (per-doc sort of removable positions)
      // and the reassembly fold both see n_tokens rows/doc here; the
      // shared-vocab synthesis makes most windows corpus-duplicated,
      // so the removable stream is near-maximal
      time("q152_span_removal")(
        graft.dedup.DedupQueries.dupSpanRemoval(c,
            graft.dedup.DedupQueries.DupW)
          .agg(sum(length(col("clean_text"))) + sum(col("n_removed")))
          .head.getLong(0))
      // q158's window stream is ~9x token mass, built codegen'd from a
      // 9-lead forward context (constant per-row state, no giant
      // per-row arrays); the 30-word PERIODIC synthesis makes every
      // window a within-doc duplicate, so the coverage-islands leg sees
      // its worst case (all dup-window intervals merge). Measured:
      // ~8-11 s per 2M tokens, flat-to-improving in doc length — the
      // cost is the window mass, not the doc shape
      time("q158_repetition")(
        graft.text.TextQueries.repetitionGate(c)
          .agg(sum(col("keep_repetition").cast("long"))).head.getLong(0))
      // the line/paragraph half in ISOLATION — the one q158 leg built
      // from interpreted per-row HOFs behind pinned barriers rather
      // than the codegen'd lead stream; priced via the dup fractions
      // (agg of the VALUE columns — count() would prune the assembly
      // away and time an empty plan). Line count per doc is
      // len/L ~ len/5, so the explode legs see ~2x line+para mass.
      time("q158_linepara")(
        graft.text.TextQueries.lineRepetitionSignalsOf(c)
          .agg(round(sum(col("dup_line_frac") + col("dup_para_frac")), 2))
          .head.getDouble(0))
      CacheScope.flush(spark)
      c.unpersist(): Unit
    }
  }

  /** The deliberately-skewed join inputs the skew probes share: 20x
    * replicated orders with 40% of rows landing on hot custkey 1.
    * Caller unpersists the returned fact.
    */
  private def skewedFactCust(spark: SparkSession)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = "/root/testdata/sf0.1"
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val nCust = cust.count()
    val fact = (0 until 20).map { i =>
      Tables.orders(spark, dir).select(
        (col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
        when(col("o_orderkey") % 5 < 2, lit(1L)) // 40% -> hot key 1
          .otherwise(pmod(col("o_orderkey") * 2654435761L, lit(nCust)) + 1)
          .as("c_custkey"),
        col("o_totalprice"))
    }.reduce(_ unionAll _).persist()
    (fact, cust)
  }

  /** The composed PROFILE -> THRESHOLD -> SALT loop (q145 ->
    * profiledSaltedJoin), with the evidence the profiler promises:
    * per-task shuffle-read spread (max over mean, join tasks) before
    * and after remediation on the deliberately skewed fact. The hot
    * set is NOT hand-picked — profiledSaltedJoin derives it from the
    * census (group size > 4x mean), the same x_mean rule q145
    * reports. Expect the plain SMJ's max task to carry ~the hot key's
    * 40% of the shuffle while the remediated join's straggler
    * collapses toward uniform. Measured (local[32], 3M-row fact, 40%
    * hot): plain max task 1,260,884 records (13.8x the mean reducer);
    * profiledSaltedJoin max task 150,407 — an 8.4x straggler
    * reduction, output row-identical.
    */
  private def skewRemediation(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val (fact, cust) = skewedFactCust(spark)
    // coalescing off for the MEASUREMENT: AQE otherwise merges the 32
    // reducers of this (deliberately small) probe into ~3, averaging
    // the straggler away — at real scale partitions are advisory-sized
    // and the hot one still sticks out. Spread is measured in RECORDS:
    // shuffle bytes are lz4'd and a constant-key run compresses far
    // better than the cold traffic, understating the imbalance the
    // tasks actually process.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val sh = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          sh.add(te.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(label: String)(f: => Long): Long = {
        sh.clear()
        val t0 = System.nanoTime()
        val n = f
        val secs = (System.nanoTime() - t0) / 1e9 // clock stops BEFORE the drain sleep
        Thread.sleep(500) // local listener bus drain
        // zero-read tasks (scans, scalar stages) are excluded; the
        // salted run's census reducers DO read a few records and drag
        // the mean down a little — the comparable headline metric is
        // max_task_records, the straggler's load, which sets stage
        // wall-clock and is what the summary line reports
        val reads = sh.asScala.map(_.toLong).filter(_ > 0).toSeq
        val mx = if (reads.nonEmpty) reads.max else 0L
        val mean = if (reads.nonEmpty) reads.sum / reads.size else 0L
        println(f"[scale] skew_remediation $label rows=$n " +
          f"time=$secs%.2f s " +
          f"max_task_records=$mx mean_task_records=$mean")
        mx
      }
      val mxPlain = measure("plain SMJ")(
        fact.join(cust, "c_custkey").count())
      val mxSalted = measure("profiledSaltedJoin(x_mean>4, salt=16)")(
        graft.relational.JoinOps.profiledSaltedJoin(
          fact, cust, "c_custkey", 16).count())
      // the number that sets stage wall-clock: the straggler's load
      println(f"[scale] skew_remediation straggler_reduction=" +
        f"${mxPlain.toDouble / math.max(mxSalted, 1)}%.1fx " +
        f"(max task $mxPlain -> $mxSalted records)")
    } finally {
      fact.unpersist()
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** AQE skew-join vs declarative salting on the same skewed join —
    * which path actually fixes the straggler, and what uniform salting
    * costs. Fact = orders x20 with 40%% of rows remapped to ONE hot
    * custkey; dim = customer; broadcast disabled (the 100 TB case where
    * the dim does not broadcast). AQE thresholds tuned down so the
    * optimizer can see the skew at probe scale.
    */
  private def aqeVsSalting(spark: SparkSession): Unit = {
    val (fact, cust) = skewedFactCust(spark)
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
      fact.unpersist()
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
