package graft.streaming

import graft.SharedSpark
import graft.dedup.DedupQueries
import graft.sources.BatchCommits
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once batch fence: a foreachBatch micro-batch replayed
  * after any crash point leaves every artifact byte-identical to the
  * no-crash run. Each test drives the sinks' extracted per-batch
  * bodies directly (the only way to force a same-id replay
  * deterministically) and asserts artifact equality — the contract
  * the old "replay caveat" scaladocs disclaimed.
  */
class ReplayFenceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) =
    graft.TempArtifacts.dir(p)

  private def docs = graft.Tables.documents(spark, sf)
    .select("doc_id", "text")

  private def snap(df: DataFrame): (Long, Set[String]) =
    (df.count(), df.collect().map(_.toString).toSet)

  test("BatchCommits: second commit of the same batch is a no-op; " +
      "readComponent sees flat files plus committed batch dirs; " +
      "a stranded staging dir stays invisible and is reclaimed") {
    import spark.implicits._
    val dir = tmp("graft_bc") + "/component"
    Seq(1L, 2L).toDF("x").write.parquet(dir) // the flat build write
    assert(!BatchCommits.isCommitted(dir, 7L))
    assert(BatchCommits.appendBatch(Seq(3L).toDF("x"), dir, 7L))
    assert(BatchCommits.isCommitted(dir, 7L))
    // the replay: different payload on purpose — it must NOT land
    assert(!BatchCommits.appendBatch(Seq(99L).toDF("x"), dir, 7L))
    // a crashed attempt's (per-attempt-unique) staging dir is hidden
    // from readers...
    Seq(42L).toDF("x").write.parquet(dir + "/.staging-8-deadcafe")
    assert(BatchCommits.readComponent(spark, dir)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // ...and the retried commit of the same batch reclaims it
    assert(BatchCommits.appendBatch(Seq(4L).toDF("x"), dir, 8L))
    assert(BatchCommits.readComponent(spark, dir)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, ".staging-8-deadcafe")))
  }

  test("BatchCommits: a stray FILE at the target name is an error, " +
      "not a swallowed race — and the fence still holds afterwards") {
    import spark.implicits._
    val dir = tmp("graft_bc_exotic") + "/component"
    Seq(1L).toDF("x").write.parquet(dir)
    // simulate the exotic failure: something that is NOT a committed
    // batch directory (e.g. a botched manual restore) sits at the name
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "batch-9"))
    val e = intercept[java.nio.file.FileSystemException] {
      BatchCommits.appendBatch(Seq(2L).toDF("x"), dir, 9L)
    }
    assert(e != null)
    // the failed attempt left no staging litter behind
    assert(Option(new java.io.File(dir).listFiles).get
      .forall(f => !f.getName.startsWith(".staging-")))
    // a real committed dir still fences: remove the stray, commit, replay
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "batch-9"))
    assert(BatchCommits.appendBatch(Seq(2L).toDF("x"), dir, 9L))
    assert(!BatchCommits.appendBatch(Seq(99L).toDF("x"), dir, 9L))
    assert(BatchCommits.readComponent(spark, dir)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("nearDupIngestBatch: full replay and crash-after-decisions " +
      "replay both leave the artifact and decision log unchanged") {
    val split = 25L
    val base = docs.filter(col("doc_id") < split)
    val b1 = docs.filter(col("doc_id") >= split).localCheckpoint(true)

    // reference: one clean run
    val idxRef = tmp("graft_rf_nd_ref"); val outRef = tmp("graft_rf_nd_refout")
    DedupQueries.buildDedupIndex(base, idxRef)
    Streams.nearDupIngestBatch(b1, 0L, idxRef, outRef)
    val wantSig = snap(DedupQueries.indexSignatures(spark, idxRef))
    val wantBand = snap(DedupQueries.indexBands(spark, idxRef))
    val wantOut = snap(BatchCommits.readComponent(spark, outRef))

    // full replay: the whole batch body runs twice with the same id
    val idxA = tmp("graft_rf_nd_a"); val outA = tmp("graft_rf_nd_aout")
    DedupQueries.buildDedupIndex(base, idxA)
    Streams.nearDupIngestBatch(b1, 0L, idxA, outA)
    Streams.nearDupIngestBatch(b1, 0L, idxA, outA)
    assert(snap(DedupQueries.indexSignatures(spark, idxA)) == wantSig)
    assert(snap(DedupQueries.indexBands(spark, idxA)) == wantBand)
    assert(snap(BatchCommits.readComponent(spark, outA)) == wantOut)

    // crash window: decisions committed, advance never ran — the
    // replay must complete the advance from the COMMITTED decisions
    val idxB = tmp("graft_rf_nd_b"); val outB = tmp("graft_rf_nd_bout")
    DedupQueries.buildDedupIndex(base, idxB)
    BatchCommits.appendBatch(
      DedupQueries.ingestBatchDecisions(b1, idxB)
        .withColumn("batch_id", lit(0L)),
      outB, 0L)
    Streams.nearDupIngestBatch(b1, 0L, idxB, outB)
    assert(snap(DedupQueries.indexSignatures(spark, idxB)) == wantSig)
    assert(snap(DedupQueries.indexBands(spark, idxB)) == wantBand)
    assert(snap(BatchCommits.readComponent(spark, outB)) == wantOut)
    graft.CacheScope.flush(spark)
  }

  test("spanScrubBatch: replaying a committed batch appends nothing " +
      "and re-reads the ORIGINAL cleaned text, not a re-scrub against " +
      "the advanced index") {
    val w = DedupQueries.DupW
    val split = 25L
    val base = docs.filter(col("doc_id") < split)
    val b1 = docs.filter(col("doc_id") >= split).localCheckpoint(true)

    val idxRef = tmp("graft_rf_ss_ref"); val outRef = tmp("graft_rf_ss_refout")
    DedupQueries.buildNgramIndex(base, w, idxRef)
    Streams.spanScrubBatch(b1, 0L, idxRef, w, outRef, 0)
    val wantOut = snap(BatchCommits.readComponent(spark, outRef))

    val idx = tmp("graft_rf_ss"); val out = tmp("graft_rf_ss_out")
    DedupQueries.buildNgramIndex(base, w, idx)
    Streams.spanScrubBatch(b1, 0L, idx, w, out, 0)
    val grams1 = snap(DedupQueries.liveGrams(spark, idx))
    Streams.spanScrubBatch(b1, 0L, idx, w, out, 0) // the replay
    assert(snap(DedupQueries.liveGrams(spark, idx)) == grams1,
      "replay appended grams despite the fence")
    assert(snap(BatchCommits.readComponent(spark, out)) == wantOut)
    graft.CacheScope.flush(spark)
  }

  test("curationIngestBatch: full replay is a no-op on all three " +
      "artifacts; a crash between the two advances completes, not " +
      "duplicates") {
    val w = DedupQueries.DupW
    val split = 25L
    val base = docs.filter(col("doc_id") < split)
    val b1 = docs.filter(col("doc_id") >= split).localCheckpoint(true)
    def fresh(tag: String): (String, String, String) = {
      val ng = tmp("graft_rf_cu_ng" + tag)
      val dd = tmp("graft_rf_cu_dd" + tag)
      DedupQueries.buildNgramIndex(base, w, ng)
      DedupQueries.buildDedupIndex(base, dd)
      (ng, dd, tmp("graft_rf_cu_out" + tag))
    }
    val (ngR, ddR, outR) = fresh("ref")
    Streams.curationIngestBatch(b1, 0L, ngR, ddR, w, outR, 0)
    val wantGrams = snap(DedupQueries.liveGrams(spark, ngR))
    val wantSig = snap(DedupQueries.indexSignatures(spark, ddR))
    val wantOut = snap(BatchCommits.readComponent(spark, outR))

    val (ngA, ddA, outA) = fresh("a")
    Streams.curationIngestBatch(b1, 0L, ngA, ddA, w, outA, 0)
    Streams.curationIngestBatch(b1, 0L, ngA, ddA, w, outA, 0)
    assert(snap(DedupQueries.liveGrams(spark, ngA)) == wantGrams)
    assert(snap(DedupQueries.indexSignatures(spark, ddA)) == wantSig)
    assert(snap(BatchCommits.readComponent(spark, outA)) == wantOut)

    // crash between the n-gram advance and the dedup advance: model it
    // by deleting the dedup components' batch commits after a full run
    val (ngB, ddB, outB) = fresh("b")
    Streams.curationIngestBatch(b1, 0L, ngB, ddB, w, outB, 0)
    for (c <- Seq("/signatures/batch-0", "/bands/batch-0")) {
      val p = java.nio.file.Paths.get(
        graft.sources.ArtifactVersions.live(ddB) + c)
      Option(p.toFile.listFiles).getOrElse(Array.empty)
        .foreach(f => java.nio.file.Files.delete(f.toPath))
      java.nio.file.Files.delete(p)
    }
    // the manual deletion bypasses the advance path's refreshByPath —
    // drop any cached listing before re-reading
    spark.catalog.refreshByPath(ddB)
    Streams.curationIngestBatch(b1, 0L, ngB, ddB, w, outB, 0) // replay
    assert(snap(DedupQueries.liveGrams(spark, ngB)) == wantGrams,
      "replay double-advanced the n-gram index")
    assert(snap(DedupQueries.indexSignatures(spark, ddB)) == wantSig,
      "replay did not complete the missing dedup advance exactly once")
    assert(snap(BatchCommits.readComponent(spark, outB)) == wantOut)
    graft.CacheScope.flush(spark)
  }

  test("a fenced advance replayed AFTER a compaction flip is still a " +
      "no-op: the carried markers fence across versions") {
    val split = 25L
    val base = docs.filter(col("doc_id") < split)
    val b1 = docs.filter(col("doc_id") >= split).localCheckpoint(true)
    val idx = tmp("graft_rf_flip")
    DedupQueries.buildDedupIndex(base, idx)
    DedupQueries.advanceDedupIndex(b1, idx, Some(0L))
    DedupQueries.compactDedupIndex(spark, idx)
    val wantSig = snap(DedupQueries.indexSignatures(spark, idx))
    val wantBand = snap(DedupQueries.indexBands(spark, idx))
    // the crash window: advance committed into the OLD version, the
    // compaction flipped, the stream checkpoint was never written —
    // the replay targets the NEW live version and must hit the fence
    DedupQueries.advanceDedupIndex(b1, idx, Some(0L))
    assert(snap(DedupQueries.indexSignatures(spark, idx)) == wantSig,
      "replay advanced the compacted index despite the carried marker")
    assert(snap(DedupQueries.indexBands(spark, idx)) == wantBand)
    // a genuinely NEW batch still lands
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") < 5).select("doc_id", "text"), idx, Some(1L))
    assert(DedupQueries.indexSignatures(spark, idx).count()
      == wantSig._1 + 5)
    graft.CacheScope.flush(spark)
  }

  test("a fenced IVF advance replayed AFTER a compaction flip is still " +
      "a no-op; the prune after the second flip retires the built version") {
    import graft.similarity.SimilarityQueries
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val split = SimilarityQueries.AnnAdvanceSplit
    val idx = tmp("graft_rf_ivf_flip")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), idx)
    val built = graft.sources.ArtifactVersions.live(idx)
    val arr = f.filter(col("vec_id") >= split).localCheckpoint(true)
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(0L))
    SimilarityQueries.compactIvfIndex(spark, idx)
    val want = snap(SimilarityQueries.indexAssignments(spark, idx))
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(0L)) // the replay
    assert(snap(SimilarityQueries.indexAssignments(spark, idx)) == want,
      "replay advanced the compacted IVF index despite the carried marker")
    // the built version survives the FIRST flip as the grace copy...
    assert(new java.io.File(built, "assignments").isDirectory)
    SimilarityQueries.compactIvfIndex(spark, idx)
    graft.sources.ArtifactVersions.pruneVersions(idx)
    // ...and the prune after the SECOND flip retires it (grace window
    // over); the served frame is unchanged
    assert(!new java.io.File(built, "assignments").exists)
    assert(!new java.io.File(built, "centroids").exists)
    assert(snap(SimilarityQueries.indexAssignments(spark, idx)) == want)
    graft.CacheScope.flush(spark)
  }

  test("carryMarkers keeps only the newest MarkerKeep ids; sweepStaging " +
      "retires stranded attempt dirs") {
    val oldDir = tmp("graft_rf_mk") + "/c"; val newDir = tmp("graft_rf_mk2")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oldDir))
    val n = BatchCommits.MarkerKeep + 9
    (0 until n).foreach(i => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(oldDir, s"batch-$i")))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(oldDir, ".staging-3-cafe"))
    val carried = BatchCommits.carryMarkers(oldDir, newDir)
    assert(carried == (9L until n.toLong),
      s"wanted the ${BatchCommits.MarkerKeep} newest, got $carried")
    val landed = Option(new java.io.File(newDir).listFiles).get
      .map(_.getName).toSet
    assert(landed == (9 until n).map(i => s"batch-$i").toSet)
    // markers are EMPTY (fence-only) — readers see no rows in them
    assert(new java.io.File(newDir, "batch-9").listFiles.isEmpty)
    BatchCommits.sweepStaging(oldDir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(oldDir, ".staging-3-cafe")))
  }

  test("appendBatch rejects an id deeper than MarkerKeep below the " +
      "newest committed id — an out-of-contract replay surfaces " +
      "loudly instead of double-appending") {
    import spark.implicits._
    val dir = tmp("graft_rf_deep") + "/component"
    assert(BatchCommits.appendBatch(Seq(1L).toDF("x"), dir, 0L))
    assert(BatchCommits.appendBatch(Seq(2L).toDF("x"), dir, 20L))
    // inside the fence window: allowed. With dense ids 0..mx a
    // compaction keeps the MarkerKeep NEWEST markers — the window
    // (mx - MarkerKeep, mx] — so mx - MarkerKeep + 1 is the oldest id
    // whose marker is guaranteed to survive
    assert(BatchCommits.appendBatch(Seq(3L).toDF("x"), dir,
      20L - BatchCommits.MarkerKeep + 1))
    // AT the boundary: in the dense case this id's marker is exactly
    // the first one a compaction drops — must throw, not silently
    // append (regression: the old `<` guard admitted it)
    val eb = intercept[IllegalStateException] {
      BatchCommits.appendBatch(Seq(9L).toDF("x"), dir,
        20L - BatchCommits.MarkerKeep)
    }
    assert(eb.getMessage.contains("MarkerKeep"))
    // deeper than the window: a compaction may have dropped the
    // fence — must throw, not silently append
    val e = intercept[IllegalStateException] {
      BatchCommits.appendBatch(Seq(4L).toDF("x"), dir, 1L)
    }
    assert(e.getMessage.contains("MarkerKeep"))
    // ...and nothing landed for the rejected id
    assert(!BatchCommits.isCommitted(dir, 1L))
  }

  test("identity compaction: a single-write component is copied " +
      "verbatim (in-write duplicate rows preserved, marker carried); " +
      "a multi-write component still collapses replayed rows") {
    import spark.implicits._
    import graft.sources.ArtifactVersions
    // single write WITH legitimate duplicate rows: the fast path must
    // not distinct them away
    val root1 = tmp("graft_rf_idc1")
    val c1 = s"$root1/grams"
    assert(BatchCommits.appendBatch(Seq(7L, 7L, 8L).toDF("x"), c1, 0L))
    ArtifactVersions.compact(spark, root1, Seq("grams"))
    val v1 = ArtifactVersions.live(root1)
    assert(ArtifactVersions.read(spark, root1, "grams")
      .as[Long].collect().sorted.toSeq == Seq(7L, 7L, 8L),
      "identity compaction altered a single write's rows")
    assert(new java.io.File(s"$v1/grams", "batch-0").isDirectory,
      "fence marker not carried by the fast path")
    // the copy PRESERVES the batch-dir provenance (a flat copy would
    // make the NEXT flip's detector fall back to the distinct rewrite
    // and merge the in-write duplicates)...
    assert(Option(new java.io.File(s"$v1/grams/batch-0").listFiles).get
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "fast path must copy into the committed batch dir, not flat")
    // ...so a SECOND flip with no new writes is identity again and the
    // duplicate rows survive it too
    ArtifactVersions.compact(spark, root1, Seq("grams"))
    val v1b = ArtifactVersions.live(root1)
    assert(v1b != v1)
    assert(ArtifactVersions.read(spark, root1, "grams")
      .as[Long].collect().sorted.toSeq == Seq(7L, 7L, 8L),
      "second identity flip merged the single write's duplicate rows")
    // two writes with a byte-identical replayed payload (the unfenced
    // lifecycle flow compaction exists for): the rewrite path dedups
    val root2 = tmp("graft_rf_idc2")
    val c2 = s"$root2/grams"
    assert(BatchCommits.appendBatch(Seq(1L, 2L).toDF("x"), c2, 0L))
    assert(BatchCommits.appendBatch(Seq(1L, 2L).toDF("x"), c2, 1L))
    ArtifactVersions.compact(spark, root2, Seq("grams"))
    assert(ArtifactVersions.read(spark, root2, "grams")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "multi-write compaction no longer collapses replayed rows")
  }

  test("IVF and CMS advances: same-id replay is a no-op") {
    import graft.similarity.SimilarityQueries
    import graft.text.TextQueries
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val split = SimilarityQueries.AnnAdvanceSplit
    val idx = tmp("graft_rf_ivf")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), idx)
    val arr = f.filter(col("vec_id") >= split).localCheckpoint(true)
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(3L))
    val want = snap(SimilarityQueries.indexAssignments(spark, idx))
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(3L))
    assert(snap(SimilarityQueries.indexAssignments(spark, idx)) == want)

    val d = docs
    val path = tmp("graft_rf_cms") + "/profile.cms"
    TextQueries.buildTokenSketch(d.filter(col("doc_id") < 25), path)
    val batch = d.filter(col("doc_id") >= 25).localCheckpoint(true)
    TextQueries.advanceTokenSketch(batch, path, Some(5L))
    val once = TextQueries.readTokenSketch(path)
    TextQueries.advanceTokenSketch(batch, path, Some(5L)) // replay
    val twice = TextQueries.readTokenSketch(path)
    assert(twice.totalCount() == once.totalCount(),
      "replayed CMS merge double-counted")
    graft.CacheScope.flush(spark)
  }

  test("compactIfFragmented: below threshold is a no-op (version " +
      "unchanged); at threshold it compacts, serves identically, and " +
      "fragmentation collapses") {
    import graft.sources.ArtifactVersions
    val w = DedupQueries.DupW
    val split = 25L
    val idx = tmp("graft_rf_frag")
    DedupQueries.buildNgramIndex(docs.filter(col("doc_id") < split), w, idx)
    // three fenced advances -> three committed batch dirs
    for ((lo, hi, bid) <- Seq((25L, 30L, 0L), (30L, 35L, 1L),
        (35L, 40L, 2L))) {
      DedupQueries.advanceNgramIndex(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .localCheckpoint(true), w, idx, Some(bid))
    }
    val fragBefore = ArtifactVersions.fragmentation(idx)
    assert(fragBefore >= 3, s"expected >=3 batch dirs, got $fragBefore")
    val want = snap(DedupQueries.liveGrams(spark, idx))
    val verBefore = ArtifactVersions.live(idx)
    // below threshold: nothing happens
    assert(!ArtifactVersions.compactIfFragmented(spark, idx,
      fragBefore + 1)(DedupQueries.compactNgramIndex))
    assert(ArtifactVersions.live(idx) == verBefore,
      "no-op trigger must not publish a version")
    // at threshold: compacts, fragmentation collapses (markers are
    // excluded from the metric — else any threshold <= MarkerKeep
    // would re-trigger forever), served grams identical
    assert(ArtifactVersions.compactIfFragmented(spark, idx,
      fragBefore)(DedupQueries.compactNgramIndex))
    val verAfter = ArtifactVersions.live(idx)
    assert(verAfter != verBefore)
    assert(snap(DedupQueries.liveGrams(spark, idx)) == want,
      "compaction changed the served grams")
    assert(ArtifactVersions.fragmentation(idx) <= 1,
      "fragmentation did not collapse")
    // the trigger CONVERGES: an immediate re-run at the same
    // threshold finds nothing to do and publishes nothing
    assert(!ArtifactVersions.compactIfFragmented(spark, idx,
      fragBefore)(DedupQueries.compactNgramIndex))
    assert(ArtifactVersions.live(idx) == verAfter,
      "converged trigger must not publish another version")
    graft.CacheScope.flush(spark)
  }
}
