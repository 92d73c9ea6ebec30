package graft.streaming

import graft.SharedSpark
import graft.dedup.DedupQueries
import graft.sources.ArtifactVersions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once batch fence: a foreachBatch micro-batch replayed
  * after any crash point leaves every artifact byte-identical to the
  * no-crash run. Each test drives the sinks' extracted per-batch
  * bodies directly (the only way to force a same-id replay
  * deterministically) and asserts artifact equality. The fence itself
  * is BatchCommitsSpec's subject.
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

  /** A sink's decision log. */
  private def log(outDir: String): DataFrame =
    ArtifactVersions.read(spark, outDir, Streams.Log)

  /** The dedup index's band table, derived from its signatures. */
  private def bandsOf(idx: String): DataFrame =
    DedupQueries.bandsOf(DedupQueries.indexSignatures(spark, idx))

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
    val wantBand = snap(bandsOf(idxRef))
    val wantOut = snap(log(outRef))

    // full replay: the whole batch body runs twice with the same id
    val idxA = tmp("graft_rf_nd_a"); val outA = tmp("graft_rf_nd_aout")
    DedupQueries.buildDedupIndex(base, idxA)
    Streams.nearDupIngestBatch(b1, 0L, idxA, outA)
    Streams.nearDupIngestBatch(b1, 0L, idxA, outA)
    assert(snap(DedupQueries.indexSignatures(spark, idxA)) == wantSig)
    assert(snap(bandsOf(idxA)) == wantBand)
    assert(snap(log(outA)) == wantOut)

    // crash window: decisions committed, advance never ran — the
    // replay must complete the advance from the COMMITTED decisions
    val idxB = tmp("graft_rf_nd_b"); val outB = tmp("graft_rf_nd_bout")
    DedupQueries.buildDedupIndex(base, idxB)
    ArtifactVersions.advance(outB, Streams.Log, Some(0L))(
      DedupQueries.ingestBatchDecisions(b1, idxB)
        .withColumn("batch_id", lit(0L)))
    Streams.nearDupIngestBatch(b1, 0L, idxB, outB)
    assert(snap(DedupQueries.indexSignatures(spark, idxB)) == wantSig)
    assert(snap(bandsOf(idxB)) == wantBand)
    assert(snap(log(outB)) == wantOut)
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
    val wantOut = snap(log(outRef))

    val idx = tmp("graft_rf_ss"); val out = tmp("graft_rf_ss_out")
    DedupQueries.buildNgramIndex(base, w, idx)
    Streams.spanScrubBatch(b1, 0L, idx, w, out, 0)
    val grams1 = snap(DedupQueries.liveGrams(spark, idx))
    Streams.spanScrubBatch(b1, 0L, idx, w, out, 0) // the replay
    assert(snap(DedupQueries.liveGrams(spark, idx)) == grams1,
      "replay appended grams despite the fence")
    assert(snap(log(out)) == wantOut)
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
    val wantOut = snap(log(outR))

    val (ngA, ddA, outA) = fresh("a")
    Streams.curationIngestBatch(b1, 0L, ngA, ddA, w, outA, 0)
    Streams.curationIngestBatch(b1, 0L, ngA, ddA, w, outA, 0)
    assert(snap(DedupQueries.liveGrams(spark, ngA)) == wantGrams)
    assert(snap(DedupQueries.indexSignatures(spark, ddA)) == wantSig)
    assert(snap(log(outA)) == wantOut)

    // crash between the n-gram advance and the dedup advance: model it
    // by deleting the dedup index's batch commit after a full run
    val (ngB, ddB, outB) = fresh("b")
    Streams.curationIngestBatch(b1, 0L, ngB, ddB, w, outB, 0)
    val p = java.nio.file.Paths.get(
      ArtifactVersions.live(ddB) + "/signatures/batch-0")
    Option(p.toFile.listFiles).getOrElse(Array.empty)
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    java.nio.file.Files.delete(p)
    // the manual deletion bypasses the advance path's refreshByPath —
    // drop any cached listing before re-reading
    spark.catalog.refreshByPath(ddB)
    Streams.curationIngestBatch(b1, 0L, ngB, ddB, w, outB, 0) // replay
    assert(snap(DedupQueries.liveGrams(spark, ngB)) == wantGrams,
      "replay double-advanced the n-gram index")
    assert(snap(DedupQueries.indexSignatures(spark, ddB)) == wantSig,
      "replay did not complete the missing dedup advance exactly once")
    assert(snap(log(outB)) == wantOut)
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
    ArtifactVersions.compact(spark, idx)
    val wantSig = snap(DedupQueries.indexSignatures(spark, idx))
    val wantBand = snap(bandsOf(idx))
    // the crash window: advance committed into the OLD version, the
    // compaction flipped, the stream checkpoint was never written —
    // the replay targets the NEW live version and must hit the fence
    DedupQueries.advanceDedupIndex(b1, idx, Some(0L))
    assert(snap(DedupQueries.indexSignatures(spark, idx)) == wantSig,
      "replay advanced the compacted index despite the carried marker")
    assert(snap(bandsOf(idx)) == wantBand)
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
    val built = ArtifactVersions.live(idx)
    val arr = f.filter(col("vec_id") >= split).localCheckpoint(true)
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(0L))
    ArtifactVersions.compact(spark, idx)
    val want = snap(SimilarityQueries.indexAssignments(spark, idx))
    SimilarityQueries.advanceIvfIndex(arr, idx, Some(0L)) // the replay
    assert(snap(SimilarityQueries.indexAssignments(spark, idx)) == want,
      "replay advanced the compacted IVF index despite the carried marker")
    // the built version survives the FIRST flip as the grace copy...
    assert(new java.io.File(built, "assignments").isDirectory)
    ArtifactVersions.compact(spark, idx)
    ArtifactVersions.pruneVersions(idx)
    // ...and the prune after the SECOND flip retires it (grace window
    // over); the served frame is unchanged
    assert(!new java.io.File(built, "assignments").exists)
    assert(!new java.io.File(built, "centroids").exists)
    assert(snap(SimilarityQueries.indexAssignments(spark, idx)) == want)
    graft.CacheScope.flush(spark)
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
      fragBefore + 1))
    assert(ArtifactVersions.live(idx) == verBefore,
      "no-op trigger must not publish a version")
    // at threshold: compacts, fragmentation collapses (markers are
    // excluded from the metric — else any threshold <= MarkerKeep
    // would re-trigger forever), served grams identical
    assert(ArtifactVersions.compactIfFragmented(spark, idx,
      fragBefore))
    val verAfter = ArtifactVersions.live(idx)
    assert(verAfter != verBefore)
    assert(snap(DedupQueries.liveGrams(spark, idx)) == want,
      "compaction changed the served grams")
    assert(ArtifactVersions.fragmentation(idx) <= 1,
      "fragmentation did not collapse")
    // the trigger CONVERGES: an immediate re-run at the same
    // threshold finds nothing to do and publishes nothing
    assert(!ArtifactVersions.compactIfFragmented(spark, idx,
      fragBefore))
    assert(ArtifactVersions.live(idx) == verAfter,
      "converged trigger must not publish another version")
    graft.CacheScope.flush(spark)
  }
}
