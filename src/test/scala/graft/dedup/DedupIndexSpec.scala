package graft.dedup

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted dedup-index artifact: (1) the artifact-read ingest
  * path (q117) agrees frame-for-frame with the recompute path (q110);
  * (2) the star-contracted intra-batch policy's recall contract stays
  * EXPLICIT — a crafted twin pair that shares no band bucket whose
  * minimum is one of the twins is MISSED by design (the linearity
  * trade q50/q110 document), while exhaustive per-bucket pairing
  * would catch it.
  */
class DedupIndexSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("q117 (artifact-read) equals q110 (recompute) row for row") {
    val a = graft.QueryRegistry.queries("q110_incremental_ingest")(spark, sf)
      .collect().toSeq
    graft.CacheScope.flush(spark)
    val b = graft.QueryRegistry.queries("q117_indexed_ingest")(spark, sf)
      .collect().toSeq
    graft.CacheScope.flush(spark)
    assert(a.nonEmpty && a == b)
  }

  test("index round-trip: signatures and bands survive parquet exactly") {
    val docs = graft.Tables.documents(spark, sf).limit(50)
    val idx = graft.TempArtifacts.dir("graft_idx_spec")
    DedupQueries.buildDedupIndex(docs, idx)
    val direct = DedupQueries.signaturesOf(docs, 1)
    val readBack = DedupQueries.indexSignatures(spark, idx)
    assert(readBack.schema.fieldNames.sameElements(direct.schema.fieldNames))
    assert(direct.exceptAll(readBack).isEmpty && readBack.exceptAll(direct).isEmpty)
    val bandsBack = DedupQueries.bandsOf(readBack)
    val bandsDirect = DedupQueries.bandsOf(direct)
    assert(bandsDirect.exceptAll(bandsBack).isEmpty
      && bandsBack.exceptAll(bandsDirect).isEmpty)
    graft.CacheScope.flush(spark)
  }

  test("pair graph served from the artifact equals the recompute path " +
      "(the q112/q149 serve discipline)") {
    val docs = graft.Tables.documents(spark, sf)
    val idx = graft.TempArtifacts.dir("graft_idx_pairs")
    DedupQueries.buildDedupIndex(docs, idx)
    val served = DedupQueries.pairsFromIndexUnsorted(spark, idx)
      .collect().toSet
    val recomputed = DedupQueries.minhashPairsOf(docs).collect().toSet
    assert(served.nonEmpty && served == recomputed)
    graft.CacheScope.flush(spark)
    // same layout, shingle signatures (the q51/q95 serve route)
    val sIdx = graft.TempArtifacts.dir("graft_idx_shingle")
    DedupQueries.buildDedupIndexFrom(
      DedupQueries.signaturesOf(docs, DedupQueries.ShingleW), sIdx)
    graft.CacheScope.flush(spark)
    val servedS = DedupQueries.pairsFromIndexUnsorted(spark, sIdx)
      .collect().toSet
    val recomputedS = DedupQueries.pairsFromSignaturesUnsorted(
      DedupQueries.signaturesOf(docs, DedupQueries.ShingleW))
      .collect().toSet
    assert(servedS == recomputedS && servedS.nonEmpty)
    graft.CacheScope.flush(spark)
  }

  test("star clusters served from the artifact equal the recompute path " +
      "(the q50/q99 serve discipline)") {
    val docs = graft.Tables.documents(spark, sf)
    val idx = graft.TempArtifacts.dir("graft_idx_star")
    DedupQueries.buildDedupIndex(docs, idx)
    val served = DedupQueries.dedupClustersStarFromIndex(docs, idx)
      .collect().toSet
    graft.CacheScope.flush(spark)
    val recomputed = DedupQueries.dedupClustersStarOf(docs).collect().toSet
    assert(served.nonEmpty && served == recomputed)
    graft.CacheScope.flush(spark)
  }

  test("advance: artifact-after-advance equals rebuild-from-advanced-corpus") {
    val docs = graft.Tables.documents(spark, sf)
    val idx = graft.TempArtifacts.dir("graft_idx_adv")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), idx)
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 40)
        .select("doc_id", "text"), idx)
    val rebuilt =
      graft.TempArtifacts.dir("graft_idx_rebuild")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 40), rebuilt)
    val sa = DedupQueries.indexSignatures(spark, idx)
    val sb = DedupQueries.indexSignatures(spark, rebuilt)
    assert(sa.count() == 40)
    assert(sa.exceptAll(sb).isEmpty && sb.exceptAll(sa).isEmpty)
    val ba = DedupQueries.bandsOf(sa)
    val bb = DedupQueries.bandsOf(sb)
    assert(ba.exceptAll(bb).isEmpty && bb.exceptAll(ba).isEmpty)
    graft.CacheScope.flush(spark)
  }

  test("compactDedupIndex: serve results identical across the flip, " +
      "duplicate rows from unfenced modelled replays collapse, and a " +
      "post-flip advance lands in the live version") {
    val docs = graft.Tables.documents(spark, sf)
    val idx = graft.TempArtifacts.dir("graft_idx_cmp")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), idx)
    val adv = docs.filter(col("doc_id") >= 25 && col("doc_id") < 40)
      .select("doc_id", "text").localCheckpoint(true)
    // two UNfenced advances of the same rows — the modelled at-least-
    // once replay whose byte-identical duplicates compaction collapses
    DedupQueries.advanceDedupIndex(adv, idx)
    DedupQueries.advanceDedupIndex(adv, idx)
    assert(DedupQueries.indexSignatures(spark, idx).count() == 55)
    val wantSig = DedupQueries.indexSignatures(spark, idx)
      .dropDuplicates("doc_id").collect().toSet
    val wantBands = DedupQueries.bandsOf(
        DedupQueries.indexSignatures(spark, idx))
      .dropDuplicates("doc_id", "band").collect().toSet
    val wantPairs = DedupQueries.pairsFromIndexUnsorted(spark, idx)
      .collect().toSet
    graft.CacheScope.flush(spark)
    graft.sources.ArtifactVersions.compact(spark, idx)
    // exactly the distinct set survives; the serve graph is unchanged
    assert(DedupQueries.indexSignatures(spark, idx).count() == 40)
    assert(DedupQueries.indexSignatures(spark, idx).collect().toSet
      == wantSig)
    assert(DedupQueries.bandsOf(DedupQueries.indexSignatures(spark, idx))
      .collect().toSet == wantBands)
    assert(DedupQueries.pairsFromIndexUnsorted(spark, idx).collect().toSet
      == wantPairs)
    // a live version dir resolves, and a post-flip advance must land
    // INSIDE it
    val live = graft.sources.ArtifactVersions.live(idx)
    assert(live != idx)
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 45)
        .select("doc_id", "text"), idx)
    assert(DedupQueries.indexSignatures(spark, idx).count() == 45)
    assert(new java.io.File(live + "/signatures").exists)
    graft.CacheScope.flush(spark)
  }

  test("advance visibility: a batch-2 twin of an ADMITTED batch-1 doc " +
      "drops — post-advance artifact reads must see the appended rows " +
      "even though phase 1 cached the same path") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (10L, "one two three four five six seven"),
      (20L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    // doc 20 near-dups ONLY doc 10 (admitted in batch 1, absent from
    // the built corpus): it can drop if and only if phase 2 reads the
    // ADVANCED artifact — a stale cached read keeps it
    val out = DedupQueries.advanceIngestFlow(spark, docs, 10L, 20L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((0L, "existing"), (10L, "added")),
      s"got $out — doc 20 surviving means phase 2 served a stale cache")
    graft.CacheScope.flush(spark)
  }

  test("star-contracted intra-batch verification misses a twin pair " +
      "sharing only a bucket led by a non-twin (the documented trade)") {
    import spark.implicits._
    // NumHashes=16, BandRows=4 -> bands are h0-3 / h4-7 / h8-11 / h12-15.
    // A(0), B(1), C(2): all three share band 0 (min = A); B and C agree
    // on 9/16 hashes (>= the 8 verify bar) but on no other COMPLETE
    // band, so their only shared bucket is band 0 — whose minimum is A.
    def sig(id: Long, hs: Seq[Long]) = (id +: hs) match {
      case Seq(i, h @ _*) => (i, h(0), h(1), h(2), h(3), h(4), h(5), h(6),
        h(7), h(8), h(9), h(10), h(11), h(12), h(13), h(14), h(15))
    }
    val shared = Seq(1L, 2L, 3L, 4L)
    val a = sig(0L, shared ++ (100L to 111L))
    // B: h4..h15 = 200..211; C matches B at h4,h5,h6 (3 of band 1) and
    // h8,h9 (2 of band 2), differs everywhere else — 9/16 total, but
    // bands 1/2/3 (whole-band buckets) all differ
    val b = sig(1L, shared ++ (200L to 211L))
    val c = sig(2L, shared ++ Seq(200L, 201L, 202L, 777L,
      204L, 205L, 888L, 889L, 900L, 901L, 902L, 903L))
    val cols = "doc_id" +: (0 until 16).map(i => s"h$i")
    val sigs = Seq(a, b, c).toDF(cols: _*)
    // sanity: the pair agreement really is 4 (band0) + 3 + 2 = 9 >= 8
    val agree = (0 until 16).map(i =>
      when(col(s"x.h$i") === col(s"y.h$i"), 1).otherwise(0)).reduce(_ + _)
    val bc = sigs.as("x").filter(col("x.doc_id") === 1)
      .crossJoin(sigs.as("y").filter(col("y.doc_id") === 2))
      .select(agree.as("n")).head().getInt(0)
    assert(bc == 9, s"crafted B/C agreement was $bc, wanted 9")
    val bands = DedupQueries.bandsOf(sigs)
    val emptySigs = sigs.limit(0)
    // star policy: candidates only vs band-bucket minima -> B,C each
    // verify against A (agree 4 < 8) -> NO dup found
    val starDups = DedupQueries
      .ingestDupArrivals(sigs, bands, emptySigs)
      .as[Long].collect().toSet
    assert(starDups.isEmpty,
      s"star policy unexpectedly caught the twin pair: $starDups")
    // exhaustive per-bucket pairing WOULD catch it: C drops against B
    val allPairs = bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("s"), col("r.doc_id").as("t")).distinct()
    val exhaustive = allPairs
      .join(sigs.as("a"), col("s") === col("a.doc_id"))
      .join(sigs.as("b"), col("t") === col("b.doc_id"))
      .filter((0 until 16).map(i =>
        when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0))
        .reduce(_ + _) >= 8)
      .select(col("t")).as[Long].collect().toSet
    assert(exhaustive == Set(2L),
      s"exhaustive pairing should drop exactly C, got $exhaustive")
    graft.CacheScope.flush(spark)
  }

  test("served indexes follow the input's content: rewriting the " +
      "documents under the same dir serves a fresh index") {
    import java.nio.file.{Files, Paths}
    val d = graft.TempArtifacts.dir("graft_served_sf")
    Option(new java.io.File(sf).listFiles).get.foreach(f =>
      Files.copy(f.toPath, Paths.get(d, f.getName)): Unit)
    val q51 = graft.QueryRegistry.queries("q51_shingle_minhash_pairs")
    val full = q51(spark, d).collect().toSeq
    graft.CacheScope.flush(spark)
    // rewrite documents.parquet in place with the even doc ids only
    val staged = graft.TempArtifacts.dir("graft_served_docs")
    graft.Tables.documents(spark, d).filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(staged)
    Files.delete(Paths.get(d, "documents.parquet"))
    Files.move(Paths.get(staged), Paths.get(d, "documents.parquet"))
    val rewritten = q51(spark, d).collect().toSeq
    graft.CacheScope.flush(spark)
    val idx = graft.TempArtifacts.dir("graft_served_fresh")
    DedupQueries.buildDedupIndexFrom(DedupQueries.signaturesOf(
      graft.Tables.documents(spark, d), DedupQueries.ShingleW), idx)
    val want = DedupQueries.pairsFromIndexUnsorted(spark, idx)
      .orderBy("doc_a", "doc_b").collect().toSeq
    graft.CacheScope.flush(spark)
    assert(full != want, "the rewrite must change the pair set")
    assert(rewritten == want, "q51 served the stale index")
  }

  test("serve reads start no Spark job: readComponent resolves the " +
      "schema inference would from one footer") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.graftbridge.ListenerBus
    import graft.multimodal.{CodecQueries, PhashIndex}
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    // dedup signatures: flat build files, a fenced batch dir and an
    // unfenced append
    val dd = graft.TempArtifacts.dir("graft_idx_read_dd")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), dd)
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 40), dd, Some(0L))
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), dd)
    val ng = graft.TempArtifacts.dir("graft_idx_read_ng")
    DedupQueries.buildNgramIndex(docs.filter(col("doc_id") < 25),
      DedupQueries.DupW, ng)
    val ph = graft.TempArtifacts.dir("graft_idx_read_ph")
    PhashIndex.buildPhashIndex(CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 0 && col("doc_id") < 100), ph)
    for ((root, component) <- Seq(dd -> "signatures", ng -> "grams",
        ph -> "hashes")) {
      val dir = s"${graft.sources.ArtifactVersions.live(root)}/$component"
      var served: DataFrame = null
      val jobs = ListenerBus.jobsDuring(spark.sparkContext) {
        served = graft.sources.ArtifactVersions.read(spark, root, component)
      }
      assert(jobs == 0, s"reading $component started $jobs job(s)")
      val inferred = spark.read.option("recursiveFileLookup", "true")
        .parquet(dir)
      assert(served.schema == inferred.schema, component)
      assert(served.collect().toSet == inferred.collect().toSet, component)
    }
    graft.CacheScope.flush(spark)
  }
}
