package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one lifetime rule for cached intermediates: a retain lives until
  * the innermost `CacheScope.scoped` block open on its thread exits,
  * else until the session's next flush; per-call artifact roots follow
  * the same rule.
  */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  private def frame(tag: Int): DataFrame =
    spark.range(100).select((col("id") * tag).as("v")).filter(col("v") >= 0)

  test("a scoped block unpersists its retains at exit and leaves the " +
      "flush list untouched, nested scopes included") {
    val outside = CacheScope.retain(frame(2))
    val (outer, inner) = CacheScope.scoped {
      val outer = CacheScope.retain(frame(3))
      val inner = CacheScope.scoped(CacheScope.retain(frame(5)))
      assert(!cached(inner), "the inner scope's retain outlived it")
      assert(cached(outer) && cached(outside))
      (outer, inner)
    }
    assert(!cached(outer), "the outer scope's retain outlived it")
    assert(cached(outside), "a scope exit released a flush-list retain")
    // re-cache the scoped frames by hand: a flush that still knew them
    // would release them again
    outer.persist(); inner.persist()
    try {
      CacheScope.flush(spark)
      assert(!cached(outside))
      assert(cached(outer) && cached(inner),
        "a scoped retain was also registered for the flush")
    } finally { outer.unpersist(); inner.unpersist() }
  }

  test("a retain made on another thread inside a scope goes to the " +
      "session's flush") {
    val other = CacheScope.scoped {
      val f = scala.concurrent.Future(CacheScope.retain(frame(7)))(
        scala.concurrent.ExecutionContext.global)
      scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(60, "s"))
    }
    assert(cached(other), "the calling thread's scope released it")
    CacheScope.flush(spark)
    assert(!cached(other))
  }

  test("every Streams batch body leaves no cached frame behind") {
    import graft.dedup.DedupQueries
    import graft.multimodal.{CodecQueries, PhashIndex}
    import graft.similarity.SimilarityQueries
    import graft.streaming.Streams
    import graft.text.TextQueries
    def tmp(p: String) = TempArtifacts.dir(p)
    val w = DedupQueries.DupW
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 200)
    val arrivals = docs.filter(col("doc_id") >= 200)
    val (ng, dd) = (tmp("graft_cs_ng"), tmp("graft_cs_dd"))
    DedupQueries.buildNgramIndex(corpus, w, ng)
    DedupQueries.buildDedupIndex(corpus, dd)
    val ph = tmp("graft_cs_ph")
    PhashIndex.buildPhashIndex(CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 0 && col("doc_id") < 100), ph)
    val icur = tmp("graft_cs_icur")
    PhashIndex.buildPhashIndex(CodecQueries.gatedImageHashes(
        CodecQueries.twinImageTable(spark, sf, col("doc_id") % 6 === 0
          && col("doc_id") < 100)).toDF()
      .filter(col("keep"))
      .select(col("media_id").as("doc_id"), col("hash")), icur)
    val leakIdx = SimilarityQueries.semanticLeakTrainIndex(spark, sf)
    val valVecs = Tables.embeddings(spark, sf)
      .join(SimilarityQueries.vecSplitOf(spark, sf)
        .filter(col("split") === "val").select("vec_id"),
        Seq("vec_id"), "left_semi")
      .select("vec_id", "label", "embedding")
    CacheScope.flush(spark, blocking = true)
    // cached blocks (locally checkpointed results are lineage cuts, not
    // cached frames) and cache entries: an artifact append re-registers
    // a cached plan over its path as a lazy entry holding no blocks
    def held: (Set[Int], Int) = (spark.sparkContext.getPersistentRDDs
      .collect { case (id, r) if !r.isCheckpointed => id }.toSet,
      org.apache.spark.sql.graftbridge.CachedEntries.count(spark))
    val before = held
    val bodies = Seq[(String, () => Unit)](
      "nearDupIngestBatch" -> (() => Streams.nearDupIngestBatch(
        arrivals, 0L, dd, tmp("graft_cs_out"))),
      "spanScrubBatch" -> (() => Streams.spanScrubBatch(
        arrivals, 0L, ng, w, tmp("graft_cs_out"), 0)),
      "curationIngestBatch" -> (() => Streams.curationIngestBatch(
        arrivals, 1L, ng, dd, w, tmp("graft_cs_out"), 0)),
      "mediaIngestBatch" -> (() => Streams.mediaIngestBatch(
        CodecQueries.corruptedMediaTable(spark, sf), 0L,
        tmp("graft_cs_out"), 0)),
      "mediaCurationBatch" -> (() => Streams.mediaCurationBatch(
        CodecQueries.curatedMediaTable(spark, sf), 0L,
        tmp("graft_cs_out"), 0)),
      "phashIngestBatch" -> (() => Streams.phashIngestBatch(
        CodecQueries.phashHashesOf(spark, sf, col("doc_id") % 6 === 3),
        0L, ph, tmp("graft_cs_out"), 0)),
      "imageCurationBatch" -> (() => Streams.imageCurationBatch(
        CodecQueries.twinImageTable(spark, sf, col("doc_id") % 6 === 3),
        0L, icur, tmp("graft_cs_out"), 0)),
      "semanticLeakAuditBatch" -> (() => Streams.semanticLeakAuditBatch(
        valVecs, 0L, sf, leakIdx, tmp("graft_cs_out"))),
      "urlFrontierBatch" -> (() => Streams.urlFrontierBatch(
        docs.select(col("doc_id"), TextQueries.messyUrl.as("url")), 0L,
        tmp("graft_cs_fr"), tmp("graft_cs_out"))))
    bodies.foreach { case (name, body) =>
      body()
      assert(held == before, s"$name left cached frames behind")
    }
    CacheScope.flush(spark)
  }

  test("a q119 call followed by a flush leaves no per-call root on disk") {
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots: Set[String] = Option(tmpDir.list).toSeq.flatten
      .filter(_.startsWith("graft_dedup_advance")).toSet
    CacheScope.flush(spark)
    val before = roots
    val rows = QueryRegistry.queries("q119_advance_ingest")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert((roots -- before).nonEmpty, "q119 wrote no per-call root")
    CacheScope.flush(spark)
    assert((roots -- before).isEmpty, "the flush left q119's root behind")
  }
}
