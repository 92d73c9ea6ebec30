package graft.multimodal

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PhashIndexSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def tmp(p: String) =
    graft.TempArtifacts.dir(p)

  private def frame(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("lifecycle: build -> ingest decisions -> advance ≡ rebuild; " +
    "planted twins drop, unindexed twins admit") {
    val corpusPred = col("doc_id") % 6 === 0 &&
      col("doc_id") < CodecQueries.PhashCorpusCutoff
    val idx = tmp("graft_phash_spec")
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, sf, corpusPred), idx)
    graft.CacheScope.flush(spark)

    val arrivals = CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 3)
    val dec = PhashIndex.phashIngestDecisions(arrivals, idx)
    val byId = dec.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(byId.nonEmpty)
    // every arrival whose PPM pixel-twin (id-3) is indexed: dup of it
    val dupTwins = byId.filter { case (id, _) =>
      id % 6 == 3 && (id - 3) < CodecQueries.PhashCorpusCutoff }
    assert(dupTwins.nonEmpty)
    dupTwins.foreach { case (id, (st, of)) =>
      assert(st == "dup" && of == id - 3, s"arrival $id: ($st, $of)") }
    // twins above the cutoff have no indexed counterpart: admitted
    // (unless a chance hash collision with a DIFFERENT corpus image —
    // verify against brute force rather than assuming none)
    val corpusHashes = PhashIndex.indexHashes(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    byId.foreach { case (id, (st, _)) =>
      val arrHash = arrivals.filter(col("doc_id") === id)
        .head().getLong(1)
      val expectDup = corpusHashes.exists { case (_, hc) =>
        java.lang.Long.bitCount(arrHash ^ hc) <=
          CodecQueries.PhashMaxHamming }
      assert((st == "dup") == expectDup, s"arrival $id vs brute force")
    }

    // advance with the admitted arrivals: artifact ≡ rebuild from
    // (corpus + admitted), frame for frame, both components
    val admitted = arrivals.join(
      dec.filter(col("status") === "added").select("doc_id"), "doc_id")
    PhashIndex.advancePhashIndex(admitted, idx)
    val rebuilt = tmp("graft_phash_rebuild")
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, sf, corpusPred)
        .unionAll(admitted.select("doc_id", "hash")), rebuilt)
    assert(frame(PhashIndex.indexHashes(spark, idx)) ==
      frame(PhashIndex.indexHashes(spark, rebuilt)))
    assert(frame(PhashIndex.indexBands(spark, idx)) ==
      frame(PhashIndex.indexBands(spark, rebuilt)))
    graft.CacheScope.flush(spark)
  }

  test("fenced advance: a replayed batch id is skipped, and the fence " +
    "survives compaction's version flip") {
    val idx = tmp("graft_phash_fence")
    PhashIndex.buildPhashIndex(
      CodecQueries.phashHashesOf(spark, sf,
        col("doc_id") % 6 === 0 && col("doc_id") < 100), idx)
    val batch = CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 3 && col("doc_id") < 100)
    PhashIndex.advancePhashIndex(batch, idx, Some(0L))
    val before = frame(PhashIndex.indexHashes(spark, idx))
    // replay before compaction: fenced
    PhashIndex.advancePhashIndex(batch, idx, Some(0L))
    assert(frame(PhashIndex.indexHashes(spark, idx)) == before)
    // compact (version flip), then replay again: the carried markers
    // must still fence; serving is unchanged
    PhashIndex.compactPhashIndex(spark, idx)
    assert(frame(PhashIndex.indexHashes(spark, idx)) == before)
    PhashIndex.advancePhashIndex(batch, idx, Some(0L))
    assert(frame(PhashIndex.indexHashes(spark, idx)) == before,
      "post-compaction replay re-appended")
    // decisions served from the compacted artifact match pre-compaction
    val dec = PhashIndex.phashIngestDecisions(
      CodecQueries.phashHashesOf(spark, sf,
        col("doc_id") % 6 === 3 && col("doc_id") >= 100
          && col("doc_id") < 200), idx)
    assert(dec.count() > 0)
    graft.CacheScope.flush(spark)
  }
}
