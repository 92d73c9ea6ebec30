package graft.sources

import graft.SharedSpark
import graft.dedup.DedupQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The versioned-artifact protocol: immutable version dirs + an
  * atomically-swapped CURRENT pointer give zero-downtime rebuilds —
  * a reader that resolved a version keeps a consistent artifact
  * across a concurrent publish, and the new version only becomes
  * visible at the pointer flip.
  */
class ArtifactVersionsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("prepare/publish mechanics: numbering, pointer, late visibility") {
    val root = graft.TempArtifacts.dir("graft_artver")
    assert(ArtifactVersions.current(root).isEmpty)
    val v1 = ArtifactVersions.prepareNext(root)
    assert(v1.endsWith("v1"))
    // prepared but unpublished versions are invisible to readers
    assert(ArtifactVersions.current(root).isEmpty)
    ArtifactVersions.publish(root, v1)
    assert(ArtifactVersions.current(root).contains(v1))
    val v2 = ArtifactVersions.prepareNext(root)
    assert(v2.endsWith("v2"))
    assert(ArtifactVersions.current(root).contains(v1))
    ArtifactVersions.publish(root, v2)
    assert(ArtifactVersions.current(root).contains(v2))
  }

  test("pruneVersions retires only versions beyond the grace window, " +
      "never the live one or prepared-but-unpublished ones") {
    val root = graft.TempArtifacts.dir("graft_artver_prune")
    // nothing published yet: prune is a no-op even with dirs present
    val v1 = ArtifactVersions.prepareNext(root)
    assert(ArtifactVersions.pruneVersions(root).isEmpty)
    ArtifactVersions.publish(root, v1)
    def mk(): String = {
      val v = ArtifactVersions.prepareNext(root)
      ArtifactVersions.publish(root, v); v
    }
    val v2 = mk(); val v3 = mk(); val v4 = mk()
    // a prepared NEWER version must survive any prune
    val v5 = ArtifactVersions.prepareNext(root)
    val retired = ArtifactVersions.pruneVersions(root, keep = 2)
    assert(retired.map(p => java.nio.file.Paths.get(p).getFileName.toString)
      == Seq("v1", "v2"))
    def exists(v: String) = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(v))
    assert(!exists(v1) && !exists(v2) && exists(v3) && exists(v4)
      && exists(v5))
    assert(ArtifactVersions.current(root).contains(v4))
    // idempotent; keep=1 then retires the remaining predecessor
    assert(ArtifactVersions.pruneVersions(root, keep = 2).isEmpty)
    assert(ArtifactVersions.pruneVersions(root, keep = 1)
      .map(p => java.nio.file.Paths.get(p).getFileName.toString)
      == Seq("v3"))
    assert(exists(v4) && exists(v5))
  }

  test("zero-downtime dedup-index rebuild: old version serves during and after") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val root = graft.TempArtifacts.dir("graft_artver_idx")
    // v1: base corpus, built and resolved by a "reader"
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), root)
    val readerPath = ArtifactVersions.live(root)
    assert(readerPath.endsWith("v1"))
    assert(DedupQueries.indexSignatures(spark, readerPath).count() == 25)
    // rebuild (e.g. a drift trigger fired): the wider corpus becomes v2
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 40), root)
    assert(DedupQueries.indexSignatures(spark, readerPath).count() == 25,
      "reader disturbed by a rebuild")
    // new resolutions see v2; the held v1 path stays intact
    assert(ArtifactVersions.live(root).endsWith("v2"))
    assert(DedupQueries.indexSignatures(spark, root).count() == 40)
    assert(DedupQueries.indexSignatures(spark, readerPath).count() == 25,
      "published rebuild must not rewrite old versions")
    graft.CacheScope.flush(spark)
  }

  test("a rebuild never disturbs a reader's already-resolved frame") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val root = graft.TempArtifacts.dir("graft_artver_reader")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), root)
    val reader = DedupQueries.indexSignatures(spark, root)
    assert(reader.count() == 25)
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 40), root)
    assert(reader.count() == 25, "the rebuild replaced the reader's files")
    assert(DedupQueries.indexSignatures(spark, root).count() == 40)
    graft.CacheScope.flush(spark)
  }

  test("the dedup and phash indexes persist one component each: " +
      "signatures and hashes, the band tables are derived") {
    def entries(dir: String): Set[String] =
      Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val dd = graft.TempArtifacts.dir("graft_artver_one_dd")
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 25), dd)
    DedupQueries.advanceDedupIndex(
      docs.filter(col("doc_id") >= 25 && col("doc_id") < 40), dd, Some(0L))
    val ddLive = ArtifactVersions.live(dd)
    assert(entries(ddLive) == Set("signatures"))
    assert(entries(s"$ddLive/signatures") == Set("batch-0"))
    import graft.multimodal.{CodecQueries, PhashIndex}
    val ph = graft.TempArtifacts.dir("graft_artver_one_ph")
    PhashIndex.buildPhashIndex(CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 0 && col("doc_id") < 100), ph)
    PhashIndex.advancePhashIndex(CodecQueries.phashHashesOf(spark, sf,
      col("doc_id") % 6 === 3 && col("doc_id") < 100), ph)
    assert(entries(ArtifactVersions.live(ph)) == Set("hashes"))
    graft.CacheScope.flush(spark)
  }
}
