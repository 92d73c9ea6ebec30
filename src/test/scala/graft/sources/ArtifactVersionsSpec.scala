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
    // a reader holding a resolved version reads its component dir
    def held(v: String) =
      BatchCommits.readComponent(spark, s"$v/signatures")
    assert(held(readerPath).count() == 25)
    // rebuild (e.g. a drift trigger fired): the wider corpus becomes v2
    DedupQueries.buildDedupIndex(docs.filter(col("doc_id") < 40), root)
    assert(held(readerPath).count() == 25,
      "reader disturbed by a rebuild")
    // new resolutions see v2; the held v1 path stays intact
    assert(ArtifactVersions.live(root).endsWith("v2"))
    assert(DedupQueries.indexSignatures(spark, root).count() == 40)
    assert(held(readerPath).count() == 25,
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

  test("the first fenced advance on an empty root publishes v1; " +
      "replaying its id evaluates nothing") {
    import spark.implicits._
    val root = graft.TempArtifacts.dir("graft_artver_first")
    assert(ArtifactVersions.current(root).isEmpty)
    ArtifactVersions.advance(root, "log", Some(0L))(Seq(1L, 2L).toDF("x"))
    assert(ArtifactVersions.live(root).endsWith("v1"))
    ArtifactVersions.advance(root, "log", Some(0L))(
      throw new AssertionError("the replay evaluated its rows"))
    assert(ArtifactVersions.live(root).endsWith("v1"))
    assert(ArtifactVersions.read(spark, root, "log")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("committed returns the first attempt's rows when a replay " +
      "offers a different payload, and None for a batch never committed") {
    import spark.implicits._
    val root = graft.TempArtifacts.dir("graft_artver_committed")
    ArtifactVersions.advance(root, "log", Some(3L))(Seq(1L).toDF("x"))
    ArtifactVersions.advance(root, "log", Some(3L))(Seq(99L).toDF("x"))
    assert(ArtifactVersions.committed(spark, root, "log", 3L)
      .map(_.as[Long].collect().toSeq).contains(Seq(1L)))
    assert(ArtifactVersions.committed(spark, root, "log", 4L).isEmpty)
  }

  test("committed returns None after a compaction has rewritten the " +
      "batch; the rows still read and the fence still holds") {
    import spark.implicits._
    val root = graft.TempArtifacts.dir("graft_artver_committed_cmp")
    ArtifactVersions.advance(root, "log", Some(0L))(Seq(1L).toDF("x"))
    ArtifactVersions.advance(root, "log", Some(1L))(Seq(2L).toDF("x"))
    ArtifactVersions.compact(spark, root)
    assert(ArtifactVersions.live(root).endsWith("v2"))
    assert(ArtifactVersions.committed(spark, root, "log", 0L).isEmpty)
    assert(ArtifactVersions.committed(spark, root, "log", 1L).isEmpty)
    assert(ArtifactVersions.holdsData(root, "log"))
    assert(ArtifactVersions.read(spark, root, "log")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    ArtifactVersions.advance(root, "log", Some(1L))(
      throw new AssertionError("the carried marker did not fence"))
  }

  test("compact(s, root) on an IVF-shaped root copies the never-advanced " +
      "component's files byte for byte and rewrites the advanced one") {
    import spark.implicits._
    val root = graft.TempArtifacts.dir("graft_artver_ivf_shape")
    ArtifactVersions.build(root,
      "centroids" -> Seq((0, 0, 0.5), (1, 0, 1.5)).toDF("clabel", "ci", "c"),
      "assignments" -> Seq((10L, 0), (11L, 1)).toDF("vec_id", "lst"))
    ArtifactVersions.advance(root, "assignments", Some(0L))(
      Seq((12L, 0)).toDF("vec_id", "lst"))
    ArtifactVersions.advance(root, "assignments", None)(
      Seq((12L, 0)).toDF("vec_id", "lst"))
    val old = ArtifactVersions.live(root)
    ArtifactVersions.compact(spark, root)
    val now = ArtifactVersions.live(root)
    assert(now != old)
    def files(v: String): Map[String, Seq[Byte]] =
      new java.io.File(v, "centroids").listFiles
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    assert(files(old).nonEmpty && files(now) == files(old))
    // the advanced component collapses the unfenced duplicate
    assert(ArtifactVersions.read(spark, root, "assignments")
      .as[(Long, Int)].collect().sorted.toSeq ==
      Seq((10L, 0), (11L, 1), (12L, 0)))
  }

  test("no main file outside graft/sources names the artifact layout " +
      "or calls the batch fence") {
    val layout = ("(batch|append)-(?![a-z])|\\bCURRENT\\b(?!\\s+ROW)|" +
      "\\b(isCommitted|appendBatch|readComponent|BatchCommits)\\b").r
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root: no $main")
    def scala(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) scala(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val sources = new java.io.File(main, "graft/sources").getPath
    val hits = for {
      f <- scala(main) if !f.getPath.startsWith(sources)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- layout.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}: " +
      m.matched
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
