package graft.sources

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** The per-batch fence on its own: commit, replay, staging litter,
  * the marker carry and its depth guard, and the identity compaction.
  * The sinks' replay tests (ReplayFenceSpec) drive it through
  * [[ArtifactVersions.advance]].
  */
class BatchCommitsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def tmp(p: String) =
    graft.TempArtifacts.dir(p)

  /** A root with an empty published version: its directory. */
  private def published(root: String): String = {
    val v = ArtifactVersions.prepareNext(root)
    ArtifactVersions.publish(root, v)
    v
  }

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
    // single write WITH legitimate duplicate rows: the fast path must
    // not distinct them away
    val root1 = tmp("graft_rf_idc1")
    val c1 = s"${published(root1)}/grams"
    assert(BatchCommits.appendBatch(Seq(7L, 7L, 8L).toDF("x"), c1, 0L))
    ArtifactVersions.compact(spark, root1)
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
    ArtifactVersions.compact(spark, root1)
    val v1b = ArtifactVersions.live(root1)
    assert(v1b != v1)
    assert(ArtifactVersions.read(spark, root1, "grams")
      .as[Long].collect().sorted.toSeq == Seq(7L, 7L, 8L),
      "second identity flip merged the single write's duplicate rows")
    // two writes with a byte-identical replayed payload (the unfenced
    // lifecycle flow compaction exists for): the rewrite path dedups
    val root2 = tmp("graft_rf_idc2")
    val c2 = s"${published(root2)}/grams"
    assert(BatchCommits.appendBatch(Seq(1L, 2L).toDF("x"), c2, 0L))
    assert(BatchCommits.appendBatch(Seq(1L, 2L).toDF("x"), c2, 1L))
    ArtifactVersions.compact(spark, root2)
    assert(ArtifactVersions.read(spark, root2, "grams")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "multi-write compaction no longer collapses replayed rows")
  }
}
