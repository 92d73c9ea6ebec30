package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-batch fence: EXACTLY-ONCE batch appends for one component
  * of an [[ArtifactVersions]] artifact (an index component, the URL
  * frontier or a streaming decision log). Only [[ArtifactVersions]]
  * calls it.
  *
  * The problem: Structured Streaming's foreachBatch is at-least-once —
  * a crash between the batch's side effects and the checkpoint commit
  * replays the whole batch, and a plain `mode("append")` then appends
  * its rows twice. The fix is the same one Spark's own file-stream
  * sink uses (FileStreamSink's _spark_metadata log: per-batch commits,
  * readers see only committed files), reduced to the filesystem
  * primitive these artifacts already rely on for versioning: each
  * batch's rows are written to a HIDDEN staging directory under the
  * component (invisible to readers — Spark's file index skips '.'/'_'
  * names), then promoted with ONE atomic directory rename to
  * `batch-<id>`. The rename is the commit AND the processed-batchId
  * record:
  *
  *   - crash mid-staging: the orphan `.staging-<id>-<uuid>` dir stays
  *     invisible; the replay sweeps it, stages afresh and commits;
  *   - crash after the rename: the replay finds `batch-<id>` and
  *     SKIPS — no double append, ever.
  *
  * One micro-batch that advances several artifacts (the n-gram index,
  * then the dedup index) fences each artifact's component
  * independently, so a crash between the two commits replays into
  * "skip the committed one, complete the missing one" — recovery, not
  * duplication.
  *
  * Readers use [[readComponent]] (recursive file lookup) so a
  * component holds flat build files, committed batch dirs and unfenced
  * append dirs side by side. On a cluster the same protocol runs
  * against any store with atomic directory rename (HDFS); on S3-style
  * stores the rename becomes a manifest write, which is exactly the
  * _spark_metadata / table-format commit design this models.
  *
  * CONTRACT: a fenced component is paired 1:1 with ONE streaming
  * checkpoint location for its whole life. The fence keys on the
  * batchId alone — batch ids restart at 0 under a fresh checkpoint, so
  * pointing a new stream (new checkpoint) at a component that already
  * holds `batch-<id>` commits from a previous run would silently skip
  * the new stream's early batches as "already committed". Retiring a
  * checkpoint means retiring (or compacting away the batch dirs of)
  * its component. A deployment that must tolerate checkpoint resets
  * should key the component path on the CHECKPOINT LOCATION's identity
  * (e.g. a hash of its path) — NOT the query runId, which changes on
  * every restart of the same checkpoint and would orphan the prior
  * run's commits exactly when the fence must see them.
  */
private[sources] object BatchCommits {
  def batchDir(dir: String, batchId: Long): Path =
    Paths.get(dir, s"batch-$batchId")

  /** Has `batchId` already been committed to this component? */
  def isCommitted(dir: String, batchId: Long): Boolean =
    Files.isDirectory(batchDir(dir, batchId))

  /** Commit `df`'s rows as batch `batchId`'s ONE append to the
    * component at `dir`. Returns false (and evaluates nothing) when
    * the batch is already committed — the replay fence.
    *
    * The staging dir is per-ATTEMPT unique (`.staging-<id>-<uuid>`),
    * so two racing attempts of the same batch (a zombie driver plus
    * its restarted successor) each stage only bytes they wrote and the
    * rename promotes a wholly-one-attempt directory — never an
    * interleaving. A lost rename race is the ONLY swallowed failure:
    * it requires the committed target to actually exist (a peer wrote
    * our exact payload — the fence's at-most-once guarantee holds);
    * any other FileSystemException (permissions, a half-copied manual
    * restore at the target name, media errors) rethrows rather than
    * silently discarding the batch.
    */
  def appendBatch(df: DataFrame, dir: String, batchId: Long): Boolean = {
    val target = batchDir(dir, batchId)
    if (Files.isDirectory(target)) return false
    Files.createDirectories(Paths.get(dir))
    // FENCE-DEPTH GUARD: compaction carries only the MarkerKeep newest
    // fence markers, so an id deeper than that below the newest
    // committed id may have had its marker dropped — this append could
    // be a replay that the fence can no longer stop, i.e. a SILENT
    // double-append. Under the 1:1 checkpoint-component contract a
    // replayed id is always in the checkpoint's uncommitted tail
    // (never this deep), so reaching here means the contract was
    // violated (e.g. a checkpoint restored from an old backup) —
    // reject loudly instead of corrupting the artifact.
    // boundary: carryMarkers keeps the MarkerKeep NEWEST ids, so with
    // dense ids the kept window is (mx - MarkerKeep, mx] — the id
    // EXACTLY MarkerKeep below mx is already outside it (an id whose
    // marker DID survive returns false above before reaching here)
    committedIds(dir).maxOption.foreach { mx =>
      if (batchId <= mx - MarkerKeep)
        throw new IllegalStateException(
          s"appendBatch($dir, batch $batchId): id is at least " +
            s"MarkerKeep=$MarkerKeep below the newest committed id $mx. " +
            "A compaction may have dropped this id's fence marker, so " +
            "this append could silently duplicate a batch that already " +
            "landed. This indicates a violated 1:1 checkpoint-component " +
            "pairing (e.g. a checkpoint restored from backup); rebuild " +
            "the component or restore the matching checkpoint.")
    }
    // retire DEAD attempts' leftovers for this id (a per-attempt name
    // is never overwritten by a later attempt); a LIVE same-id
    // attempt can't exist under the single-committer-per-checkpoint
    // contract above — and a zombie that loses its staging dir here
    // fails its rename loudly instead of promoting mixed bytes
    sweepStaging(dir, Some(batchId))
    val staging = Paths.get(dir,
      s".staging-$batchId-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("overwrite").parquet(staging.toString)
    try {
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      // a concurrent/replayed committer won the rename — the target is
      // a committed DIRECTORY holding our exact payload, discard ours
      case _: java.nio.file.FileSystemException if Files.isDirectory(target) =>
        ArtifactVersions.deleteRecursively(staging)
        false
      case e: java.nio.file.FileSystemException =>
        // NOT the commit race (no committed directory at the target —
        // e.g. a stray file from a botched manual restore): surface it;
        // a silent false here would drop the batch's rows forever
        ArtifactVersions.deleteRecursively(staging)
        throw e
    }
  }

  /** Retire stranded `.staging-*` dirs under a component — crashed
    * attempts' leftovers (invisible to readers, but the disk they hold
    * is real). `batchId` restricts the sweep to one batch's attempts
    * (the appendBatch entry sweep); `None` sweeps them all — only safe
    * from the committer's own thread between attempts, which is where
    * the compaction paths run.
    */
  def sweepStaging(dir: String, batchId: Option[Long] = None): Unit = {
    val prefix = batchId.fold(".staging-")(id => s".staging-$id-")
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach(f => ArtifactVersions.deleteRecursively(f.toPath))
  }

  /** How many of a component's newest batch fence markers a compaction
    * carries into the successor version. A replayed batch id is always
    * inside the checkpoint's uncommitted tail — in practice the single
    * latest batch, and never older than the last offsets commit — so
    * carrying the 16 newest ids is a wide margin; an older id could
    * only replay if the checkpoint itself regressed 16+ batches, which
    * the 1:1 checkpoint-component pairing contract rules out. Without
    * this cap a long-running stream accumulates one empty marker dir
    * per batch EVER committed, forever, through every compaction.
    */
  val MarkerKeep = 16

  /** Carry a component's `batch-<id>` fence markers into a successor
    * component dir as EMPTY marker dirs (readers see no files; the
    * fence sees the ids — without the carry, a batch committed into
    * the old version followed by a compaction flip and a crash before
    * the stream checkpoint would replay its append into the new one).
    * Keeps only the `keep` newest ids (see [[MarkerKeep]]). Returns
    * the carried ids.
    */
  def carryMarkers(oldDir: String, newDir: String,
      keep: Int = MarkerKeep): Seq[Long] = {
    val all = committedIds(oldDir).sorted
    val ids = all.takeRight(keep)
    // the dropped ids are no longer fenced — an out-of-contract replay
    // of one would double-append, and [[appendBatch]]'s depth guard is
    // what turns that into an error; log the drop so the compaction
    // trail records which ids lost their markers and when
    val dropped = all.dropRight(keep)
    if (dropped.nonEmpty)
      System.err.println(s"[compact] $oldDir: dropping fence markers " +
        s"for batch ids ${dropped.mkString(",")} (older than the " +
        s"$keep newest); appendBatch rejects ids below " +
        s"${ids.lastOption.getOrElse(0L)} - MarkerKeep from here on")
    ids.foreach(id =>
      Files.createDirectories(Paths.get(newDir, s"batch-$id")): Unit)
    ids
  }

  /** All `batch-<id>` ids present under a component — committed data
    * dirs and carried (empty) fence markers alike.
    */
  private def committedIds(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles)
      .getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(f => scala.util.Try(
        f.getName.stripPrefix("batch-").toLong).toOption
        .filter(_ => f.getName.startsWith("batch-")))
      .toSeq

  /** Read a component that may hold flat build files plus committed
    * `batch-<id>` and `append-<uuid>` subdirectories. Recursive lookup
    * (with Spark's hidden-name filtering) sees all of them; a plain
    * non-recursive parquet read would silently miss the
    * subdirectories. The schema comes from one data file's footer
    * ([[Formats.readParquet]]), so a serve read starts no Spark job
    * before the query's own action.
    */
  def readComponent(s: SparkSession, dir: String): DataFrame =
    Formats.readParquet(s, s.read.option("recursiveFileLookup", "true"), dir)
}
