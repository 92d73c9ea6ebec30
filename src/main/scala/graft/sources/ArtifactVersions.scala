package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one lifecycle of every persisted artifact: the dedup index
  * (`signatures`), the n-gram window index (`grams`), the IVF index
  * (`centroids`, `assignments`), the perceptual-hash index (`hashes`),
  * the URL frontier and the streaming sinks' decision logs. This
  * module (with [[BatchCommits]], its per-batch fence) is the only code
  * that knows the layout:
  *
  * {{{
  *   root/CURRENT            names the live version
  *   root/vN/<component>/    build files, committed batch-<id> dirs
  *                           and unfenced append-<uuid> dirs
  * }}}
  *
  * Every root has this form: a build publishes a version, and the
  * first advance of a root without `CURRENT` publishes an empty `v1`.
  *
  * An artifact persists a component only if no other component of the
  * same artifact determines it row by row; readers derive everything
  * else at read time (the dedup and phash band tables are `bandsOf` of
  * the signature / hash component). So an advance appends to exactly
  * one component, under one fence.
  *
  *   - [[build]] writes every component into a fresh version dir and
  *     then publishes it. A reader that resolved the previous version
  *     keeps a consistent artifact: versions are never rewritten.
  *   - [[advance]] appends rows to one live component: a fenced
  *     [[BatchCommits.appendBatch]] with a batch id (exactly-once under
  *     replay), a plain append into its own dir without one. Appending
  *     per-row derivations equals rebuilding from the advanced corpus,
  *     because every component row is a pure function of one admitted
  *     row. [[committed]] reads back what one batch committed.
  *   - [[compact]] rewrites the whole live version into the next one:
  *     an advanced component becomes its full-row distinct (replayed
  *     byte-identical rows collapse, genuinely different rows survive),
  *     a component that only its build wrote is copied verbatim; it
  *     carries the newest fence markers, sweeps stranded staging dirs
  *     and publishes.
  *   - [[pruneVersions]] retires versions beyond a grace window.
  *
  * Publishing flips `CURRENT` with temp-file + fsync + atomic rename,
  * so a reader sees the old or the new version, never a torn pointer,
  * and a crash mid-publish leaves the old version live. On a cluster
  * the same protocol runs against any store with atomic rename or
  * conditional put.
  */
object ArtifactVersions {
  private val Pointer = "CURRENT"

  /** The published version's directory, if a publish has happened. */
  private[sources] def current(root: String): Option[String] = {
    val p = Paths.get(root, Pointer)
    if (!Files.exists(p)) None
    else Some(Paths.get(root,
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
      .toString)
  }

  /** The live version's directory. */
  def live(root: String): String = current(root).getOrElse(
    throw new IllegalStateException(s"$root has no published version"))

  /** The live version, publishing an empty `v1` on the first write. */
  private def liveOrFirst(root: String): String = current(root).getOrElse {
    val v = prepareNext(root)
    publish(root, v)
    v
  }

  /** A live component: its build files plus committed batch dirs. */
  def read(s: SparkSession, root: String, component: String): DataFrame =
    BatchCommits.readComponent(s, s"${live(root)}/$component")

  /** Allocate (and create) the next version directory, not yet live.
    * The dir is claimed with an atomic `createDirectory`, so two racing
    * writers are never handed the same vN.
    */
  private[sources] def prepareNext(root: String): String = {
    val r = Paths.get(root)
    Files.createDirectories(r)
    var next = 1 + versionDirs(root).map(versionOf).foldLeft(0)(math.max)
    while (true) {
      try {
        val dir = r.resolve(s"v$next")
        Files.createDirectory(dir)
        return dir.toString
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => next += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomically make a prepared version the live one. The pointer
    * bytes are fsynced before the rename (the rename commits the name,
    * not the data), and each publish stages under a unique temp name,
    * so the last rename wins the pointer.
    */
  private[sources] def publish(root: String, versionDir: String): Unit = {
    val name = Paths.get(versionDir).getFileName.toString
    require(Files.isDirectory(Paths.get(root, name)),
      s"$versionDir is not a version dir under $root")
    val tmp = Files.createTempFile(Paths.get(root), Pointer + ".", ".tmp")
    try {
      val out = new java.io.FileOutputStream(tmp.toFile)
      try {
        out.write(name.getBytes(StandardCharsets.UTF_8))
        out.flush()
        out.getFD.sync()
      } finally out.close()
      Files.move(tmp, Paths.get(root, Pointer),
        StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE): Unit
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Write each component into the next version, then publish it.
    * Components deriving from one frame should receive it pinned.
    */
  def build(root: String, components: (String, DataFrame)*): Unit = {
    val v = prepareNext(root)
    components.foreach { case (c, df) => df.write.parquet(s"$v/$c") }
    publish(root, v)
  }

  /** Append `rows` to the live version's `component`. With a
    * `batchId` the append commits fenced, and a batch the component
    * already holds evaluates nothing; without one the rows land in a
    * fresh `append-<uuid>` dir, so the build's own files stay apart.
    * Cached plans under `root` are refreshed after the append.
    */
  def advance(root: String, component: String, batchId: Option[Long])(
      rows: => DataFrame): Unit = {
    val dir = s"${liveOrFirst(root)}/$component"
    if (!batchId.exists(BatchCommits.isCommitted(dir, _))) {
      val r = rows
      batchId match {
        case Some(id) => BatchCommits.appendBatch(r, dir, id): Unit
        case None => r.write.parquet(
          s"$dir/append-${java.util.UUID.randomUUID().toString.take(8)}")
      }
      r.sparkSession.catalog.refreshByPath(root)
    }
  }

  /** The rows batch `batchId` committed to the live `component`,
    * whichever attempt landed them. None when the live version holds
    * no data for the batch: a compaction rewrote it into the
    * component's distinct set and only its carried (empty) fence
    * marker remains. A body that runs its fenced advances before its
    * compaction may read None as "every advance derived from this
    * batch already landed".
    */
  def committed(s: SparkSession, root: String, component: String,
      batchId: Long): Option[DataFrame] =
    current(root)
      .map(v => BatchCommits.batchDir(s"$v/$component", batchId).toFile)
      .filter(hasFiles)
      .map(d => BatchCommits.readComponent(s, d.toString))

  /** Does the live `component` hold any data file? False before the
    * first publish, and for a version published by a first advance
    * that crashed before its commit.
    */
  def holdsData(root: String, component: String): Boolean =
    current(root).exists(v => hasFiles(new java.io.File(v, component)))

  /** Compact the whole live version into the next one and publish
    * it, then drop cached plans resolved against the old paths.
    *
    * A component with no subdirectory holds only its build's one write
    * and is copied verbatim (frozen tables such as IVF centroids, or an
    * index never advanced), so every version dir is self-contained. An
    * advanced component that holds exactly one non-empty committed
    * `batch-<id>` dir and nothing else is one attempt's output and
    * cannot hold replay duplicates, so it is copied verbatim under the
    * same batch-dir name (the next compaction copies it again); any
    * other advanced component is rewritten as its full-row distinct.
    * Advanced components carry their newest fence markers, and every
    * component's stranded staging dirs are swept.
    */
  def compact(s: SparkSession, root: String): Unit = {
    val old = live(root)
    val v = prepareNext(root)
    for (c <- listDirs(old)) {
      val to = s"$v/${c.getName}"
      val (dirs, files) = visible(list(c)).partition(_.isDirectory)
      if (dirs.isEmpty) copyFilesInto(files.toSeq, to)
      else {
        dirs.filter(hasFiles) match {
          case Array(only) if files.isEmpty && dirs.forall(isBatchDir) =>
            copyFilesInto(visible(list(only)).toSeq, s"$to/${only.getName}")
          case _ =>
            BatchCommits.readComponent(s, c.toString).distinct()
              .write.parquet(to)
        }
        BatchCommits.carryMarkers(c.toString, to)
      }
      BatchCommits.sweepStaging(c.toString)
    }
    publish(root, v)
    s.catalog.refreshByPath(root)
  }

  /** The largest count of non-empty `batch-*` dirs across the live
    * version's components: what every serve read must list. Carried
    * fence markers (empty dirs) do not count, so a compacted artifact
    * reads at most 1; an unpublished root reads 0.
    */
  def fragmentation(root: String): Int =
    current(root).toSeq.flatMap(v => listDirs(v).toSeq)
      .map(c => listDirs(c.getPath).count(d => isBatchDir(d) && hasFiles(d)))
      .maxOption.getOrElse(0)

  /** Out-of-band maintenance between batches of a live stream:
    * [[compact]] and prune old versions only when some component holds
    * at least `minBatchDirs` batch dirs. The floor is 2: one batch dir
    * is already compact, and the verbatim copy would publish a version
    * on every call. Returns true iff a compaction ran.
    */
  def compactIfFragmented(s: SparkSession, root: String,
      minBatchDirs: Int): Boolean = {
    require(minBatchDirs >= 2,
      s"compactIfFragmented($root): minBatchDirs=$minBatchDirs — one " +
        "committed batch dir is already the compact state, so a " +
        "threshold below 2 would publish a new version on every call")
    val frag = fragmentation(root) >= minBatchDirs
    if (frag) {
      compact(s, root)
      pruneVersions(root): Unit
    }
    frag
  }

  /** Retire version dirs numerically `keep` or more behind the live
    * one. The live version and its `keep - 1` predecessors survive as a
    * grace window for readers that resolved a path just before a
    * publish; versions newer than `CURRENT` are never touched. Returns
    * the retired dirs; a no-op before the first publish.
    */
  def pruneVersions(root: String, keep: Int = 2): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    current(root) match {
      case None => Seq.empty
      case Some(cur) =>
        val curN = versionOf(new java.io.File(cur))
        versionDirs(root)
          .filter(versionOf(_) <= curN - keep)
          .sortBy(versionOf)
          .map { f => deleteRecursively(f.toPath); f.toString }
          .toSeq
    }
  }

  private def versionDirs(root: String): Array[java.io.File] =
    listDirs(root).filter(_.getName.matches("v\\d+"))

  private def versionOf(f: java.io.File): Int = f.getName.drop(1).toInt

  private def list(d: java.io.File): Array[java.io.File] =
    Option(d.listFiles).getOrElse(Array.empty)

  private def listDirs(dir: String): Array[java.io.File] =
    list(new java.io.File(dir)).filter(_.isDirectory)

  private def isBatchDir(d: java.io.File): Boolean =
    d.getName.startsWith("batch-")

  /** Does `d` hold a data file, at any depth? A carried fence marker
    * (an empty batch dir) does not.
    */
  private def hasFiles(d: java.io.File): Boolean =
    visible(list(d)).exists(f => f.isFile || hasFiles(f))

  private def visible(fs: Array[java.io.File]): Array[java.io.File] =
    fs.filterNot(f =>
      f.getName.startsWith(".") || f.getName.startsWith("_"))

  private def copyFilesInto(files: Seq[java.io.File], dest: String): Unit = {
    Files.createDirectories(Paths.get(dest))
    files.foreach(f => Files.copy(f.toPath,
      Paths.get(dest, f.getName), StandardCopyOption.REPLACE_EXISTING): Unit)
  }

  private[sources] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      list(p.toFile).foreach(f => deleteRecursively(f.toPath))
    Files.deleteIfExists(p): Unit
  }
}
