package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one lifecycle of every persisted artifact: the dedup index
  * (`signatures`), the n-gram window index (`grams`), the IVF index
  * (`centroids`, `assignments`), the perceptual-hash index (`hashes`)
  * and the streaming sinks' versioned logs (`audit`, `stats`). This
  * module is the only code that knows the layout:
  *
  * {{{
  *   root/CURRENT            names the live version
  *   root/vN/<component>/    build files + committed batch-<id> dirs
  * }}}
  *
  * A root without `CURRENT` is the implicit v0: its components sit
  * directly under `root`. Only stream-sink logs start that way (their
  * first compaction moves them under v1); every index build publishes
  * a version.
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
  *     replay), a plain append without one. Appending per-row
  *     derivations equals rebuilding from the advanced corpus, because
  *     every component row is a pure function of one admitted row.
  *   - [[compact]] rewrites a live component into the next version
  *     (full-row distinct, so replayed byte-identical rows collapse and
  *     genuinely different rows survive), carries the newest fence
  *     markers, sweeps stranded staging dirs and publishes.
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

  /** The live version's directory: the published one, else `root`
    * itself (the flat v0 of a stream-sink log).
    */
  def live(root: String): String = current(root).getOrElse(root)

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
    * already holds evaluates nothing. Cached plans under `root` are
    * refreshed after the append.
    */
  def advance(root: String, component: String, batchId: Option[Long])(
      rows: => DataFrame): Unit = {
    val dir = s"${live(root)}/$component"
    if (!batchId.exists(BatchCommits.isCommitted(dir, _))) {
      val r = rows
      batchId match {
        case Some(id) => BatchCommits.appendBatch(r, dir, id): Unit
        case None => r.write.mode("append").parquet(dir)
      }
      r.sparkSession.catalog.refreshByPath(root)
    }
  }

  /** Compact the live `component` into the next version and publish
    * it, then drop cached plans resolved against the old paths.
    *
    * Exactly one non-empty committed `batch-<id>` dir and no flat
    * files is one attempt's output and cannot hold replay duplicates,
    * so it is copied verbatim under the same batch-dir name (the next
    * compaction copies it again); anything else is rewritten as its
    * full-row distinct. `copied` components (frozen tables such as IVF
    * centroids) are copied verbatim when flat, so every version dir is
    * self-contained. The flat v0 compacts into v1 and stays as the
    * grace copy until the next compaction.
    */
  def compact(s: SparkSession, root: String, component: String,
      copied: Seq[String] = Nil): Unit = {
    val old = live(root)
    val v = prepareNext(root)
    singleWriteFiles(s"$old/$component") match {
      case Some((batchName, files)) =>
        copyFilesInto(files, s"$v/$component/$batchName")
      case None =>
        BatchCommits.readComponent(s, s"$old/$component").distinct()
          .write.parquet(s"$v/$component")
    }
    BatchCommits.carryMarkers(s"$old/$component", s"$v/$component")
    BatchCommits.sweepStaging(s"$old/$component")
    for (c <- copied)
      flatFiles(s"$old/$c") match {
        case Some(files) => copyFilesInto(files, s"$v/$c")
        case None => s.read.parquet(s"$old/$c").write.parquet(s"$v/$c")
      }
    publish(root, v)
    if (old != root)
      (component +: copied).foreach(c =>
        deleteRecursively(Paths.get(root, c)))
    s.catalog.refreshByPath(root)
  }

  /** The largest count of non-empty `batch-*` dirs across the live
    * version's components: what every serve read must list. Carried
    * fence markers (empty dirs) do not count, so a compacted artifact
    * reads at most 1.
    */
  def fragmentation(root: String): Int =
    listDirs(live(root))
      .map(c => listDirs(c.getPath).count(d =>
        d.getName.startsWith("batch-") && visible(list(d)).nonEmpty))
      .maxOption.getOrElse(0)

  /** Out-of-band maintenance between batches of a live stream: run the
    * index's `compact` and prune old versions only when some component
    * holds at least `minBatchDirs` batch dirs. The floor is 2: one
    * batch dir is already compact, and the verbatim copy would publish
    * a version on every call. Returns true iff a compaction ran.
    */
  def compactIfFragmented(s: SparkSession, root: String,
      minBatchDirs: Int)(compact: (SparkSession, String) => Unit)
      : Boolean = {
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

  /** The component's one non-empty committed batch dir and its data
    * files, if that (plus empty markers) is all it holds.
    */
  private def singleWriteFiles(dir: String)
      : Option[(String, Seq[java.io.File])] = {
    val (dirs, files) = visible(list(new java.io.File(dir)))
      .partition(_.isDirectory)
    if (files.nonEmpty || !dirs.forall(_.getName.startsWith("batch-"))) None
    else dirs.filter(d => visible(list(d)).nonEmpty) match {
      case Array(only) =>
        Some((only.getName, visible(list(only)).filter(_.isFile).toSeq))
      case _ => None
    }
  }

  /** A flat dir's data files (no subdirectories at all), or None. */
  private def flatFiles(dir: String): Option[Seq[java.io.File]] = {
    val entries = visible(list(new java.io.File(dir)))
    if (entries.nonEmpty && entries.forall(_.isFile)) Some(entries.toSeq)
    else None
  }

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
