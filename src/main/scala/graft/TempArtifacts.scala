package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Temp dirs for harness artifacts (indexes, tokenizer models, per-call
  * version roots). In production these artifacts live at a durable path
  * with their own lifecycle; the temp form exists for the self-contained
  * harness queries. Every dir not yet deleted is removed by one JVM
  * shutdown hook, so bench/verify invocations never accumulate stale
  * copies.
  */
object TempArtifacts {
  private val undeleted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
  }

  sys.addShutdownHook(undeleted.forEach(d => rm(d)))

  /** A fresh temp dir that lives until JVM exit. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    undeleted.add(d)
    d.toString
  }

  /** A fresh temp dir for one call's artifact, deleted under
    * [[CacheScope]]'s rule: when the innermost scope open on this thread
    * exits, else at the session's next flush.
    */
  def perCall(s: SparkSession, prefix: String): String = {
    val d = dir(prefix)
    CacheScope.onRelease(s) { _ =>
      val f = new java.io.File(d)
      rm(f); undeleted.remove(f): Unit
    }
    d
  }

  private val servedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The artifact `build` writes into a fresh [[dir]], built once per
    * (`prefix`, `key`) per JVM: the first call pays the build, later
    * calls serve. Key it on [[fingerprint]] of the input table, so a
    * rewrite of the input builds a fresh artifact instead of serving
    * the stale one.
    */
  def served(key: String, prefix: String)(build: String => Unit): String =
    servedDirs.computeIfAbsent(s"$prefix|$key", _ => {
      val d = dir(prefix)
      build(d)
      d
    })

  /** Content fingerprint of dataset dir `d`'s `table` parquet: every
    * regular file's path, size, nanosecond mtime and a CRC32 of its
    * last KiB (the parquet footer: schema, row counts, chunk offsets),
    * path-sorted. A rewrite changes it even when size and a coarse
    * mtime collide. Metadata-scale: at most 1 KiB read per file.
    */
  def fingerprint(d: String, table: String): String = {
    val p = Paths.get(d, s"$table.parquet")
    if (!Files.exists(p)) return d
    val sb = new StringBuilder(d).append('#')
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.comparing[Path, String](_.toString))
      .forEach { f =>
        if (Files.isRegularFile(f)) {
          val size = Files.size(f)
          val n = math.min(size, 1024L).toInt
          val b = new Array[Byte](n)
          val raf = new java.io.RandomAccessFile(f.toFile, "r")
          try { raf.seek(size - n); raf.readFully(b) }
          finally raf.close()
          val crc = new java.util.zip.CRC32
          crc.update(b)
          sb.append(p.relativize(f)).append(':').append(size).append(':')
            .append(Files.getLastModifiedTime(f)
              .to(java.util.concurrent.TimeUnit.NANOSECONDS))
            .append(':').append(crc.getValue).append(';'): Unit
        }
      }
    finally walk.close()
    sb.toString
  }
}
