package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generic table export/load across the formats a pipeline actually
  * meets (parquet, orc, csv, json). The reference declares but never
  * implements file round-trips (dataset.py:66-70 `_init_file`,
  * dataset.py:183-193 `export` — both stubs); SimDataset defines the
  * parquet+sidecar dataset format, and this module supplies the
  * plain-table counterpart. CSV/JSON load takes the explicit schema:
  * at 100 TB, schema inference means reading the data twice.
  */
object Formats {
  val Supported: Set[String] = Set("parquet", "orc", "csv", "json")

  def export(df: DataFrame, path: String, format: String): Unit = {
    require(Supported(format), s"unsupported format $format")
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  def load(spark: SparkSession, path: String, format: String,
      schema: Option[StructType] = None): DataFrame = {
    require(Supported(format), s"unsupported format $format")
    var r = spark.read.format(format)
    if (format == "csv") r = r.option("header", "true")
    schema.foreach(sc => r = r.schema(sc))
    r.load(path)
  }

  /** `reader.parquet(path)` for a single parquet file or a directory,
    * with the schema taken from one data file's footer, read on the
    * driver (Bridge.parquetFooterSchema: Spark's own footer conversion,
    * honouring the session's parquet settings such as nanosAsLong).
    * Without a schema, `spark.read.parquet` infers it with a Spark job.
    * Inference without schema merging also reads a single footer, so
    * the result is the same. With no data file the read infers as
    * before (and fails the way Spark fails on an empty or missing path).
    */
  def readParquet(s: SparkSession, reader: DataFrameReader,
      path: String): DataFrame =
    firstDataFile(s, path)
      .fold(reader)(f => reader.schema(
        org.apache.spark.sql.graftbridge.Bridge.parquetFooterSchema(s, f)))
      .parquet(path)

  /** `path` itself when it is a file, else the first file under it that
    * Spark's recursive listing reads: no name on its path below `path`
    * starts with '_' or '.'.
    */
  private def firstDataFile(s: SparkSession, path: String)
      : Option[FileStatus] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(d: HPath): Option[FileStatus] = {
      val (dirs, files) = fs.listStatus(d).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
        .partition(_.isDirectory)
      files.headOption.orElse(
        dirs.iterator.flatMap(f => walk(f.getPath)).nextOption())
    }
    scala.util.Try(fs.getFileStatus(root)).toOption
      .flatMap(st => if (st.isDirectory) walk(root) else Some(st))
  }
}
