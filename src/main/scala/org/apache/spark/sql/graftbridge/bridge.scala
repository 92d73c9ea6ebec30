package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal bridge to private[sql] surfaces —
  * the supported way for third-party Catalyst expressions to expose a
  * Column API in Spark 4 (the alternative, FunctionRegistry + expr(),
  * is also wired up in graft.functions.VectorOps.register), plus
  * InternalRow-level RDD round-trips for iterative algorithms that fuse
  * side computations (accumulators) into a materialization pass, a
  * listener-bus drain for tools that read listener state, and parquet
  * schema inference's footer conversion without its Spark job.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The query's InternalRow RDD (rows may be reused — copy before caching). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Block until every event posted so far has reached every listener
    * (the listener bus is package-private).
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Rebind `df`'s (analyzed) logical plan to another session — the
    * mechanism behind conf-scoped child sessions (`newSession()` shares
    * the SparkContext and SharedState, so data/cache are common while
    * SQL confs like AQE isolate per session).
    */
  def withSession(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** The Spark schema of one parquet file, read from its footer on the
    * driver with the conversion parquet schema inference applies: the
    * Spark schema the writer stored in the footer metadata wins, else
    * the parquet schema goes through a converter built from the
    * session's confs exactly as inference builds it. Inference runs a
    * Spark job to read footers; this reads one footer and starts none.
    */
  def parquetFooterSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter)
  }
}
