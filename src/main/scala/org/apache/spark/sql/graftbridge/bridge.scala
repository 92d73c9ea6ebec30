package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to private[sql] surfaces —
  * the supported way for third-party Catalyst expressions to expose a
  * Column API in Spark 4 (the alternative, FunctionRegistry + expr(),
  * is also wired up in graft.functions.VectorOps.register), plus
  * InternalRow-level RDD round-trips for iterative algorithms that fuse
  * side computations (accumulators) into a materialization pass, and a
  * listener-bus drain for tools that read listener state.
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
}
