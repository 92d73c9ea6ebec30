package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet tables (TESTDATA.md).
  *
  * All reads are plain parquet reads so Catalyst predicate pushdown and
  * column pruning reach the scan; the schema comes from the file's
  * footer on the driver ([[graft.sources.Formats.readParquet]]), so a
  * load starts no schema-inference job. At 100 TB these tables would be
  * partitioned (e.g. lineitem by ship month); the loaders stay the single
  * choke point where that layout knowledge would live.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Formats.readParquet(spark, spark.read, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events.parquet has shipped with two physical `ts` layouts across
    * driver data generations: TIMESTAMP(NANOS) — which Spark's parquet
    * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong` is on
    * (set in GraftSession / Verify / Bench), surfacing the column as a
    * nanosecond BIGINT we truncate to micros — and native TIMESTAMP(MICROS),
    * which needs only the NTZ cast. Branching on the OBSERVED schema keeps
    * the loader correct against either generation; both paths yield the
    * same microsecond TIMESTAMP_NTZ (UTC wall clock) the oracles see via
    * `epoch_ns(ts)//1000` (an identity on micro-precision values).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** DuckDB CTE mirroring the events loader (nanos -> micros truncation;
    * identity when the file is already micro-precision).
    * Prefixed to every oracle that touches events.
    */
  val evCte: String =
    "ev AS (SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, " +
      "user_id, event_type, value, props FROM events)"
}
