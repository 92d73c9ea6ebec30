package graft.relational

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField}

/** Distributed exact global ranking. A bare `row_number() OVER (ORDER
  * BY ...)` funnels every row through ONE task (Spark warns "No
  * Partition Defined" and the stage serializes); this computes the
  * identical rank in parallel: range-partition on the total sort key
  * (partition ids ascend with the key by RangePartitioning's
  * contract), sort within partitions, count rows per partition with a
  * narrow pass, collect the partition-count-sized (metadata scale)
  * counts to the driver, prefix-sum them there, and broadcast the
  * offsets into the numbering pass. The only data-sized costs are the
  * range exchange and the per-partition sort — what a global sort
  * already pays; the offsets side does zero joins and zero shuffles.
  * (A `Window.partitionBy(pid)` would NOT do: range partitioning does
  * not satisfy the window's hash-clustering requirement, so Catalyst
  * would re-shuffle the whole dataset a second time. A counts-table
  * self-join would do, but is O(P²) intermediate rows for no benefit
  * when P rows fit on the driver by definition.)
  */
object Ranking {

  /** Exclusive prefix sums of per-partition totals, indexed by
    * partition id 0..max id (an absent id contributes 0). Input order
    * is irrelevant; P entries, driver side.
    */
  private def exclusivePrefix(totals: Array[(Int, Long)]): Array[Long] = {
    val byPid = totals.toMap
    val n = if (totals.isEmpty) 0 else totals.map(_._1).max + 1
    (0 until n).scanLeft(0L)((acc, p) => acc + byPid.getOrElse(p, 0L))
      .init.toArray
  }

  /** Append exact global rank `out` (1-based long) ordering by
    * `sortCols`, which must form a TOTAL order (append a unique
    * tiebreak column) — ties across a partition boundary would
    * otherwise make ranks partitioning-dependent.
    *
    * Runs one eager metadata-scale job at construction time (the
    * per-partition counts); the cached range exchange it materializes
    * is reused by the numbering pass.
    */
  def globalRank(df: DataFrame, out: String, sortCols: Column*): DataFrame = {
    import org.apache.spark.sql.functions._
    // retained: partition ids must be consistent between the counts
    // pass and the numbering pass, and both read the one range
    // exchange + sort
    val parted = graft.CacheScope.retain(
      df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*))
    // per-partition counts as a SQL aggregate, not an
    // rdd.mapPartitionsWithIndex pass (which deserializes every row to
    // an external Row just to count it), and the rank as a pure
    // projection, not a createDataFrame round trip: both passes stay
    // columnar/codegen. monotonically_increasing_id on the cached
    // sorted partitioning is documented as
    // (partitionId << 33) + record-number-within-partition, so
    // (id & (2^33 - 1)) is the within-partition running counter, and
    // the partition's global offset rides in via a tiny literal array
    // indexed by spark_partition_id. No window, no join, no hash
    // exchange in the returned plan.
    val counts = parted
      .groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // monotonically_increasing_id keeps the within-partition record
    // number in the LOW 33 bits — a partition at or past 2^33 rows
    // would wrap into the partition-id bits and silently corrupt
    // ranks, so fail loudly (the counts are already on the driver;
    // the remedy is more range partitions)
    counts.foreach { case (pid, n) =>
      require(n < (1L << 33),
        s"globalRank: range partition $pid holds $n rows (>= 2^33) - " +
          "monotonically_increasing_id's record counter would wrap; " +
          "raise spark.sql.shuffle.partitions for this sort") }
    val offsets = exclusivePrefix(counts)
    val mask = (1L << 33) - 1
    parted.withColumn(out,
      element_at(typedLit(offsets.toSeq), spark_partition_id() + lit(1))
        + monotonically_increasing_id().bitwiseAND(lit(mask)) + lit(1L))
  }

  /** Append the INCLUSIVE global running sum of long column `valueCol`
    * in `sortCols` order — same machinery as [[globalRank]] (range
    * exchange + in-partition sort + narrow accumulation + broadcast
    * driver-side prefix offsets), same cost model: one data-sized
    * exchange. Partition totals are true sums, so negative values are
    * handled correctly. The exclusive prefix (e.g. a byte
    * start-offset) is `out - valueCol`.
    */
  def globalCumSum(df: DataFrame, valueCol: String, out: String,
      sortCols: Column*): DataFrame = {
    val spark = df.sparkSession
    val parted = graft.CacheScope.retain(
      df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*))
    val vIdx = parted.schema.fieldIndex(valueCol)
    val totals = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(vIdx)); Iterator((pid, s))
    }.collect()
    val bc = spark.sparkContext.broadcast(exclusivePrefix(totals))
    val schema = parted.schema.add(StructField(out, LongType, nullable = false))
    spark.createDataFrame(
      parted.rdd.mapPartitionsWithIndex { (pid, it) =>
        var acc = bc.value(pid)
        it.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
      }, schema)
  }
}
