package graft.relational

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit contract for the distributed global rank / cumsum operators:
  * exact equality with the single-task window they replace, including
  * the negative-value case (partition totals must be true sums — a
  * max of the running cum only works for non-negative values).
  */
class RankingSpec extends AnyFunSuite {
  lazy val spark = graft.SharedSpark.spark
  import spark.implicits._

  test("globalRank matches row_number over a total order") {
    val df = (1 to 1000).map(i => (i.toLong, (i * 2654435761L) % 997))
      .toDF("id", "key")
    val got = Ranking.globalRank(df, "rnk", col("key"), col("id"))
      .select("id", "rnk").as[(Long, Long)].collect().toMap
    val want = df.orderBy(col("key"), col("id")).select("id")
      .as[Long].collect().zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got == want)
    graft.CacheScope.flush(spark)
  }

  test("globalCumSum handles negative values (true partition sums)") {
    // alternating signs: max of the running cum within a partition is
    // NOT the partition total, so this catches a max-based offset
    val df = (1 to 500).map(i => (i.toLong, if (i % 2 == 0) i.toLong else -i.toLong))
      .toDF("id", "v")
    val got = Ranking.globalCumSum(df, "v", "cum", col("id"))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    var acc = 0L
    val want = (1 to 500).map { i =>
      acc += (if (i % 2 == 0) i.toLong else -i.toLong); i.toLong -> acc
    }.toMap
    assert(got == want)
    graft.CacheScope.flush(spark)
  }

  test("globalRank's id layout: the record counter restarts in every " +
      "range partition, counts sum to rows, ranks survive a recompute") {
    val df = (1 to 1000).map(i => (i.toLong, (i * 2654435761L) % 997))
      .toDF("id", "key")
    val parted = df.repartitionByRange(4, col("key"), col("id"))
      .sortWithinPartitions(col("key"), col("id"))
    val mask = (1L << 33) - 1
    val recs = parted.select(spark_partition_id().as("pid"),
        monotonically_increasing_id().bitwiseAND(lit(mask)).as("rec"))
      .as[(Int, Long)].collect().groupBy(_._1)
    assert(recs.size > 1, "the frame must span several partitions")
    recs.foreach { case (pid, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (0L until rs.length.toLong),
        s"partition $pid: the record counter does not restart at 0")
    }
    val counts = parted.groupBy(spark_partition_id())
      .agg(count(lit(1))).as[(Int, Long)].collect()
    assert(counts.map(_._2).sum == parted.count())
    val ranked = Ranking.globalRank(df, "rnk", col("key"), col("id"))
    def ranks() = ranked.select("id", "rnk").as[(Long, Long)].collect().toMap
    val first = ranks()
    graft.CacheScope.flush(spark, blocking = true)
    assert(ranks() == first, "ranks changed after unpersist + recompute")
    graft.CacheScope.flush(spark)
  }
}
