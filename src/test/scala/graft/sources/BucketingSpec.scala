package graft.sources

import graft.{SharedSpark, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB claim behind bucketing, asserted on the physical plan: a
  * join of two tables bucketed on the join key runs WITHOUT a shuffle
  * exchange, and its result matches the plain join.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("join of co-bucketed tables is shuffle-free and correct") {
    val dir = graft.TempArtifacts.dir("graft_buckets")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_b", s"$dir/li", "okey", 8)
    Bucketing.writeBucketed(ord, "ord_b", s"$dir/ord", "okey", 8)

    // disable broadcast so the join would otherwise shuffle both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readBucketed(spark, "li_b")
        .join(Bucketing.readBucketed(spark, "ord_b"), "okey")
      val n = joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")

      val expected = li.join(ord, "okey").count()
      assert(n == expected, s"bucketed join rows $n != plain join $expected")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
