package graft.sources

import graft.{SharedSpark, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("partitioned write prunes non-matching partitions at plan time") {
    val docs = Tables.documents(spark, sf)
    val path = graft.TempArtifacts.dir("layout")
    Layout.writePartitioned(docs, path, "source")

    val filtered = Layout.readPartitioned(spark, path)
      .filter(col("source") === "src3")
    val plan = filtered.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("src3"),
      s"partition filter not pushed to directory pruning:\n${plan.take(1500)}")

    // pruning must be lossless
    val expected = docs.filter(col("source") === "src3")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = filtered.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("round trip preserves rows across the partition layout") {
    val docs = Tables.documents(spark, sf)
    val path = graft.TempArtifacts.dir("layout_rt")
    Layout.writePartitioned(docs, path, "lang")
    val back = Layout.readPartitioned(spark, path)
    assert(back.count() == docs.count())
    // partition column survives (moved to directory keys and restored)
    assert(back.columns.toSet == docs.columns.toSet)
  }
}
