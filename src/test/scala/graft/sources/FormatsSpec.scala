package graft.sources

import graft.{SharedSpark, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FormatsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def roundTrip(format: String): Unit = {
    val dir = graft.TempArtifacts.dir(s"graft_$format")
    val src = Tables.nation(spark, sf)
    Formats.export(src, dir, format)
    val back = Formats.load(spark, dir, format, Some(src.schema))
    assert(back.schema == src.schema, s"$format schema drift")
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(a == b, s"$format round-trip changed data")
  }

  test("parquet export/load round-trips exactly")(roundTrip("parquet"))
  test("orc export/load round-trips exactly")(roundTrip("orc"))
  test("csv export/load round-trips exactly with explicit schema")(roundTrip("csv"))
  test("json export/load round-trips exactly with explicit schema")(roundTrip("json"))
}
