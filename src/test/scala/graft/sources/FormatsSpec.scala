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

  test("table loads take the footer schema: no Spark job, the inferred schema") {
    import org.apache.spark.sql.graftbridge.ListenerBus
    import org.apache.spark.sql.types.{StructType, TimestampNTZType}
    for (name <- Seq("documents", "lineitem", "nation", "embeddings", "events")) {
      var loaded: org.apache.spark.sql.DataFrame = null
      val jobs = ListenerBus.jobsDuring(spark.sparkContext) {
        loaded = Tables.table(spark, sf, name)
      }
      assert(jobs == 0, s"loading $name started $jobs job(s)")
      assert(loaded.schema == spark.read.parquet(s"$sf/$name.parquet").schema,
        name)
    }
    // the events stream declares the footer schema the same way
    var stream: org.apache.spark.sql.DataFrame = null
    val streamJobs = ListenerBus.jobsDuring(spark.sparkContext) {
      stream = graft.streaming.Streams.eventsStream(spark, sf)
    }
    assert(streamJobs == 0, s"building the events stream started " +
      s"$streamJobs job(s)")
    assert(stream.isStreaming &&
      stream.columns.toSeq == Tables.events(spark, sf).columns.toSeq)
    // the events loader still branches on the observed ts type
    val raw = spark.read.parquet(s"$sf/events.parquet")
    assert(Tables.events(spark, sf).schema == StructType(raw.schema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f)))
  }
}
