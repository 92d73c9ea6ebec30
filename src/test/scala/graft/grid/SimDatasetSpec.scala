package graft.grid

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class SimDatasetSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  def mkVar(label: String, nt: Int, nz: Int, nx: Int, scale: Double): GridVar = {
    val df = (for (it <- 0 until nt; iz <- 0 until nz; ix <- 0 until nx)
      yield (it, iz, ix, it.toDouble, iz * 0.5, ix * 0.5, scale * (iz + ix)))
      .toDF("it", "iz", "ix", "t", "z", "x", "value")
    GridVar(label,
      (0 until nt).map(_.toDouble).toArray,
      Seq(("iz", (0 until nz).map(_ * 0.5).toArray),
        ("ix", (0 until nx).map(_ * 0.5).toArray)),
      df)
  }

  test("bounds takes the union (most-inclusive) across variables") {
    // a spans t 0..2, z 0..1.5; b spans t 0..1, z 0..3.5
    val ds = SimDataset(Map.empty, Map(
      "a" -> mkVar("a", 3, 4, 4, 1.0),
      "b" -> mkVar("b", 2, 8, 4, 2.0)))
    val b = ds.bounds
    assert(b(0) == (0.0, 2.0)) // time: union
    assert(b(1) == (0.0, 3.5)) // z: union (docstring semantics, not the
                               // np.minimum bug at dataset.py:178-179)
  }

  test("ndslice filters data and axes consistently, returns new dataset") {
    val ds = SimDataset(Map.empty, Map("a" -> mkVar("a", 3, 4, 4, 1.0)))
    val sliced = ds.ndslice(timelims = Some((1.0, 2.0)), zooms = Map("z" -> (0.5, 1.0)))
    val v = sliced.variables("a")
    assert(v.timeAxis.toSeq == Seq(1.0, 2.0))
    assert(v.spaceAxes.head._2.toSeq == Seq(0.5, 1.0))
    assert(v.df.count() == 2 * 2 * 4)
    // original untouched (pure API)
    assert(ds.variables("a").df.count() == 3 * 4 * 4)
  }

  test("ndslice applies per-variable when meshes and timeseries differ") {
    // the reference stores per-var axes when a variable's grid differs
    // from the default (vpicdataset.py:218-228; TODO at dataset.py:102);
    // a shared slice must filter each variable against ITS OWN axes
    val ds = SimDataset(Map.empty, Map(
      "a" -> mkVar("a", 3, 4, 4, 1.0),   // t 0..2, z 0..1.5
      "b" -> mkVar("b", 2, 8, 4, 2.0)))  // t 0..1, z 0..3.5
    val sliced = ds.ndslice(timelims = Some((1.0, 2.0)),
      zooms = Map("z" -> (0.5, 2.0)))
    val va = sliced.variables("a"); val vb = sliced.variables("b")
    assert(va.timeAxis.toSeq == Seq(1.0, 2.0))
    assert(vb.timeAxis.toSeq == Seq(1.0)) // b has no t=2 step
    assert(va.spaceAxes.head._2.toSeq == Seq(0.5, 1.0, 1.5))
    assert(vb.spaceAxes.head._2.toSeq == Seq(0.5, 1.0, 1.5, 2.0))
    assert(va.df.count() == 2L * 3 * 4)
    assert(vb.df.count() == 1L * 4 * 4)
  }

  test("export/load round-trips params, axes, and data") {
    val dir = graft.TempArtifacts.dir("graft_ds")
    val ds = SimDataset(Map("d_per_de" -> "2", "note" -> "a\"b"),
      Map("a" -> mkVar("a", 2, 3, 3, 1.0)))
    ds.export(dir)
    val back = SimDataset.load(spark, dir)
    assert(back.params == ds.params)
    val v = back.variables("a")
    assert(v.timeAxis.toSeq == Seq(0.0, 1.0))
    assert(v.spaceAxes.map(_._1) == Seq("iz", "ix"))
    assert(v.df.count() == 18)
    val sums = v.df.agg(org.apache.spark.sql.functions.sum("value")).as[Double].head()
    val orig = ds.variables("a").df.agg(org.apache.spark.sql.functions.sum("value")).as[Double].head()
    assert(sums == orig)
  }
}
