package graft.grid

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class LineSliceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** 16x16 grid, z = iz*0.5, x = ix*0.5, value = 2z + 3x (linear). */
  def linVar: GridVar = {
    val df = (for (it <- 0 until 2; iz <- 0 until 16; ix <- 0 until 16)
      yield (it, iz, ix, it.toDouble, iz * 0.5, ix * 0.5,
        2.0 * (iz * 0.5) + 3.0 * (ix * 0.5)))
      .toDF("it", "iz", "ix", "t", "z", "x", "value")
    GridVar("v", Array(0.0, 1.0),
      Seq(("iz", (0 until 16).map(_ * 0.5).toArray),
        ("ix", (0 until 16).map(_ * 0.5).toArray)), df)
  }

  test("uniform() accepts even spacing, rejects ragged spacing") {
    assert(LineSlice.uniform(Array(0, 0.5, 1.0, 1.5)))
    assert(!LineSlice.uniform(Array(0, 0.5, 1.2, 1.5)))
  }

  test("linear interpolation along a line is exact for a linear field") {
    val v = linVar
    val out = LineSlice.slice(v, Seq(Array(0.3, 0.2), Array(6.0, 7.0)))
    val rows = out.df.select("it", "s", "value")
      .as[(Int, Double, Double)].collect()
    assert(rows.nonEmpty)
    val p0 = Array(0.3, 0.2)
    val u = {
      val vec = Array(6.0 - 0.3, 7.0 - 0.2)
      val n = math.sqrt(vec.map(x => x * x).sum); vec.map(_ / n)
    }
    rows.foreach { case (_, s, value) =>
      val z = p0(0) + s * u(0); val x = p0(1) + s * u(1)
      assert(math.abs(value - (2 * z + 3 * x)) < 1e-9, s"at s=$s")
    }
    // dx/3 clipping: every sample position strictly inside the mesh box
    // (s itself may be negative — the line is parametrized, not the segment)
    rows.foreach { case (_, s, _) =>
      val z = p0(0) + s * u(0); val x = p0(1) + s * u(1)
      assert(z > 0 && z < 7.5 && x > 0 && x < 7.5, s"sample at s=$s outside box")
    }
    assert(rows.length == 2 * out.spaceAxes.head._2.length)
  }

  test("nearest mode snaps to grid values; override selects it per variable") {
    val v = linVar
    val ds = SimDataset(Map.empty, Map("v" -> v))
      .ndslice(setPts = Some(Seq(Array(0.3, 0.2), Array(6.0, 7.0))),
        interp = "linear", interpOverrides = Map("v" -> "nearest"))
    val out = ds.variables("v")
    val gridVals = (for (iz <- 0 until 16; ix <- 0 until 16)
      yield 2.0 * (iz * 0.5) + 3.0 * (ix * 0.5)).toSet
    out.df.select("value").as[Double].collect()
      .foreach(x => assert(gridVals.exists(g => math.abs(g - x) < 1e-12),
        s"$x is not a grid value"))
    // params recorded (dataset.py:240-243)
    assert(ds.params.contains("unit_vec") && ds.params.contains("zero_pt"))
  }

  test("ndslice with zoom trimming the low end + setPts interpolates correctly") {
    // Regression: zoom rebases the driver-side axes to position 0 but the
    // DataFrame used to keep original iz/ix, shifting every interpolation
    // corner. Linear field => interpolation must stay exact after the zoom.
    val ds = SimDataset(Map.empty, Map("v" -> linVar))
      .ndslice(
        zooms = Map("z" -> (1.5, 7.5), "x" -> (1.0, 7.5)), // trims 3 / 2 low cells
        setPts = Some(Seq(Array(2.0, 1.5), Array(6.5, 7.0))))
    val out = ds.variables("v")
    val p0 = Array(2.0, 1.5)
    val u = {
      val vec = Array(6.5 - 2.0, 7.0 - 1.5)
      val n = math.sqrt(vec.map(x => x * x).sum); vec.map(_ / n)
    }
    val rows = out.df.select("it", "s", "value")
      .as[(Int, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, s, value) =>
      val z = p0(0) + s * u(0); val x = p0(1) + s * u(1)
      assert(math.abs(value - (2 * z + 3 * x)) < 1e-9,
        s"at s=$s: got $value, want ${2 * z + 3 * x}")
    }
    // every sample has full corner weight: 2 time steps x all samples
    assert(rows.length == 2 * out.spaceAxes.head._2.length)
  }

  test("ndslice timelims rebases it to the filtered time axis") {
    val ds = SimDataset(Map.empty, Map("v" -> linVar))
      .ndslice(timelims = Some((1.0, 1.0)))
    val v = ds.variables("v")
    assert(v.timeAxis.toSeq == Seq(1.0))
    val its = v.df.select("it").distinct().as[Int].collect().toSeq
    assert(its == Seq(0), s"it should be rebased to 0, got $its")
  }

  test("selectVars: substring match, first match wins, case-sensitive") {
    val v = linVar
    val ds = SimDataset(Map.empty,
      Map("bx" -> v.copy(label = "bx"), "by" -> v.copy(label = "by"),
        "ex_field" -> v.copy(label = "ex_field")))
    assert(ds.selectVars(Seq("b")).variables.keySet == Set("bx")) // first match only
    assert(ds.selectVars(Seq("bx", "ex")).variables.keySet == Set("bx", "ex_field"))
    assert(ds.selectVars(Seq("BX")).variables.isEmpty)
  }

  test("paramsFromFile parses key=value lines with comments") {
    val f = java.nio.file.Paths.get(graft.TempArtifacts.dir("params"), "params.txt")
    java.nio.file.Files.writeString(f,
      "# header\nd_per_de = 4\nlx 25.6  # box size\n\nbad_line_without_value\n")
    val p = SimDataset.paramsFromFile(f.toString)
    assert(p == Map("d_per_de" -> "4", "lx" -> "25.6"))
  }
}
