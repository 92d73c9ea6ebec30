package graft.grid

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Moving-mesh (spacecraft-path) variables — the surface the reference
  * DECLARES but never implements (`DynMeshVar`: constructor raises,
  * /root/reference/src/variables/dynmeshvar.py:26; slice methods are
  * `pass`, dynmeshvar.py:28-35). In long format the feature is free
  * (SURVEY §1.3): coordinates are ordinary columns, so a variable whose
  * measuring point moves over time is just rows whose (z, x) vary with
  * `it` — and the SAME timeslice/zoom operators apply unchanged, since
  * they filter on coordinate columns, not on a static mesh table.
  */
class DynMeshSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  // a probe moving diagonally: at time it, position (z, x) = (it*0.5, it*1.0)
  private lazy val probe = (0 until 20)
    .map(it => (it, it.toDouble, it * 0.5, it * 1.0, math.sin(it * 0.3)))
    .toDF("it", "t", "z", "x", "value")

  test("timeslice applies unchanged to a time-dependent mesh") {
    val sliced = GridOps.timeslice(probe, "t", 3.0, 7.0)
    assert(sliced.select("it").as[Int].collect().sorted.toSeq == Seq(3, 4, 5, 6, 7))
  }

  test("zoom filters by the moving coordinate, not a static grid") {
    // z in [1.0, 2.5] picks times 2..5 because z = it*0.5 moves with time
    val zoomed = GridOps.zoom(probe, Seq(("z", 1.0, 2.5)))
    assert(zoomed.select("it").as[Int].collect().sorted.toSeq == Seq(2, 3, 4, 5))
  }

  test("time and space slices compose on the moving mesh") {
    val out = GridOps.zoom(GridOps.timeslice(probe, "t", 2.0, 10.0),
      Seq(("x", 4.0, 8.0)))
    assert(out.select("it").as[Int].collect().sorted.toSeq == Seq(4, 5, 6, 7, 8))
  }

  // ---- pathSlice: the spacecraft-path spacetime sampler producing a
  // DynVar (reference statmeshvar.py:8-10 TODO / dynmeshvar.py stub).
  // Field value = 2z + 3x + it is affine per timestep, so BILINEAR
  // interpolation reproduces it exactly at ANY probe position — each
  // sample checks the full bracket/weight/join pipeline, not a table of
  // expected constants.

  private val axes: Array[Double] = Array(0.0, 0.5, 1.0, 1.5)
  private lazy val field: GridVar = {
    val df = (for (it <- 0 until 3; iz <- 0 until 4; ix <- 0 until 4)
      yield (it, iz, ix, iz * 0.5, ix * 0.5, 2 * (iz * 0.5) + 3 * (ix * 0.5) + it))
      .toDF("it", "iz", "ix", "z", "x", "value")
    GridVar("b", Array(0.0, 1.0, 2.0), Seq(("iz", axes), ("ix", axes)), df)
  }
  private def expected(it: Int, z: Double, x: Double): Double = 2 * z + 3 * x + it

  test("pathSlice samples the field at the probe's position at its own time") {
    val path = Seq((0, 0.3, 0.85), (1, 1.25, 0.1), (2, 0.6, 1.45))
      .toDF("it", "z", "x")
    val out = LineSlice.pathSlice(field, path).df
      .select("it", "z", "x", "value").as[(Int, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(out.length == 3)
    out.foreach { case (it, z, x, v) =>
      assert(math.abs(v - expected(it, z, x)) < 1e-9,
        s"it=$it z=$z x=$x: got $v want ${expected(it, z, x)}")
    }
  }

  test("pathSlice on-knot positions and edge clamping (extrapolation) are exact") {
    // on-knot: f=0 path; past-the-edge: clamps to the last bracket, and
    // linear extrapolation of an affine field is still exact
    val path = Seq((0, 1.0, 0.5), (1, 1.9, 0.2), (2, 0.4, -0.2))
      .toDF("it", "z", "x")
    val out = LineSlice.pathSlice(field, path).df
      .select("it", "z", "x", "value").as[(Int, Double, Double, Double)]
      .collect()
    out.foreach { case (it, z, x, v) =>
      assert(math.abs(v - expected(it, z, x)) < 1e-9,
        s"it=$it z=$z x=$x: got $v want ${expected(it, z, x)}")
    }
  }

  test("pathSlice nearest mode picks the closest knot's value") {
    val path = Seq((1, 0.6, 1.3)).toDF("it", "z", "x") // nearest knot (0.5, 1.5)
    val out = LineSlice.pathSlice(field, path, "nearest").df
      .select("value").as[Double].collect()
    assert(out.toSeq == Seq(expected(1, 0.5, 1.5)))
  }

  test("pathSlice output is a DynVar the moving-mesh slicers compose over") {
    val path = (0 until 3).map(it => (it, it.toDouble, 0.25 * it, 0.5 * it))
      .toDF("it", "t", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    // timeslice/zoom operate on coordinate COLUMNS, so they apply to the
    // sampled trajectory unchanged — the DynMeshVar contract
    val sliced = GridOps.timeslice(dv.df, "t", 1.0, 2.0)
    assert(sliced.select("it").as[Int].collect().sorted.toSeq == Seq(1, 2))
    val zoomed = GridOps.zoom(dv.df, Seq(("z", 0.2, 0.6)))
    assert(zoomed.select("it").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("pathSlice is dimension-generic: trilinear through a 3-D volume") {
    // 8 corners per sample; affine field keeps the oracle closed-form
    val df3 = (for (it <- 0 until 2; iz <- 0 until 3; iy <- 0 until 3;
        ix <- 0 until 3)
      yield (it, iz, iy, ix,
        2 * (iz * 0.5) + 5 * (iy * 0.5) + 3 * (ix * 0.5) + it))
      .toDF("it", "iz", "iy", "ix", "value")
    val ax3 = Array(0.0, 0.5, 1.0)
    val v3 = GridVar("b", Array(0.0, 1.0),
      Seq(("iz", ax3), ("iy", ax3), ("ix", ax3)), df3)
    val path = Seq((0, 0.3, 0.7, 0.9), (1, 0.8, 0.2, 0.45))
      .toDF("it", "z", "y", "x")
    val out = LineSlice.pathSlice(v3, path).df
      .select("it", "z", "y", "x", "value")
      .as[(Int, Double, Double, Double, Double)].collect()
    assert(out.length == 2)
    out.foreach { case (it, z, y, x, v) =>
      val want = 2 * z + 5 * y + 3 * x + it
      assert(math.abs(v - want) < 1e-9, s"it=$it: got $v want $want")
    }
  }

  test("DynVars are dataset members: add dispatch, ndslice, export/load") {
    val path = (0 until 3).map(it => (it, it.toDouble, 0.25 * it, 0.5 * it))
      .toDF("it", "t", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    // typed add dispatch (the reference's mesh-shape duck-typing,
    // dataset.py:103-108, resolved by overload)
    val ds = SimDataset(Map("who" -> "probe"), Map.empty).addVar(dv)
    assert(ds.dynVars.keySet == Set("b") && ds.variables.isEmpty)
    // ndslice's coordinate filters reach the trajectory (the semantics
    // DynMeshVar declares but stubs)
    val sliced = ds.ndslice(timelims = Some((1.0, 2.0)),
      zooms = Map("z" -> (0.0, 0.3)))
    assert(sliced.dynVars("b").df.select("it").as[Int].collect().toSeq == Seq(1))
    // export/load round-trip carries the moving-point variable
    val dir = graft.TempArtifacts.dir("graft_dyn")
    ds.export(dir)
    val back = SimDataset.load(spark, dir)
    assert(back.dynVars.keySet == Set("b"))
    val a = dv.df.orderBy("it").collect().toSeq
    val b = back.dynVars("b").df.orderBy("it").collect().toSeq
    assert(a == b)
  }

  test("selectVars projects moving-point variables too") {
    val path = Seq((0, 0.5, 0.5)).toDF("it", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    val ds = SimDataset(Map.empty, Map("b1" -> field))
      .addVar(dv.copy(label = "probe_b"))
    assert(ds.selectVars(Seq("probe")).dynVars.keySet == Set("probe_b"))
    assert(ds.selectVars(Seq("probe")).variables.isEmpty)
    assert(ds.selectVars(Seq("b1")).dynVars.isEmpty)
  }

  test("DynVar bounds aggregates the moving mesh (t, then coords)") {
    val path = (0 until 3).map(it => (it, it.toDouble, 0.25 * it, 0.5 * it))
      .toDF("it", "t", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    assert(dv.bounds == Seq((0.0, 2.0), (0.0, 0.5), (0.0, 1.0)))
  }

  test("timeInterp blends the surrounding timesteps (continuous spacetime)") {
    // field affine in t as well (value = 2z + 3x + it with timeAxis =
    // it): a sample at fractional t is exact under trilinear-in-
    // spacetime blending
    // 2.5 > last knot (2.0): the time bracket clamps and EXTRAPOLATES
    // (tf = 1.5), exact on the affine field — the clamp regression the
    // g21 oracle cannot catch (both engines share the formula)
    val path = Seq((0.5, 0.3, 0.85), (1.25, 1.1, 0.4), (1.75, 0.6, 1.2),
        (2.5, 0.9, 0.9))
      .toDF("t", "z", "x")
    val out = LineSlice.pathSlice(field, path, timeInterp = true).df
      .select("t", "z", "x", "value").as[(Double, Double, Double, Double)]
      .collect()
    assert(out.length == 4)
    out.foreach { case (t, z, x, v) =>
      val want = 2 * z + 3 * x + t
      assert(math.abs(v - want) < 1e-9, s"t=$t z=$z x=$x: got $v want $want")
    }
  }

  test("a sample straddling a MISSING timestep drops instead of scaling") {
    // sparse grid (violates the dense invariant): the dt=1 corners find
    // no rows; the weight-sum guard drops the sample rather than
    // emitting (1-tf) * field as if it were the value
    val sparse = field.copy(df = field.df.filter($"it" =!= 2))
    val path = Seq((1.5, 0.5, 0.5)).toDF("t", "z", "x")
    assert(LineSlice.pathSlice(sparse, path, timeInterp = true).df.count() == 0)
  }

  test("timeInterp requires physical t and a real time axis") {
    val pathIt = Seq((1, 0.5, 0.5)).toDF("it", "z", "x")
    intercept[IllegalArgumentException] {
      LineSlice.pathSlice(field, pathIt, timeInterp = true)
    }
    val pathT = Seq((0.5, 0.5, 0.5)).toDF("t", "z", "x")
    intercept[IllegalArgumentException] {
      LineSlice.pathSlice(field.copy(timeAxis = Array(0.0)), pathT,
        timeInterp = true)
    }
  }

  test("duplicate path rows each yield their own (correct) sample") {
    // a stationary probe sampled twice at one timestep: the values must
    // NOT collapse into one doubled group
    val path = Seq((1, 0.6, 0.9), (1, 0.6, 0.9)).toDF("it", "z", "x")
    val out = LineSlice.pathSlice(field, path).df
      .select("value").as[Double].collect()
    assert(out.length == 2)
    out.foreach(v => assert(math.abs(v - expected(1, 0.6, 0.9)) < 1e-9))
  }

  test("temporal out-of-range samples drop; spatial ones extrapolate") {
    val path = Seq((99, 0.5, 0.5), (1, 2.5, 0.5)).toDF("it", "z", "x")
    val out = LineSlice.pathSlice(field, path).df
      .select("it", "z", "value").as[(Int, Double, Double)].collect()
    // it=99 has no grid rows -> no output row; z=2.5 is past the last
    // knot (1.5) -> edge-bracket extrapolation, exact on an affine field
    assert(out.map(_._1).toSeq == Seq(1))
    assert(math.abs(out.head._3 - expected(1, 2.5, 0.5)) < 1e-9)
  }

  test("a path carrying 'value' is refused, not silently ambiguous") {
    val path = Seq((0, 0.5, 0.5, 42.0)).toDF("it", "z", "x", "value")
    intercept[IllegalArgumentException] {
      LineSlice.pathSlice(field, path)
    }
  }

  test("bounds edge cases: dyn-only dataset and empty trajectory") {
    val path = Seq((0, 0.5, 0.5)).toDF("it", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    // metadata bounds of a dyn-only dataset: empty, not empty.reduce crash
    assert(SimDataset(Map.empty, Map.empty).addVar(dv).bounds.isEmpty)
    // empty trajectory: no bounds, not an NPE on null aggregates
    assert(dv.copy(df = dv.df.filter(lit(false))).bounds.isEmpty)
  }

  test("mixed dataset timeslice: DynVar it rebases congruently with " +
      "GridVars; dyn-only stays absolute") {
    val gdf = (for (it <- 0 until 4; iz <- 0 until 2)
      yield (it, iz, it.toDouble, iz * 0.5, iz * 0.5))
      .toDF("it", "iz", "t", "z", "value")
    val gv = GridVar("g", Array(0.0, 1.0, 2.0, 3.0),
      Seq(("iz", Array(0.0, 0.5))), gdf)
    val dv = DynVar("p", (0 until 4)
      .map(it => (it, it.toDouble, 0.1 * it, math.cos(it)))
      .toDF("it", "t", "z", "value"))
    val noT = DynVar("q", (0 until 4).map(it => (it, 0.1 * it, it * 1.0))
      .toDF("it", "z", "value"))
    val sliced = SimDataset(Map.empty, Map("g" -> gv))
      .addVar(dv).addVar(noT).ndslice(timelims = Some((1.0, 3.0)))
    assert(sliced.variables("g").df.select("it").distinct()
      .as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
    // congruent: the dyn rows landed in the same rebased index space,
    // and rebased it=0 is the original it=1 (t = 1.0)
    assert(sliced.dynVars("p").df.select("it")
      .as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
    assert(sliced.dynVars("p").df.filter(col("it") === 0)
      .select("t").as[Double].head() == 1.0)
    // a trajectory with no physical t still slices: the grid's index
    // map IS the timeslice for it
    assert(sliced.dynVars("q").df.select("it")
      .as[Int].collect().sorted.toSeq == Seq(0, 1, 2))
    // dyn-only dataset: no axis to rebase against — absolute indices,
    // physical-t filter only
    val dynOnly = SimDataset(Map.empty, Map.empty).addVar(dv)
      .ndslice(timelims = Some((1.0, 3.0)))
    assert(dynOnly.dynVars("p").df.select("it")
      .as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("export refuses the dyn_ filename collision") {
    val path = Seq((0, 0.5, 0.5)).toDF("it", "z", "x")
    val dv = LineSlice.pathSlice(field, path)
    val clash = SimDataset(Map.empty,
      Map("dyn_b" -> field.copy(label = "dyn_b"))).addVar(dv)
    intercept[IllegalArgumentException] {
      clash.export(graft.TempArtifacts.dir("graft_clash"))
    }
  }

  test("pathSlice rejects unknown interpolation and degenerate axes") {
    val path = Seq((0, 0.5, 0.5)).toDF("it", "z", "x")
    intercept[IllegalArgumentException] {
      LineSlice.pathSlice(field, path, "cubic")
    }
    intercept[IllegalArgumentException] {
      LineSlice.pathSlice(
        field.copy(spaceAxes = Seq(("iz", Array(0.0)), ("ix", axes))), path)
    }
  }
}
