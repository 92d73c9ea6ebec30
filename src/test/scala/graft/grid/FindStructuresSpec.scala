package graft.grid

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline on the analytic island field (FIXTURES.md
  * harris-island): the composed find_structures must recover the known
  * X/O lattice and register all output variables and params.
  */
class FindStructuresSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val N = 33
  private val k = 2 * math.Pi / 16
  private val ph = 0.3

  def islandDs: SimDataset = {
    val rows = for (iz <- 0 until N; ix <- 0 until N) yield {
      val b1 = k * math.cos(k * (iz + ph)) * math.sin(k * (ix + ph))
      val b2 = k * math.sin(k * (iz + ph)) * math.cos(k * (ix + ph))
      val jy = if (iz == 5 && ix == 5) 50.0 else 0.0
      (0, iz, ix, 0.0, iz.toDouble, ix.toDouble, b1, b2, jy)
    }
    val df = rows.toDF("it", "iz", "ix", "t", "z", "x", "b1v", "b2v", "jyv")
    val axes = Seq(("iz", (0 until N).map(_.toDouble).toArray),
      ("ix", (0 until N).map(_.toDouble).toArray))
    def v(label: String, c: String) = GridVar(label, Array(0.0), axes,
      df.select(col("it"), col("iz"), col("ix"), col("t"),
        col(c).as("value")))
    SimDataset(Map.empty,
      Map("b1" -> v("b1", "b1v"), "b2" -> v("b2", "b2v"), "jy" -> v("jy", "jyv")))
  }

  test("find_structures registers outputs and recovers the X/O lattice") {
    val res = FindStructures(islandDs, smoothing = 1.0, deTol = 5.0)
    val ds = res.dataset
    for (v <- Seq("b1_smooth", "b2_smooth", "flux_fn", "fluxfn_hessian_det",
      "separatrices", "o_structures", "current_sheets"))
      assert(ds.variables.contains(v), s"missing output variable $v")
    for (p <- Seq("d_per_de", "x_coords", "o_coords"))
      assert(ds.params.contains(p), s"missing param $p")

    // O centers at (3.7, 3.7) + period-8 lattice shifts; X at (7.7, 7.7)+...
    assert(res.oCoords.nonEmpty && res.xCoords.nonEmpty)
    def nearLattice(p: (Double, Double), base: Double): Boolean = {
      def near1(v: Double) = {
        val m = (v - base) % 8.0
        math.min(math.abs(m), math.abs(8.0 - math.abs(m))) < 1.0
      }
      near1(p._1) && near1(p._2)
    }
    res.oCoords.foreach(p => assert(nearLattice(p, 3.7), s"O point off-lattice: $p"))
    res.xCoords.foreach(p => assert(nearLattice(p, 7.7), s"X point off-lattice: $p"))

    // masks are 0/1 and non-trivial
    val seps = ds.variables("separatrices").df
    assert(seps.filter(col("value") === 1).count() > 0)
    assert(ds.variables("o_structures").df.filter(col("value") === 1).count() > 0)
    // a lone spike on a 33x33 grid cannot clear mean+3*sigma of the
    // max-filtered field (plateau covers ~20% of cells), so the sheet
    // mask is legitimately empty here; detection itself is covered by
    // TopologySpec's 64x64 fixture. Just pin the value domain.
    val cs = ds.variables("current_sheets").df
    val csVals = cs.select("value").distinct().as[Int].collect().toSet
    assert(csVals.subsetOf(Set(-1, 0, 1)))
  }

  test("constant field: no structures, all masks empty (degenerate paths)") {
    // exercises: zero contour segments -> no nulls -> empty xCoords ->
    // separatrices' empty-X-point early return; currentSheets' strict
    // mean±3σ thresholds on a constant filtered field -> empty region
    // masks -> the CC solver's zero-cell (accumulator isZero) fast path.
    val n = 12
    val rows = for (iz <- 0 until n; ix <- 0 until n)
      yield (0, iz, ix, 0.0, 3.0, -2.0, 1.0)
    val df = rows.toDF("it", "iz", "ix", "t", "b1v", "b2v", "jyv")
    val axes = Seq(("iz", (0 until n).map(_.toDouble).toArray),
      ("ix", (0 until n).map(_.toDouble).toArray))
    def v(label: String, c: String) = GridVar(label, Array(0.0), axes,
      df.select(col("it"), col("iz"), col("ix"), col("t"),
        col(c).as("value")))
    val ds = SimDataset(Map.empty,
      Map("b1" -> v("b1", "b1v"), "b2" -> v("b2", "b2v"),
        "jy" -> v("jy", "jyv")))
    val res = FindStructures(ds, smoothing = 1.0, deTol = 5.0)
    assert(res.xCoords.isEmpty && res.oCoords.isEmpty)
    val dsv = res.dataset.variables
    assert(dsv("separatrices").df.filter(col("value") =!= 0).count() == 0)
    assert(dsv("o_structures").df.filter(col("value") =!= 0).count() == 0)
    assert(dsv("current_sheets").df.filter(col("value") =!= 0).count() == 0)
    // masks still cover the full grid (left joins, not inner)
    assert(dsv("separatrices").df.count() == n.toLong * n)
  }

  test("VPIC tree -> loadDataset -> find_structures end-to-end") {
    // the full reference entry-point composition (ingest vpicdataset.py:
    // 142-230, analytics :295-533) through the DSv2 source: write the
    // island field as a mock tree, reload it, run the pipeline.
    val dir = graft.TempArtifacts.dir("vpic_fs")
    graft.sources.VPICSource.writeMock2d(dir,
      time = Array(0.0),
      zAxis = (0 until N).map(_.toDouble).toArray,
      xAxis = (0 until N).map(_.toDouble).toArray,
      vars = Map(
        "fields/b1" -> ((_, iz, ix) =>
          k * math.cos(k * (iz + ph)) * math.sin(k * (ix + ph))),
        "fields/b2" -> ((_, iz, ix) =>
          k * math.sin(k * (iz + ph)) * math.cos(k * (ix + ph))),
        "hydro/jy" -> ((_, iz, ix) => if (iz == 5 && ix == 5) 50.0 else 0.0)))
    val ds = graft.sources.VPICSource.loadDataset(spark, dir)
    val res = FindStructures(ds, smoothing = 1.0, deTol = 5.0)
    assert(res.oCoords.nonEmpty && res.xCoords.nonEmpty)
    assert(res.dataset.variables.contains("separatrices"))
    assert(res.dataset.variables("o_structures").df
      .filter(col("value") === 1).count() > 0)
  }
}
