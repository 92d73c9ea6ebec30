package graft.grid

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests (SURVEY §5.3): slice algebra, bounds monotonicity,
  * non-uniform gradient exactness, n-d line slicing.
  */
class GridPropertiesSpec extends AnyFunSuite {
  /** Deterministic property sampling with raw ScalaCheck generators
    * (no scalatestplus bridge in the offline cache). */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private lazy val g = (for (it <- 0 until 4; iz <- 0 until 8; ix <- 0 until 8)
    yield (it, iz, ix, it.toDouble, iz * 0.5, ix * 0.5, (iz * 13 + ix * 7 + it) % 10.0))
    .toDF("it", "iz", "ix", "t", "z", "x", "v").persist()

  test("timeslice composition equals the intersected slice") {
    val lims = Gen.choose(0.0, 3.0)
    for (Seq(a, b, c, d) <- samples(Gen.listOfN(4, lims), 10)) {
      val (lo1, hi1) = (math.min(a, b), math.max(a, b))
      val (lo2, hi2) = (math.min(c, d), math.max(c, d))
      val composed = GridOps.timeslice(
        GridOps.timeslice(g, "t", lo1, hi1), "t", lo2, hi2).count()
      val direct = GridOps.timeslice(g, "t",
        math.max(lo1, lo2), math.min(hi1, hi2)).count()
      assert(composed == direct, s"[$a,$b] then [$c,$d]")
    }
  }

  test("zoom commutes across dimensions") {
    val zx = GridOps.zoom(GridOps.zoom(g, Seq(("z", 0.5, 2.5))), Seq(("x", 1.0, 3.0)))
    val xz = GridOps.zoom(GridOps.zoom(g, Seq(("x", 1.0, 3.0))), Seq(("z", 0.5, 2.5)))
    assert(zx.count() == xz.count())
    assert(zx.agg(sum("v")).head.getDouble(0) == xz.agg(sum("v")).head.getDouble(0))
  }

  test("slicing never widens data-dependent bounds") {
    for (Seq(a, b) <- samples(Gen.listOfN(2, Gen.choose(0.0, 3.5)), 10)) {
      val sliced = GridOps.zoom(g, Seq(("z", a, b)))
      if (sliced.take(1).nonEmpty) {
        val Array(lo, hi) = sliced.agg(min("z"), max("z")).head
          .toSeq.map(_.asInstanceOf[Double]).toArray
        val Array(glo, ghi) = g.agg(min("z"), max("z")).head
          .toSeq.map(_.asInstanceOf[Double]).toArray
        assert(lo >= glo && hi <= ghi)
        assert(lo >= math.min(a, b) && hi <= math.max(a, b))
      }
    }
  }

  test("non-uniform gradient is exact for quadratic fields") {
    // irregular axis, v = z^2 => dv/dz = 2z exactly (formula is
    // quadratic-exact at interior points)
    val zs = Array(0.0, 0.7, 1.1, 2.4, 3.0, 4.9, 5.3, 7.0)
    val df = (for (iz <- zs.indices; ix <- 0 until 3)
      yield (0, iz, ix, zs(iz), zs(iz) * zs(iz)))
      .toDF("it", "iz", "ix", "zc", "v")
    val out = GridOps.gradientNonUniform(df, "v", "iz", "zc", "dvdz")
      .filter(col("iz") > 0 && col("iz") < zs.length - 1) // interior
      .select("zc", "dvdz").as[(Double, Double)].collect()
    out.foreach { case (zc, dv) =>
      assert(math.abs(dv - 2 * zc) < 1e-12, s"at z=$zc got $dv")
    }
  }

  test("gapFill only grows the mask and fixes solid masks") {
    val nz = 8; val nx = 8
    for (seed <- samples(Gen.choose(0L, 1000L), 5)) {
      val rnd = new scala.util.Random(seed)
      val cells = for (iz <- 0 until nz; ix <- 0 until nx)
        yield (0, iz, ix, if (rnd.nextDouble() < 0.3) 1 else 0)
      val df = cells.toDF("it", "iz", "ix", "m")
      val filled = GridOps.gapFill(df, "m", nz, nx, "filled")
      // monotone: every input-1 cell stays 1
      val shrunk = filled.join(df, Seq("it", "iz", "ix"))
        .filter(col("m") === 1 && col("filled") === 0).count()
      assert(shrunk == 0, s"gapFill removed mask cells (seed $seed)")
    }
    // solid masks are fixed points
    for (v <- Seq(0, 1)) {
      val solid = (for (iz <- 0 until nz; ix <- 0 until nx)
        yield (0, iz, ix, v)).toDF("it", "iz", "ix", "m")
      val changed = GridOps.gapFill(solid, "m", nz, nx, "filled")
        .filter(col("filled") =!= v).count()
      assert(changed == 0, s"solid-$v mask not a fixed point")
    }
  }

  test("connected-component labels are invariant to physical row layout") {
    val rnd = new scala.util.Random(7)
    val cells = (for (iz <- 0 until 12; ix <- 0 until 12
      if rnd.nextDouble() < 0.4) yield (0, iz, ix)).toDF("it", "iz", "ix")
    def labels(df: org.apache.spark.sql.DataFrame) =
      Topology.ccTiled(df, 12, 12, Seq("it"), dirs8 = false, tile = 4)
        .select("iz", "ix", "comp").as[(Int, Int, Long)].collect().toSet
    val base = labels(cells)
    val shuffled = labels(cells.repartition(7, col("ix")))
    assert(base == shuffled, "labels changed under repartitioning")
  }

  test("flux function satisfies its defining difference identities") {
    val rnd = new scala.util.Random(11)
    val nz = 6; val nx = 6; val dz = 0.5; val dx = 0.25
    val f = (for (iz <- 0 until nz; ix <- 0 until nx)
      yield (0, iz, ix, rnd.nextDouble() * 10 - 5, rnd.nextDouble() * 10 - 5))
      .toDF("it", "iz", "ix", "b1", "b2")
    val psi = GridOps.fluxfn(f, "b1", "b2", dz, dx)
    // psi(iz, ix) - psi(iz, ix-1) = -b1(iz, ix) * dx  (by construction)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("it", "iz").orderBy("ix")
    val bad = psi.withColumn("dpsi", col("psi") - lag("psi", 1).over(w))
      .filter(col("ix") > 0)
      .filter(abs(col("dpsi") - (-col("b1") * dx)) > 1e-9).count()
    assert(bad == 0, "d(psi)/dx != -b1 somewhere")
    // along ix = 0: psi(iz) - psi(iz-1) = b2(iz)*dz - b1(iz,0)*dx... the
    // z-identity includes the x-cumsum head; check the IC column directly:
    // psi(0, iz, 0) - psi(0, iz-1, 0) = b2(iz, 0)*dz (cumsum IC) since the
    // x-cumsum at ix=0 contributes -b1(iz,0)*dx to BOTH rows' heads.
    val wz = org.apache.spark.sql.expressions.Window
      .partitionBy("it", "ix").orderBy("iz")
    val badZ = psi.filter(col("ix") === 0)
      .withColumn("dpsi", col("psi") - lag("psi", 1).over(wz))
      .withColumn("db1", col("b1") - lag("b1", 1).over(wz))
      .filter(col("iz") > 0)
      .filter(abs(col("dpsi") - (col("b2") * dz - col("db1") * dx)) > 1e-9)
      .count()
    assert(badZ == 0, "d(psi)/dz identity violated at ix=0")
  }

  test("line slice works on a 3-D grid (trilinear, exact for linear fields)") {
    // 8x8x8 grid, v = z + 2y + 3x
    val n = 8
    val df = (for (it <- 0 until 1; iz <- 0 until n; iy <- 0 until n; ix <- 0 until n)
      yield (it, iz, iy, ix, 0.0, iz + 2.0 * iy + 3.0 * ix))
      .toDF("it", "iz", "iy", "ix", "t", "value")
    val axes = Seq(
      ("iz", (0 until n).map(_.toDouble).toArray),
      ("iy", (0 until n).map(_.toDouble).toArray),
      ("ix", (0 until n).map(_.toDouble).toArray))
    val v = GridVar("v", Array(0.0), axes, df)
    val out = LineSlice.slice(v,
      Seq(Array(0.4, 0.3, 0.2), Array(6.1, 5.9, 6.4)))
    val p0 = Array(0.4, 0.3, 0.2)
    val u = {
      val vec = Array(6.1 - 0.4, 5.9 - 0.3, 6.4 - 0.2)
      val nn = math.sqrt(vec.map(x => x * x).sum); vec.map(_ / nn)
    }
    val rows = out.df.select("s", "value").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, value) =>
      val (z, y, x) = (p0(0) + s * u(0), p0(1) + s * u(1), p0(2) + s * u(2))
      assert(math.abs(value - (z + 2 * y + 3 * x)) < 1e-9, s"at s=$s")
    }
  }

  test("n-d smoothing is axis-order independent (separable convolutions commute)") {
    val n = 6
    val vol = (for (iz <- 0 until n; iy <- 0 until n; ix <- 0 until n)
      yield (0, iz, iy, ix, ((iz * 31 + iy * 13 + ix * 17) % 11).toDouble))
      .toDF("it", "iz", "iy", "ix", "v")
    def smooth(order: Seq[String]) =
      GridOps.gaussianSmoothAxes(vol, "v", 1.0, order.map(_ -> n), "sm")
        .select("iz", "iy", "ix", "sm").as[(Int, Int, Int, Double)]
        .collect().map(r => (r._1, r._2, r._3) -> r._4).toMap
    val zyx = smooth(Seq("iz", "iy", "ix"))
    val xyz = smooth(Seq("ix", "iy", "iz"))
    val yzx = smooth(Seq("iy", "iz", "ix"))
    assert(zyx.keySet == xyz.keySet && zyx.keySet == yzx.keySet)
    zyx.foreach { case (k, v) =>
      assert(math.abs(v - xyz(k)) < 1e-9 && math.abs(v - yzx(k)) < 1e-9,
        s"order-dependent smoothing at $k")
    }
  }
}
