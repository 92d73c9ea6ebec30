package graft.grid

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests on an analytic magnetic-island field:
  * psi(z,x) = sin(k(iz+0.3)) * sin(k(ix+0.3)), k = 2*pi/16, on a 17x17
  * grid. The 0.3 phase keeps the zero lines OFF the grid points (exact
  * zeros on grid lines make segment endpoints colinear to ~1e-17, the
  * degenerate case the reference's ccw also documents as unhandled,
  * vpicdataset.py:28). O centers: (3.7, 3.7) etc; X saddle: (7.7, 7.7).
  * (FIXTURES.md harris-island.)
  */
class TopologySpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val N = 17
  private val k = 2 * math.Pi / 16
  private val ph = 0.3

  def island: DataFrame =
    (for (iz <- 0 until N; ix <- 0 until N) yield {
      val psi = math.sin(k * (iz + ph)) * math.sin(k * (ix + ph))
      val b1 = k * math.cos(k * (iz + ph)) * math.sin(k * (ix + ph))
      val b2 = k * math.sin(k * (iz + ph)) * math.cos(k * (ix + ph))
      (0, iz, ix, psi, b1, b2)
    }).toDF("it", "iz", "ix", "psi", "b1", "b2")

  test("contour segments of a linear ramp form the expected iso-line") {
    // v = ix: contour at 2.5 crosses every cell column between ix=2 and 3
    val g = (for (iz <- 0 until 4; ix <- 0 until 4)
      yield (0, iz, ix, ix.toDouble)).toDF("it", "iz", "ix", "v")
    val segs = Topology.contourSegments(g, "v", 2.5).collect()
    assert(segs.length == 3) // 3 cell rows
    segs.foreach { r =>
      assert(r.getAs[Double]("x1") == 2.5 && r.getAs[Double]("x2") == 2.5)
    }
  }

  test("segment intersection finds the crossing of two known segments") {
    val a = Seq((0, 0, 0, 0.0, 0.5, 1.0, 0.5)).toDF("it", "iz", "ix", "y1", "x1", "y2", "x2")
    val b = Seq((0, 0, 0, 0.5, 0.0, 0.5, 1.0)).toDF("it", "iz", "ix", "y1", "x1", "y2", "x2")
    val p = Topology.segmentIntersections(a, b).collect()
    assert(p.length == 1)
    assert(math.abs(p(0).getAs[Double]("py") - 0.5) < 1e-12)
    assert(math.abs(p(0).getAs[Double]("px") - 0.5) < 1e-12)
  }

  test("island field: nulls at centers and saddle, X/O classified by Hessian sign") {
    val g = island
    val nulls = Topology.segmentIntersections(
      Topology.contourSegments(g, "b1", 0.0),
      Topology.contourSegments(g, "b2", 0.0))
    // Hessian det of psi via the reference formula on gradients of b1/b2
    val g1 = GridOps.gradient(g, "b1", "iz", 1.0, "db1_dz")
    val g2 = GridOps.gradient(g1, "b1", "ix", 1.0, "db1_dx")
    val g3 = GridOps.gradient(g2, "b2", "iz", 1.0, "db2_dz")
    val g4 = GridOps.gradient(g3, "b2", "ix", 1.0, "db2_dx")
    val hd = g4.withColumn("hd",
      col("db1_dx") * (-col("db2_dz")) - (-col("db2_dx")) * col("db1_dz"))
    val cls = Topology.bilinearSample(hd, "hd",
        nulls.select("it", "py", "px"), "hdi")
      .select(col("py"), col("px"),
        when(col("hdi") > 0, "O").otherwise("X").as("cls"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(2)))

    def near(p: (Double, Double), q: (Double, Double)) =
      math.abs(p._1 - q._1) < 0.6 && math.abs(p._2 - q._2) < 0.6
    for (c <- Seq((3.7, 3.7), (3.7, 11.7), (11.7, 3.7), (11.7, 11.7))) {
      val hits = cls.filter(p => near((p._1, p._2), c))
      assert(hits.nonEmpty, s"no null near O center $c")
      assert(hits.forall(_._3 == "O"), s"center $c not classified O: ${hits.toSeq}")
    }
    val saddle = cls.filter(p => near((p._1, p._2), (7.7, 7.7)))
    assert(saddle.nonEmpty, "no null near saddle (7.7,7.7)")
    assert(saddle.forall(_._3 == "X"), s"saddle not X: ${saddle.toSeq}")
  }

  test("connected components split disjoint blobs and merge adjacent cells") {
    val cells = Seq((0, 0, 0), (0, 0, 1), (0, 1, 1), // L-blob -> one comp
      (0, 5, 5), (0, 5, 6), // second comp
      (1, 0, 0) // different time step -> own comp
    ).toDF("it", "iz", "ix")
    val cc = Topology.connectedComponents(cells, 16)
      .select("it", "iz", "ix", "comp")
      .as[(Int, Int, Int, Long)].collect()
    val comps = cc.groupBy(r => (r._1, r._4)).view.mapValues(_.length).toMap
    assert(comps.size == 3)
    assert(comps.values.toSeq.sorted == Seq(1, 2, 3))
  }

  test("tiled CC matches the iterative scheme across tile boundaries") {
    // Deterministic pseudo-random mask on a 24x24 grid with components
    // that straddle 8-cell tile boundaries (tile=8 forces boundary
    // merging through the contracted graph; 3x3 tiles, several multi-tile
    // blobs). 4- and 8-adjacency both checked.
    val cells = (for (it <- 0 until 2; iz <- 0 until 24; ix <- 0 until 24
      if ((iz * 37 + ix * 61 + it * 13) % 7) < 3)
      yield (it, iz, ix)).toDF("it", "iz", "ix")
    for (dirs8 <- Seq(false, true)) {
      val tiled = (if (dirs8) Topology.connectedComponents8(cells, 24, tile = 8)
        else Topology.connectedComponents(cells, 24, tile = 8))
        .select("it", "iz", "ix", "comp")
        .as[(Int, Int, Int, Long)].collect().toSet
      val iter = Topology.connectedComponentsIterative(cells, 24, dirs8)
        .select("it", "iz", "ix", "comp")
        .as[(Int, Int, Int, Long)].collect().toSet
      assert(tiled == iter, s"dirs8=$dirs8: tiled and iterative CC differ")
    }
  }

  test("static single-tile CC (lazy, checkpoint-free) matches the default solve") {
    // same mask as the boundary test, solved with the default tile=512
    // (one tile -> accumulator fast path, eager checkpoint) vs the
    // staticSingleTile hint (lazy plan, no accumulator, no checkpoint):
    // labels must be identical, and the lazy result must survive TWO
    // independent materializations (no checkpoint to hide a
    // non-deterministic re-run)
    val cells = (for (it <- 0 until 2; iz <- 0 until 24; ix <- 0 until 24
      if ((iz * 37 + ix * 61 + it * 13) % 7) < 3)
      yield (it, iz, ix)).toDF("it", "iz", "ix")
    for (dirs8 <- Seq(false, true)) {
      def solve(hint: Boolean) =
        (if (dirs8) Topology.connectedComponents8(cells, 24,
          staticSingleTile = hint)
        else Topology.connectedComponents(cells, 24,
          staticSingleTile = hint))
          .select("it", "iz", "ix", "comp")
          .as[(Int, Int, Int, Long)].collect().toSet
      val lazySolve = if (dirs8) Topology.connectedComponents8(cells, 24,
        staticSingleTile = true)
      else Topology.connectedComponents(cells, 24, staticSingleTile = true)
      val a = solve(hint = false)
      val b = solve(hint = true)
      assert(a == b, s"dirs8=$dirs8: static single-tile labels differ")
      val m1 = lazySolve.select("it", "iz", "ix", "comp")
        .as[(Int, Int, Int, Long)].collect().toSet
      val m2 = lazySolve.select("it", "iz", "ix", "comp")
        .as[(Int, Int, Int, Long)].collect().toSet
      assert(m1 == m2 && m1 == a,
        s"dirs8=$dirs8: lazy re-materialization not stable")
    }
  }

  test("static single-tile CC construction starts no Spark job") {
    import org.apache.spark.sql.graftbridge.ListenerBus
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val cells = (for (it <- 0 until 2; iz <- 0 until 24; ix <- 0 until 24
      if ((iz * 37 + ix * 61 + it * 13) % 7) < 3)
      yield (it, iz, ix)).toDF("it", "iz", "ix")
    val jobs = ListenerBus.jobsDuring(spark.sparkContext)(
      Topology.connectedComponents(cells, 24, staticSingleTile = true))
    assert(jobs == 0, s"static single-tile CC started $jobs job(s)")
  }

  test("graphComponents driver fast path matches the distributed loop") {
    // keyed edge list with a LONG chain (forces many loop iterations),
    // a star, a triangle, and an isolated pair across two key groups —
    // graphComponents takes the driver leg at this size; the
    // distributed loop is called directly. Labels must be identical
    val chain = (1L until 40L).map(i => (0, i, i + 1))
    val star = Seq((0, 100L, 101L), (0, 100L, 102L), (0, 100L, 103L))
    val other = Seq((1, 5L, 9L), (1, 9L, 2L), (1, 50L, 60L), (1, 60L, 50L))
    val edges = (chain ++ star ++ other).toDF("k", "s", "t")
    val loop = Topology.graphCCLoop(edges, Seq("k"), maxIter = 1000)
      .as[(Int, Long, Long)].collect().toSet
    val drv = Topology.graphComponents(edges, Seq("k"))
      .as[(Int, Long, Long)].collect().toSet
    graft.CacheScope.flush(spark)
    assert(drv == loop, "driver union-find and distributed loop differ")
    // spot-check semantics: chain collapses to min id 1, key groups stay apart
    assert(drv.contains((0, 40L, 1L)) && drv.contains((0, 103L, 100L))
      && drv.contains((1, 2L, 2L)) && drv.contains((1, 60L, 50L)))
  }

  test("tiled CC on a 256x256 mask matches a driver union-find ground truth") {
    // scale guard: 16 tiles (tile=64), thousands of cross-boundary
    // adjacencies; labels must equal the min-reachable-id ground truth
    val nz = 256; val nx = 256
    val pts = (for (iz <- 0 until nz; ix <- 0 until nx
      if ((iz * 2654435761L + ix * 40503L) % 97) < 40)
      yield (iz, ix)).toArray
    // ground truth: plain union-find over 4-adjacency, min-id labels
    val idx = pts.zipWithIndex.toMap
    val parent = Array.tabulate(pts.length)(identity)
    def find(a: Int): Int = { var r = a; while (parent(r) != r) r = parent(r)
      var c = a; while (parent(c) != c) { val t = parent(c); parent(c) = r; c = t }; r }
    def union(a: Int, b: Int): Unit = { val (x, y) = (find(a), find(b))
      if (x != y) { if (x < y) parent(y) = x else parent(x) = y } }
    pts.zipWithIndex.foreach { case ((iz, ix), i) =>
      Seq((iz - 1, ix), (iz, ix - 1)).foreach(n =>
        idx.get(n).foreach(j => union(i, j))) }
    val minId = scala.collection.mutable.Map.empty[Int, Long]
    pts.zipWithIndex.foreach { case ((iz, ix), i) =>
      val r = find(i); val id = iz.toLong * nx + ix
      minId(r) = math.min(minId.getOrElse(r, Long.MaxValue), id) }
    val expected = pts.zipWithIndex
      .map { case ((iz, ix), i) => (iz, ix) -> minId(find(i)) }.toMap

    val cells = pts.toSeq.map { case (iz, ix) => (0, iz, ix) }
      .toDF("it", "iz", "ix")
    val got = Topology.connectedComponents(cells, nx, tile = 64)
      .select("iz", "ix", "comp").as[(Int, Int, Long)].collect()
      .map { case (iz, ix, c) => (iz, ix) -> c }.toMap
    assert(got.size == expected.size)
    assert(got == expected,
      s"labels differ on ${got.count { case (k, v) => expected(k) != v }} cells")
  }

  test("separatrices: level contour rasterized, interior O-structure found") {
    // psi = cos(k(iz+0.5))*cos(k(ix+0.5)): zero lines at 3.5 / 11.5 in
    // both dims (clean mid-cell crossings). X point at the line crossing
    // (3.5, 11.5); level contour = full zero set -> one interior region
    // rows/cols 4..10 (masked rows/cols 3 and 11; outer regions touch the
    // border and are discarded).
    val g = (for (iz <- 0 until N; ix <- 0 until N) yield {
      val psi = math.cos(k * (iz + 0.5)) * math.cos(k * (ix + 0.5))
      (0, iz, ix, psi)
    }).toDF("it", "iz", "ix", "psi")
    val out = Topology.separatrices(g, "psi", 0, Seq((3.5, 11.5)), N, N, tol = 3.0)
      .collect()
    val sep = out.filter(_.getAs[Int]("sep") == 1)
      .map(r => (r.getAs[Int]("iz"), r.getAs[Int]("ix"))).toSet
    val ost = out.filter(_.getAs[Int]("ostruct") == 1)
      .map(r => (r.getAs[Int]("iz"), r.getAs[Int]("ix"))).toSet
    assert(sep.contains((3, 11)), "X point pixel not in separatrix mask")
    assert(sep.exists(_._1 == 3) && sep.exists(_._1 == 11), "zero lines not rasterized")
    assert(ost.nonEmpty, "no O-structures found")
    assert(ost.forall { case (iz, ix) =>
      iz > 0 && iz < N - 1 && ix > 0 && ix < N - 1 }, "O-structure on border")
    assert(ost.contains((7, 7)), s"central region missing from O-structures: $ost")
  }

  test("currentSheets: isolated spikes become signed sheets at their peaks") {
    val n = 64
    val g = (for (iz <- 0 until n; ix <- 0 until n) yield {
      val v = if (iz == 10 && ix == 10) 100.0
      else if (iz == 50 && ix == 50) -100.0 else 0.0
      (0, iz, ix, v)
    }).toDF("it", "iz", "ix", "jy")
    val cs = Topology.currentSheets(g, "jy", n, n, csLimit = 0.5)
      .filter(col("cs") =!= 0)
      .select("iz", "ix", "cs").as[(Int, Int, Int)].collect().toSet
    assert(cs == Set((10, 10, 1), (50, 50, -1)), s"got $cs")
  }
}
