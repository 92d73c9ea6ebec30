package graft.sources

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** End-to-end property test for the WHOLE DSv2 ingest surface: random
  * grids through every on-disk layout — per-variable raw tree,
  * band-interleaved file, and real-HDF5 trees (contiguous f64,
  * chunked, chunked+deflate, chunked+deflate+shuffle, f32) — with a
  * random `chunkSteps` and a random pushed `it` bound must all return
  * EXACTLY the generator's cells. Fixture tests pin each layout's
  * plumbing; this spec sweeps the combinatorics where a chunk-grid
  * edge case, an interleave stride, an endianness/elem-size mix, or
  * a pruning off-by-one would hide.
  */
class VPICPropertiesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(947L + i)))

  private final case class Cfg(nt: Int, nz: Int, ny: Int, nx: Int,
      nvars: Int, layout: String, le: Boolean, chunkTime: Int,
      gzip: Boolean, shuffle: Boolean, f32: Boolean, chunkSteps: Int,
      itLo: Int, itHi: Int, sparseMod: Int, intVar: Boolean,
      fletcher: Boolean)

  private val genCfg: Gen[Cfg] = for {
    nt <- Gen.choose(1, 7)
    nz <- Gen.choose(1, 5)
    ny <- Gen.choose(1, 4)
    nx <- Gen.choose(1, 6)
    nvars <- Gen.choose(1, 3)
    layout <- Gen.oneOf("raw", "interleaved", "h5cont", "h5chunk")
    le <- Gen.oneOf(true, false)
    chunkTime <- Gen.choose(1, 7)
    gzip <- Gen.oneOf(true, false)
    shuffle <- Gen.oneOf(true, false)
    f32 <- Gen.oneOf(true, false)
    chunkSteps <- Gen.choose(1, 8)
    itLo <- Gen.choose(0, math.max(0, nt - 1))
    itHi <- Gen.choose(itLo, nt - 1)
    // sparse (lazily-allocated) time chunks: every sparseMod-th chunk
    // omitted (1 = fully sparse); class-0 int variables on the HDF5
    // layouts — both the partially-written-dump and aux-dataset shapes
    sparseMod <- Gen.frequency((3, Gen.const(0)), (1, Gen.oneOf(1, 2)))
    intVar <- Gen.frequency((2, Gen.const(false)), (1, Gen.const(true)))
    fletcher <- Gen.frequency((3, Gen.const(false)), (1, Gen.const(true)))
  } yield Cfg(nt, nz, ny, nx, nvars, layout, le, chunkTime, gzip,
    shuffle, f32, chunkSteps, itLo, itHi, sparseMod, intVar, fletcher)

  /** The generator formula — exactly representable in binary32 for
    * every grid in range, so the f32 legs compare EXACTLY too.
    */
  private def value(v: Int, it: Int, iz: Int, iy: Int, ix: Int): Double =
    v * 8192.0 + it * 1024.0 + iz * 128.0 + iy * 16.0 + ix

  test("every layout x compression x datatype x pruning combination " +
    "returns exactly the generated cells") {
    samples(genCfg, 36).zipWithIndex.foreach { case (c, ti) =>
      val d = graft.TempArtifacts.dir(s"vpic_prop$ti")
      val time = Array.tabulate(c.nt)(_.toDouble)
      val z = Array.tabulate(c.nz)(_ * 0.5)
      val y = Array.tabulate(c.ny)(_ * 0.25)
      val x = Array.tabulate(c.nx)(_ * 0.125)
      val varNames = (0 until c.nvars).map(v => s"fields/v$v")
      def f(v: Int) = (it: Int, iz: Int, iy: Int, ix: Int) =>
        value(v, it, iz, iy, ix)
      val vars = varNames.zipWithIndex
        .map { case (n, v) => n -> f(v) }.toMap
      // the HDF5 legs' variable tweak: class-0 i32 datatype and/or a
      // sparse chunk grid (fill -3.0, f32-exact and integral)
      val fillVal = -3.0
      val ctEff = math.min(c.chunkTime, c.nt)
      def tweak(w: Hdf5.H5Write): Hdf5.H5Write = {
        var t = w
        if (c.intVar) t = t.copy(fixed = Some((4, true)), f32 = false)
        if (c.fletcher && t.chunkDims.isDefined)
          t = t.copy(fletcher = true)
        if (c.sparseMod > 0 && t.chunkDims.isDefined)
          t = t.copy(fillValue = fillVal, sparse = Some(off =>
            (off(0) / ctEff) % c.sparseMod == 0))
        t
      }
      c.layout match {
        case "raw" => VPICSource.writeMock(d, time, z, y, x, vars)
        case "interleaved" => VPICSource.writeMockInterleaved(
          d, time, z, y, x, varNames.zipWithIndex
            .map { case (n, v) => n -> f(v) })
        case "h5cont" => VPICSource.writeHdf5Tree(d, time, z, y, x,
          vars, littleEndian = c.le, f32 = false, tweak = tweak)
        case "h5chunk" => VPICSource.writeHdf5Tree(d, time, z, y, x,
          vars, littleEndian = c.le, chunkTime = Some(c.chunkTime),
          gzip = c.gzip, shuffle = c.shuffle, f32 = c.f32,
          tweak = tweak)
      }
      // which (it) rows of the HDF5 chunked layout read as fill
      val sparseHere = c.layout == "h5chunk" && c.sparseMod > 0
      def omittedAt(it: Int): Boolean =
        sparseHere && (it / ctEff) % c.sparseMod == 0
      // TWO-SIDED pushed time window: both the lower and the upper
      // bound prune chunks at planning time (an off-by-one that keeps
      // or drops a boundary chunk fails the exact-set compare below)
      val scan = spark.read.format("graft-vpic").option("path", d)
        .option("chunkSteps", c.chunkSteps.toString).load()
        .filter(col("it") >= c.itLo && col("it") <= c.itHi)
      val got = scan
        .select("var", "it", "iz", "iy", "ix", "value")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getDouble(5)))
        .toSet
      val want = (for {
        (n, v) <- varNames.zipWithIndex
        it <- c.itLo to c.itHi
        iz <- 0 until c.nz
        iy <- 0 until c.ny
        ix <- 0 until c.nx
      } yield (n.split('/').last, it, iz, iy, ix,
        if (omittedAt(it)) fillVal else value(v, it, iz, iy, ix))).toSet
      assert(got == want,
        s"cfg $ti $c: ${got.size} rows vs ${want.size} expected; " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
  }
}
