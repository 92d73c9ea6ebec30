package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test for the HDF5 subset codec: random dataset trees —
  * random group nesting and widths (incl. past one SNOD and past one
  * B-tree node), ranks, dims, chunk grids that do and do not divide
  * the dims, deflate and fletcher32 on/off, f32/f64 and FIXED-POINT datatypes, both
  * byte orders, non-default FILL VALUES, and SPARSE (lazily-
  * allocated) chunk grids — must round-trip write → index →
  * readDoubles EXACTLY (f32 compared after the same widening the
  * reader performs; sparse extents compared against the fill).
  * Fixture tests pin specific structures (golden bytes, multi-level
  * trees); this spec sweeps the combinatorial space where an
  * off-by-one in chunk-grid arithmetic, heap padding, SNOD splitting,
  * edge-chunk overhang, or sparse-overlay bookkeeping would hide.
  */
class Hdf5PropertiesSpec extends AnyFunSuite {
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(431L + i)))

  private def tmp(): String =
    java.nio.file.Paths.get(graft.TempArtifacts.dir("graft_h5prop"), "t.h5").toString

  /** One generated dataset shape. `sparseMod > 0` omits every chunk
    * whose linear chunk-grid index is divisible by it (deterministic,
    * so the expected read is computable); `fixed` is the class-0
    * (size, signed) datatype; `fill` the stamped fill value.
    */
  private final case class DsShape(dims: Array[Long],
      chunkDims: Option[Array[Long]], gzip: Boolean, f32: Boolean,
      shuffle: Boolean, fixed: Option[(Int, Boolean)], fill: Double,
      sparseMod: Int, fletcher: Boolean, compact: Boolean)

  private val genDataset: Gen[DsShape] = for {
    rank <- Gen.choose(1, 4)
    dims <- Gen.listOfN(rank, Gen.choose(1L, 9L)).map(_.toArray)
    chunked <- Gen.oneOf(true, true, false) // bias: the real-dump shape
    chunkDims <-
      if (!chunked) Gen.const(None)
      else Gen.sequence[List[Long], Long](
        dims.toList.map(d => Gen.choose(1L, d))).map(l => Some(l.toArray))
    gzip <- if (chunked) Gen.oneOf(true, false) else Gen.const(false)
    shuffle <- if (chunked) Gen.oneOf(true, false) else Gen.const(false)
    // datatype: f64 / f32 / fixed-point of each width & signedness
    dtype <- Gen.frequency(
      (3, Gen.const((false, Option.empty[(Int, Boolean)]))),
      (2, Gen.const((true, Option.empty[(Int, Boolean)]))),
      (2, for {
        sz <- Gen.oneOf(1, 2, 4, 8)
        signed <- Gen.oneOf(true, false)
      } yield (false, Some((sz, signed)))))
    fill <- dtype._2 match {
      case Some((1, false)) => Gen.choose(0, 200).map(_.toDouble)
      case Some((1, true)) => Gen.choose(-100, 100).map(_.toDouble)
      case Some((_, false)) => Gen.choose(0, 9000).map(_.toDouble)
      case Some(_) => Gen.choose(-9000, 9000).map(_.toDouble)
      case None => Gen.frequency((1, Gen.const(0.0)),
        (1, Gen.choose(-100.0, 100.0).map(v => v.toFloat.toDouble)))
    }
    sparseMod <-
      if (chunked) Gen.frequency((2, Gen.const(0)), (1, Gen.oneOf(1, 2, 3)))
      else Gen.const(0)
    fletcher <-
      if (chunked) Gen.frequency((2, Gen.const(false)), (1, Gen.const(true)))
      else Gen.const(false)
    // tiny non-chunked datasets sometimes go COMPACT (inline bytes)
    compact <-
      if (chunked) Gen.const(false)
      else Gen.frequency((2, Gen.const(false)), (1, Gen.const(true)))
  } yield DsShape(dims, chunkDims, gzip, dtype._1, shuffle, dtype._2,
    fill, sparseMod, fletcher, compact)

  private val genTree: Gen[(Seq[(String, DsShape)], Boolean)] = for {
    // widths past one SNOD (8) and occasionally past one B-tree leaf's
    // SNOD capacity in a nested group
    n <- Gen.frequency((4, Gen.choose(1, 6)), (2, Gen.choose(9, 20)),
      (1, Gen.const(70)))
    depth <- Gen.choose(0, 2)
    specs <- Gen.listOfN(n, genDataset)
    le <- Gen.oneOf(true, false)
  } yield (specs.zipWithIndex.map { case (s, i) =>
    val seg = (0 until depth).map(d => s"g${i % (d + 2)}").mkString("/")
    val path = if (seg.isEmpty) f"d$i%03d" else s"$seg/d$i%03d"
    (path, s)
  }, le)

  /** The chunk-grid coordinates' linear index of the chunk holding
    * element coordinates `coord` — the sparse predicate's key.
    */
  private def chunkLinear(coord: Array[Long], dims: Array[Long],
      cd: Array[Long]): Long = {
    val grid = dims.zip(cd).map { case (n, c) => (n + c - 1) / c }
    var lin = 0L
    var d = 0
    while (d < dims.length) {
      lin = lin * grid(d) + coord(d) / cd(d)
      d += 1
    }
    lin
  }

  private def offsetLinear(off: Array[Long], dims: Array[Long],
      cd: Array[Long]): Long = chunkLinear(off, dims, cd)

  test("random trees round-trip exactly: index finds every path with " +
    "its dims/layout/datatype/fill, full reads and interior slices " +
    "reproduce the values, sparse extents read the fill, edge chunks " +
    "never leak") {
    val rnd = new scala.util.Random(77)
    samples(genTree, 40).zipWithIndex.foreach { case ((specs, le), ti) =>
      // paths must be unique and never both group and dataset — the
      // generator guarantees it by construction (d-names are leaves)
      val writes = specs.map { case (path, s) =>
        val data = Array.fill(s.dims.product.toInt)(s.fixed match {
          case Some((1, false)) => rnd.nextInt(256).toDouble
          case Some((1, true)) => (rnd.nextInt(256) - 128).toDouble
          case Some((2, false)) => rnd.nextInt(65536).toDouble
          case Some((2, true)) => (rnd.nextInt(65536) - 32768).toDouble
          case Some((_, signed)) =>
            (rnd.nextLong() % 1000000007L
              + (if (signed) 0L else 1000000007L)).toDouble
          case None => rnd.nextDouble() * 2000 - 1000
        })
        val sparse =
          if (s.sparseMod == 0) None
          else Some((off: Array[Long]) =>
            offsetLinear(off, s.dims, s.chunkDims.get) % s.sparseMod == 0)
        Hdf5.H5Write(path, s.dims, data, s.chunkDims, s.gzip, s.f32,
          shuffle = s.shuffle, fixed = s.fixed, fillValue = s.fill,
          sparse = sparse, fletcher = s.fletcher, compact = s.compact)
      }
      val p = tmp()
      Hdf5.writeSpecs(p, writes, le)
      val idx = Hdf5.index(p)
      assert(idx.map(_.path) == writes.map(_.path).sorted,
        s"tree $ti: path set drifted")
      writes.zip(specs).foreach { case (w, (_, s)) =>
        val d = idx.find(_.path == w.path).get
        assert(d.dims.toSeq == w.dims.toSeq, s"tree $ti ${w.path}")
        val wantElem = s.fixed.map(_._1).getOrElse(if (s.f32) 4 else 8)
        assert(d.littleEndian == le && d.elemSize == wantElem,
          s"tree $ti ${w.path} datatype")
        assert(d.fixedPoint == s.fixed.isDefined, s"tree $ti ${w.path}")
        s.fixed.foreach { case (_, signed) =>
          assert(d.signed == signed, s"tree $ti ${w.path} signedness") }
        assert(d.fill == narrowed(s, s.fill), s"tree $ti ${w.path} fill")
        (d.layout, w.chunkDims) match {
          case (Hdf5.H5Compact(bytes), None) =>
            assert(s.compact, s"tree $ti ${w.path}: unexpected compact")
            assert(bytes.length == w.data.length * wantElem)
          case (Hdf5.H5Contiguous(_), None) =>
            assert(!s.compact, s"tree $ti ${w.path}: compact lost")
          case (Hdf5.H5Chunked(cd, gz, sh, chunks, fl), Some(wcd)) =>
            assert(cd.toSeq == wcd.toSeq && gz == w.gzip
              && sh == w.shuffle && fl == s.fletcher)
            val grid = w.dims.zip(wcd)
              .map { case (n, c) => (n + c - 1) / c }.product
            val omitted =
              if (s.sparseMod == 0) 0L
              else (0L until grid).count(_ % s.sparseMod == 0).toLong
            assert(chunks.length == grid - omitted, s"tree $ti ${w.path}")
          case (got, want) => fail(s"tree $ti ${w.path}: $got vs $want")
        }
        // expected values: narrowing per datatype, fill where the
        // chunk was omitted
        val n = w.data.length
        val strides = new Array[Long](w.dims.length)
        strides(w.dims.length - 1) = 1
        (w.dims.length - 2 to 0 by -1).foreach(k =>
          strides(k) = strides(k + 1) * w.dims(k + 1))
        val want = (0 until n).map { i =>
          val coord = Array.tabulate(w.dims.length)(k =>
            (i / strides(k)) % w.dims(k))
          val omitted = s.sparseMod > 0 && w.chunkDims.exists(cd =>
            chunkLinear(coord, w.dims, cd) % s.sparseMod == 0)
          narrowed(s, if (omitted) s.fill else w.data(i))
        }
        assert(Hdf5.readDoubles(p, d, 0, n).toSeq == want,
          s"tree $ti ${w.path} full read")
        if (n > 2) {
          val off = 1 + (w.path.length % (n - 2))
          val len = 1 + (n - off - 1).min(5)
          assert(Hdf5.readDoubles(p, d, off, len).toSeq ==
            want.slice(off, off + len), s"tree $ti ${w.path} slice")
        }
      }
    }
  }

  /** The value the reader must return for a written double: f32
    * narrows through a float; fixed-point and f64 are exact.
    */
  private def narrowed(s: DsShape, v: Double): Double =
    if (s.f32) v.toFloat.toDouble else v
}
