package graft.sources

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 VPIC-style ingest: mock pyvpic tree -> long-format grid rows,
  * with column pruning, var/time partition pruning, and the SimDataset
  * reconstruction pipeline (vpicdataset.py:172-231 semantics).
  */
class VPICSourceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private lazy val dir: String = {
    val d = graft.TempArtifacts.dir("graft_vpic")
    VPICSource.writeMock2d(d,
      time = Array(0.0, 0.5, 1.0, 1.5, 2.0),
      zAxis = Array(0.0, 0.25, 0.5),
      xAxis = Array(0.0, 0.25, 0.5, 0.75),
      vars = Map(
        "fields/ex" -> ((it, iz, ix) => it * 100.0 + iz * 10.0 + ix),
        "fields/bz" -> ((it, iz, ix) => it - iz + 2.0 * ix),
        "hydro/ne" -> ((it, iz, ix) => it * iz * ix.toDouble)))
    d
  }

  private def scan = spark.read.format("graft-vpic")
    .option("path", dir).option("chunkSteps", "2").load()

  test("reads the full tree: every (var, it, iz, ix) cell with its value") {
    val df = scan
    assert(df.count() === 3L * 5 * 3 * 4)
    val r = df.filter(col("var") === "ex" && col("it") === 3
      && col("iz") === 2 && col("ix") === 1).head()
    assert(r.getAs[Double]("value") === 3 * 100.0 + 2 * 10.0 + 1)
  }

  test("column pruning reaches the reader (scan schema = selected cols)") {
    val pruned = scan.select("var", "value")
    val batchScans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(batchScans.nonEmpty)
    assert(batchScans.head.scan.readSchema().fieldNames.toSeq == Seq("var", "value"))
    // values survive pruning (index columns never materialized)
    assert(pruned.filter(col("var") === "ne").count() === 5L * 3 * 4)
  }

  test("var equality and it range prune files and chunks at planning") {
    // full scan: 3 vars x ceil(5/2)=3 chunks = 9 partitions
    assert(scan.rdd.getNumPartitions === 9)
    // var filter drops two files; it <= 1 keeps only the first chunk
    val f = scan.filter(col("var") === "bz" && col("it") <= 1)
    assert(f.rdd.getNumPartitions === 1)
    assert(f.count() === 2L * 3 * 4)
  }

  test("get_vars substring projection: first match wins per pattern") {
    val sub = spark.read.format("graft-vpic")
      .option("path", dir).option("vars", "fields,ne").load()
    // "fields" matches fields/bz first (sorted paths), "ne" matches hydro/ne
    assert(sub.select("var").distinct().collect().map(_.getString(0)).sorted
      === Array("bz", "ne"))
  }

  test("loadDataset rebuilds a SimDataset with axes, coords, and params") {
    val pf = java.nio.file.Paths.get(graft.TempArtifacts.dir("vpic_info"), "info.txt")
    java.nio.file.Files.writeString(pf, "dt = 0.5 # step\nnppc 64\n")
    val ds = VPICSource.loadDataset(spark, dir, paramFile = Some(pf.toString))
    assert(ds.variables.keySet === Set("ex", "bz", "ne"))
    assert(ds.params === Map("dt" -> "0.5", "nppc" -> "64"))
    val ex = ds.variables("ex")
    assert(ex.timeAxis.toSeq === Seq(0.0, 0.5, 1.0, 1.5, 2.0))
    assert(ex.spaceAxes.map(_._1) === Seq("iz", "ix"))
    // coordinate columns materialized from the axes
    val row = ex.df.filter(col("it") === 2 && col("iz") === 1 && col("ix") === 3).head()
    assert(row.getAs[Double]("t") === 1.0)
    assert(row.getAs[Double]("z") === 0.25)
    assert(row.getAs[Double]("x") === 0.75)
    assert(row.getAs[Double]("value") === 2 * 100.0 + 10.0 + 3)
    // bounds flow through the standard dataset surface
    assert(ds.bounds.head === (0.0, 2.0))
  }

  test("'all' in head position selects everything, like get_vars[0] != 'all'") {
    // reference checks only the FIRST element (vpicdataset.py:206):
    // ["all", "ne"] means every dataset, not a substring search for "all"
    val sub = spark.read.format("graft-vpic")
      .option("path", dir).option("vars", "all,ne").load()
    assert(sub.select("var").distinct().count() === 3)
  }

  test("duplicate leaf names across dataset paths are rejected, not shadowed") {
    val d2 = graft.TempArtifacts.dir("graft_vpic2")
    VPICSource.writeMock2d(d2, Array(0.0), Array(0.0, 1.0), Array(0.0, 1.0),
      Map("fields/ex" -> ((it, iz, ix) => 1.0),
          "hydro2/ex" -> ((it, iz, ix) => 2.0)))
    val e = intercept[IllegalArgumentException] { VPICSource.listVars(d2) }
    assert(e.getMessage.contains("ex"))
  }

  test("truncated data.bin fails the read with EOFException, not a hang") {
    val d3 = graft.TempArtifacts.dir("graft_vpic3")
    VPICSource.writeMock2d(d3, Array(0.0, 1.0, 2.0), Array(0.0, 1.0), Array(0.0, 1.0),
      Map("f/v" -> ((it, iz, ix) => it.toDouble)))
    val bin = java.nio.file.Paths.get(d3, "f/v", VPICSource.DataFile)
    val full = java.nio.file.Files.readAllBytes(bin)
    java.nio.file.Files.write(bin, full.take(20)) // header + half a double
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-vpic").option("path", d3).load()
        .filter(col("it") === 2).count() // chunk seek past the truncation
    }
    assert(e.getCause.toString.contains("EOFException")
      || e.getMessage.contains("EOFException"))
  }

  test("singleton mesh dims are squeezed from the axis list") {
    val d1 = graft.TempArtifacts.dir("graft_vpic1")
    VPICSource.writeMock2d(d1, Array(0.0, 1.0), Array(0.0), Array(0.0, 0.5),
      Map("f/v" -> ((it, iz, ix) => it + ix.toDouble)))
    val ds = VPICSource.loadDataset(spark, d1)
    assert(ds.variables("v").spaceAxes.map(_._1) === Seq("ix"))
  }

  test("non-degenerate 3-D (z,y,x) tree ingests with a full iy axis") {
    val d4 = graft.TempArtifacts.dir("graft_vpic4")
    def f(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it * 1000.0 + iz * 100.0 + iy * 10.0 + ix
    VPICSource.writeMock(d4,
      time = Array(0.0, 1.0, 2.0),
      zAxis = Array(0.0, 0.5),
      yAxis = Array(0.0, 0.25, 0.5),
      xAxis = Array(0.0, 1.0, 2.0, 3.0),
      vars = Map("fields/bz" -> (f _)))
    val df = spark.read.format("graft-vpic").option("path", d4).load()
    assert(df.count() === 3L * 2 * 3 * 4)
    val r = df.filter(col("it") === 2 && col("iz") === 1
      && col("iy") === 2 && col("ix") === 3).head()
    assert(r.getAs[Double]("value") === f(2, 1, 2, 3))
    // loadDataset keeps all three space axes and joins y coordinates
    val ds = VPICSource.loadDataset(spark, d4)
    val v = ds.variables("bz")
    assert(v.spaceAxes.map(_._1) === Seq("iz", "iy", "ix"))
    val row = v.df.filter(col("it") === 1 && col("iz") === 0
      && col("iy") === 1 && col("ix") === 2).head()
    assert(row.getAs[Double]("y") === 0.25)
    assert(row.getAs[Double]("value") === f(1, 0, 1, 2))
    // ndslice is dimension-generic: inclusive time window + y zoom,
    // with it/iy rebased into the filtered axes (statmeshvar.py:100,109)
    val sliced = ds.ndslice(timelims = Some((1.0, 2.0)),
      zooms = Map("y" -> (0.5, 0.25))) // reversed bounds auto-sort
    val sv = sliced.variables("bz")
    assert(sv.timeAxis.toSeq === Seq(1.0, 2.0))
    assert(sv.spaceAxes.map(_._1) === Seq("iz", "iy", "ix"))
    assert(sv.spaceAxes(1)._2.toSeq === Seq(0.25, 0.5))
    assert(sv.df.count() === 2L * 2 * 2 * 4)
    val r0 = sv.df.filter(col("it") === 0 && col("iz") === 0
      && col("iy") === 0 && col("ix") === 3).head()
    assert(r0.getAs[Double]("value") === f(1, 0, 1, 3)) // rebased indices
  }

  test("interleaved layout reads identically to the per-variable tree") {
    // the reference's interleave=True mode (vpicdataset.py:171-183):
    // one file, all variables' values adjacent per cell. Write the SAME
    // generators both ways and require row-for-row equality.
    def fe(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it * 1000.0 + iz * 100.0 + iy * 10.0 + ix
    def fb(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it - iz + 2.0 * iy - 3.0 * ix
    val time = Array(0.0, 1.0, 2.0)
    val z = Array(0.0, 0.5); val y = Array(0.0, 0.25, 0.5)
    val x = Array(0.0, 1.0, 2.0, 3.0)
    val dPlain = graft.TempArtifacts.dir("vpic_p")
    VPICSource.writeMock(dPlain, time, z, y, x,
      Map("fields/ex" -> (fe _), "fields/bz" -> (fb _)))
    val dInter = graft.TempArtifacts.dir("vpic_i")
    VPICSource.writeMockInterleaved(dInter, time, z, y, x,
      Seq("fields/ex" -> (fe _), "fields/bz" -> (fb _)))
    def rows(d: String) = spark.read.format("graft-vpic")
      .option("path", d).option("chunkSteps", "2").load()
      .orderBy("var", "it", "iz", "iy", "ix").collect().toSeq
    assert(rows(dInter) == rows(dPlain))
    assert(rows(dInter).length == 2 * 3 * 2 * 3 * 4)
    // var + it pruning still plans per-(band, chunk) partitions
    val one = spark.read.format("graft-vpic")
      .option("path", dInter).option("chunkSteps", "2").load()
      .filter(col("var") === "bz" && col("it") <= 1)
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === 2L * 2 * 3 * 4)
    // and loadDataset reconstructs the same SimDataset surface
    val ds = VPICSource.loadDataset(spark, dInter)
    assert(ds.variables.keySet === Set("ex", "bz"))
    val r = ds.variables("bz").df.filter(col("it") === 1
      && col("iz") === 1 && col("iy") === 2 && col("ix") === 3).head()
    assert(r.getAs[Double]("value") === fb(1, 1, 2, 3))
  }

  test("REAL HDF5 layout reads identically to the per-variable tree, " +
    "both byte orders; pruning plans per-chunk; loadDataset rebuilds " +
    "axes from the container") {
    def fe(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it * 1000.0 + iz * 100.0 + iy * 10.0 + ix
    def fb(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it - iz + 2.0 * iy - 3.0 * ix
    val time = Array(0.0, 1.0, 2.0)
    val z = Array(0.0, 0.5); val y = Array(0.0, 0.25, 0.5)
    val x = Array(0.0, 1.0, 2.0, 3.0)
    val vars = Map("fields/ex" -> (fe _), "fields/bz" -> (fb _))
    val dPlain = graft.TempArtifacts.dir("vpic_hp")
    VPICSource.writeMock(dPlain, time, z, y, x, vars)
    def rows(d: String) = spark.read.format("graft-vpic")
      .option("path", d).option("chunkSteps", "2").load()
      .orderBy("var", "it", "iz", "iy", "ix").collect().toSeq
    val want = rows(dPlain)
    Seq(false, true).foreach { le =>
      val dH5 = graft.TempArtifacts.dir(s"vpic_h5_$le")
      VPICSource.writeHdf5Tree(dH5, time, z, y, x, vars,
        littleEndian = le)
      // the container is REAL HDF5 bytes
      val head = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dH5, VPICSource.Hdf5File)).take(8)
      assert(Hdf5.isHdf5(head))
      assert(rows(dH5) == want, s"littleEndian=$le")
      // var + it pruning plans only the selected chunks
      val one = spark.read.format("graft-vpic")
        .option("path", dH5).option("chunkSteps", "2").load()
        .filter(col("var") === "bz" && col("it") <= 1)
      assert(one.rdd.getNumPartitions === 1)
      assert(one.count() === 2L * 2 * 3 * 4)
      // SimDataset reconstruction: axes come from grid/ IN the file
      val ds = VPICSource.loadDataset(spark, dH5, Seq("fields/bz"))
      assert(ds.variables.keySet === Set("bz"))
      val v = ds.variables("bz")
      assert(v.timeAxis.toSeq == time.toSeq)
      assert(v.spaceAxes.map(_._1) == Seq("iz", "iy", "ix"))
      val r = v.df.filter(col("it") === 2 && col("iz") === 1
        && col("iy") === 2 && col("ix") === 3).head()
      assert(r.getAs[Double]("value") === fb(2, 1, 2, 3))
      assert(r.getAs[Double]("t") === 2.0)
      assert(r.getAs[Double]("x") === 3.0)
    }
  }

  test("a CHUNKED+gzip HDF5 tree reads through the same DSv2 plans: " +
    "rows match the contiguous layout, partitions are per-chunk and " +
    "time-pruned, f32 variables widen exactly") {
    def fe(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it * 1000.0 + iz * 100.0 + iy * 10.0 + ix
    def fb(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it - iz + 2.0 * iy - 3.0 * ix
    val time = Array(0.0, 1.0, 2.0, 3.0, 4.0) // 5 steps, chunkTime 2
    val z = Array(0.0, 0.5); val y = Array(0.0, 0.25, 0.5)
    val x = Array(0.0, 1.0, 2.0, 3.0)
    val vars = Map("fields/ex" -> (fe _), "fields/bz" -> (fb _))
    val dCont = graft.TempArtifacts.dir("vpic_cc")
    VPICSource.writeHdf5Tree(dCont, time, z, y, x, vars)
    def rows(d: String) = spark.read.format("graft-vpic")
      .option("path", d).load()
      .orderBy("var", "it", "iz", "iy", "ix").collect().toSeq
    val want = rows(dCont)
    Seq(false, true).foreach { le =>
      val dChk = graft.TempArtifacts.dir(s"vpic_ck_$le")
      // one leg plain-deflate, one shuffle+deflate (the h5py default)
      VPICSource.writeHdf5Tree(dChk, time, z, y, x, vars,
        littleEndian = le, chunkTime = Some(2), gzip = true,
        shuffle = le)
      assert(rows(dChk) == want, s"littleEndian=$le")
      // per-chunk partitioning: ceil(5/2) = 3 time chunks per variable
      val all = spark.read.format("graft-vpic").option("path", dChk).load()
      assert(all.rdd.getNumPartitions === 2 * 3)
      // pushed it-range prunes whole chunks (it=4 -> last chunk only)
      val one = all.filter(col("var") === "bz" && col("it") === 4)
      assert(one.rdd.getNumPartitions === 1)
      assert(one.count() === 2L * 3 * 4)
      // axes in the container are themselves chunked; SimDataset
      // reconstruction reads them driver-side through the chunk index
      val ds = VPICSource.loadDataset(spark, dChk, Seq("fields/bz"))
      assert(ds.variables("bz").timeAxis.toSeq == time.toSeq)
    }
    // f32 variables: every value must equal the WIDENED float exactly
    val dF32 = graft.TempArtifacts.dir("vpic_f32")
    VPICSource.writeHdf5Tree(dF32, time, z, y, x,
      Map("fields/w" -> ((it: Int, iz: Int, iy: Int, ix: Int) =>
        fe(it, iz, iy, ix) / 3.0)),
      chunkTime = Some(2), gzip = true, f32 = true)
    val got = spark.read.format("graft-vpic").option("path", dF32).load()
      .orderBy("it", "iz", "iy", "ix")
      .select("it", "iz", "iy", "ix", "value").collect()
    got.foreach { r =>
      val w = fe(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) / 3.0
      assert(r.getDouble(4) === w.toFloat.toDouble)
    }
    assert(got.length === 5 * 2 * 3 * 4)
  }

  test("a pushed it-range on a chunked+gzip tree inflates exactly the " +
    "stored bytes of the chunks it intersects") {
    // the storage chunk is the pruning granularity: it < 10 over 20
    // steps in 5-step chunks intersects the first two chunks of each
    // variable, and must never decompress a neighbor's bytes
    val d = graft.TempArtifacts.dir("vpic_inflate")
    VPICSource.writeHdf5Tree(d, Array.tabulate(20)(_.toDouble),
      Array(0.0, 0.5), Array(0.0, 0.25, 0.5), Array(0.0, 1.0, 2.0, 3.0),
      Map("a/v1" -> ((it: Int, iz: Int, iy: Int, ix: Int) =>
            it + iz + iy + ix.toDouble),
          "b/v2" -> ((it: Int, iz: Int, iy: Int, ix: Int) =>
            it * 2.0 - iz + iy - ix)),
      chunkTime = Some(5), gzip = true)
    def inflated(f: => Unit): Long = {
      Hdf5.decodedStoredBytes.set(0L)
      f
      Hdf5.decodedStoredBytes.get()
    }
    def scan = spark.read.format("graft-vpic").option("path", d).load()
    val full = inflated(scan.select("value").agg(sum("value")).collect(): Unit)
    val pruned = inflated(
      scan.filter(col("it") < 10).agg(sum("value")).collect(): Unit)
    val want = Hdf5.index(java.nio.file.Paths.get(d, VPICSource.Hdf5File)
        .toString).filterNot(_.path.startsWith("grid/")).map { ds =>
      ds.layout match {
        case Hdf5.H5Chunked(cd, _, _, chunks, _) =>
          chunks.filter(c => c.offset(0) < 10 && c.offset(0) + cd(0) > 0)
            .map(_.storedBytes).sum
        case other => fail(s"${ds.path}: expected a chunked layout, got $other")
      }
    }.sum
    assert(want > 0)
    assert(pruned === want)
    assert(pruned < full)
  }

  test("an HDF5 tree missing a grid axis or carrying a non-rank-4 " +
    "variable is rejected with the path named") {
    val d = graft.TempArtifacts.dir("vpic_h5bad")
    Hdf5.write(java.nio.file.Paths.get(d, VPICSource.Hdf5File).toString,
      Seq(("grid/time", Array(2L), Array(0.0, 1.0)),
        ("fields/flat", Array(4L), Array(1.0, 2, 3, 4))))
    val e1 = intercept[IllegalArgumentException](VPICSource.listVars(d))
    assert(e1.getMessage.contains("fields/flat"))
    val d2 = graft.TempArtifacts.dir("vpic_h5bad2")
    Hdf5.write(java.nio.file.Paths.get(d2, VPICSource.Hdf5File).toString,
      Seq(("grid/time", Array(2L), Array(0.0, 1.0)),
        ("f/v", Array(2L, 1L, 1L, 1L), Array(1.0, 2))))
    val e2 = intercept[IllegalArgumentException](
      VPICSource.loadDataset(spark, d2))
    assert(e2.getMessage.contains("grid/z"))
  }

  test("a SPARSE (partially-written) chunked HDF5 tree scans through " +
    "the DSv2 plans: missing chunks read as the fill value via " +
    "IO-free fill partitions, allocated chunks exactly, pruning holds") {
    def fe(it: Int, iz: Int, iy: Int, ix: Int): Double =
      it * 1000.0 + iz * 100.0 + iy * 10.0 + ix
    val time = Array(0.0, 1.0, 2.0, 3.0, 4.0) // chunkTime 2 -> t0 0,2,4
    val z = Array(0.0, 0.5); val y = Array(0.0, 0.25)
    val x = Array(0.0, 1.0, 2.0)
    Seq(false, true).foreach { le =>
      val d = graft.TempArtifacts.dir(s"vpic_sp_$le")
      // the MIDDLE time chunk (t offset 2) was never written — the
      // restart-dump shape; fill value -5
      VPICSource.writeHdf5Tree(d, time, z, y, x,
        Map("fields/ex" -> (fe _)), littleEndian = le,
        chunkTime = Some(2), gzip = true,
        tweak = w => w.copy(fillValue = -5.0,
          sparse = Some(off => off(0) == 2L)))
      val df = spark.read.format("graft-vpic").option("path", d).load()
      // the full grid still comes back: 3 partitions (2 allocated +
      // 1 fill), every cell present
      assert(df.rdd.getNumPartitions === 3, s"littleEndian=$le")
      assert(df.count() === 5L * 2 * 2 * 3)
      val got = df.orderBy("it", "iz", "iy", "ix")
        .select("it", "iz", "iy", "ix", "value").collect()
      got.foreach { r =>
        val (it, iz, iy, ix) =
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        val want = if (it == 2 || it == 3) -5.0 else fe(it, iz, iy, ix)
        assert(r.getDouble(4) === want, s"($it,$iz,$iy,$ix) le=$le")
      }
      // pruning to the unwritten window plans ONLY the fill partition
      val hole = df.filter(col("it") === 3)
      assert(hole.rdd.getNumPartitions === 1)
      assert(hole.select("value").distinct().collect()
        .map(_.getDouble(0)).toSeq == Seq(-5.0))
      // pruning to a written window plans no fill partitions
      val solid = df.filter(col("it") <= 1)
      assert(solid.rdd.getNumPartitions === 1)
      assert(solid.count() === 2L * 2 * 2 * 3)
    }
  }

  test("FIXED-POINT (int) HDF5 variables widen to doubles through " +
    "the scan — the VPIC auxiliary-dataset shape") {
    def fi(it: Int, iz: Int, iy: Int, ix: Int): Double =
      (it * 7 + iz * 5 - iy * 3 + ix - 4).toDouble // negatives included
    val time = Array(0.0, 1.0, 2.0)
    val z = Array(0.0, 0.5); val y = Array(0.0)
    val x = Array(0.0, 1.0)
    Seq(None, Some(2)).foreach { chunk => // contiguous AND chunked
      val d = graft.TempArtifacts.dir(s"vpic_int_${chunk.isDefined}")
      VPICSource.writeHdf5Tree(d, time, z, y, x,
        Map("aux/ranks" -> (fi _)), littleEndian = true,
        chunkTime = chunk, gzip = chunk.isDefined,
        tweak = _.copy(fixed = Some((4, true))))
      val got = spark.read.format("graft-vpic").option("path", d).load()
        .orderBy("it", "iz", "iy", "ix")
        .select("it", "iz", "iy", "ix", "value").collect()
      assert(got.length === 3 * 2 * 1 * 2)
      got.foreach { r =>
        assert(r.getDouble(4) ===
          fi(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)),
          s"chunked=${chunk.isDefined}")
      }
    }
  }

  test("COMPACT axis datasets load driver-side; a COMPACT rank-4 " +
    "variable is rejected by the scan with the layout named") {
    val d = graft.TempArtifacts.dir("vpic_cmp")
    Hdf5.writeSpecs(
      java.nio.file.Paths.get(d, VPICSource.Hdf5File).toString, Seq(
        Hdf5.H5Write("grid/time", Array(2L), Array(0.0, 1.0),
          compact = true),
        Hdf5.H5Write("grid/z", Array(2L), Array(0.0, 0.5),
          compact = true),
        Hdf5.H5Write("grid/y", Array(1L), Array(0.0), compact = true),
        Hdf5.H5Write("grid/x", Array(2L), Array(0.0, 0.25),
          compact = true),
        Hdf5.H5Write("f/v", Array(2L, 2L, 1L, 2L),
          Array.tabulate(8)(_ * 1.0))))
    // compact axes: loadDataset reads them driver-side like any other
    val ds = VPICSource.loadDataset(spark, d)
    assert(ds.variables("v").timeAxis.toSeq == Seq(0.0, 1.0))
    val r = ds.variables("v").df
      .filter(col("it") === 1 && col("iz") === 1 && col("ix") === 0)
      .head()
    assert(r.getAs[Double]("value") === 6.0)
    assert(r.getAs[Double]("z") === 0.5)
    // a compact VARIABLE: planning rejects loudly, never a mis-scan
    val d2 = graft.TempArtifacts.dir("vpic_cmp2")
    Hdf5.writeSpecs(
      java.nio.file.Paths.get(d2, VPICSource.Hdf5File).toString, Seq(
        Hdf5.H5Write("grid/time", Array(2L), Array(0.0, 1.0)),
        Hdf5.H5Write("grid/z", Array(2L), Array(0.0, 1.0)),
        Hdf5.H5Write("grid/y", Array(1L), Array(0.0)),
        Hdf5.H5Write("grid/x", Array(2L), Array(0.0, 1.0)),
        Hdf5.H5Write("f/v", Array(2L, 2L, 1L, 2L),
          Array.tabulate(8)(_ * 1.0), compact = true)))
    val e = intercept[Exception](spark.read.format("graft-vpic")
      .option("path", d2).load().count())
    assert(e.getMessage.contains("COMPACT")
      || (e.getCause != null
        && e.getCause.getMessage.contains("COMPACT")), e.toString)
  }

  test("truncated interleaved.bin fails with the named EOF diagnostic") {
    val d = graft.TempArtifacts.dir("vpic_it")
    VPICSource.writeMockInterleaved(d, Array(0.0, 1.0), Array(0.0, 1.0),
      Array(0.0), Array(0.0, 1.0),
      Seq("f/a" -> ((it, _, _, _) => it.toDouble),
        "f/b" -> ((_, _, _, ix) => ix.toDouble)))
    val bin = java.nio.file.Paths.get(d, VPICSource.InterleavedFile)
    val full = java.nio.file.Files.readAllBytes(bin)
    java.nio.file.Files.write(bin, full.take(full.length - 8))
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-vpic").option("path", d).load().count()
    }
    assert(e.getCause.toString.contains("EOFException")
      || e.getMessage.contains("EOFException"))
  }
}
