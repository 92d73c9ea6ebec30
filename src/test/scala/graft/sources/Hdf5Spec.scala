package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The pure-JVM HDF5 subset codec: write -> index -> read round-trips,
  * both byte orders, and LOUD rejection of everything outside the
  * declared subset (the WAV/AVI parser discipline).
  */
class Hdf5Spec extends AnyFunSuite {
  private def tmp(): String =
    java.nio.file.Paths.get(graft.TempArtifacts.dir("graft_h5"), "t.h5").toString

  private def roundTrip(littleEndian: Boolean): Unit = {
    val rnd = new scala.util.Random(if (littleEndian) 51 else 50)
    val p = tmp()
    val dsets = Seq(
      ("grid/time", Array(3L), Array(0.0, 0.5, 1.0)),
      ("fields/ex", Array(2L, 3L, 4L),
        Array.fill(24)(rnd.nextDouble() * 2000 - 1000)),
      ("fields/deep/bz", Array(6L), Array.fill(6)(rnd.nextGaussian())),
      ("ne", Array(1L), Array(42.0)))
    Hdf5.write(p, dsets, littleEndian)
    val idx = Hdf5.index(p)
    assert(idx.map(_.path) ==
      Seq("fields/deep/bz", "fields/ex", "grid/time", "ne"))
    assert(idx.forall(_.littleEndian == littleEndian))
    dsets.foreach { case (path, dims, data) =>
      val d = idx.find(_.path == path).get
      assert(d.dims.toSeq == dims.toSeq)
      // full read AND an offset slice both reproduce the exact doubles
      assert(Hdf5.readDoubles(p, d, 0, d.nElems.toInt).toSeq == data.toSeq)
      if (data.length > 2)
        assert(Hdf5.readDoubles(p, d, 1, data.length - 2).toSeq ==
          data.toSeq.slice(1, data.length - 1))
    }
  }

  test("write/index/read round-trips exact doubles (big-endian f64)") {
    roundTrip(littleEndian = false)
  }

  test("write/index/read round-trips exact doubles (little-endian f64)") {
    roundTrip(littleEndian = true)
  }

  test("groups nest; a path through a dataset or a duplicate path is " +
    "rejected at write time") {
    val p = tmp()
    intercept[IllegalArgumentException](Hdf5.write(p, Seq(
      ("a/b", Array(1L), Array(1.0)),
      ("a/b/c", Array(1L), Array(2.0)))))
    intercept[IllegalArgumentException](Hdf5.write(p, Seq(
      ("a/b", Array(1L), Array(1.0)),
      ("a/b", Array(1L), Array(2.0)))))
  }

  test("WIDE groups round-trip: 20 links span SNODs in one node, 530 " +
    "links force a MULTI-LEVEL group B-tree, values survive exactly") {
    // 20 links: 3 SNODs under a level-0 node (2*K_leaf = 8 per SNOD)
    val p = tmp()
    Hdf5.write(p, (0 until 20).map(i =>
      (f"g/d$i%03d", Array(1L), Array(i * 1.5))))
    val idx = Hdf5.index(p)
    assert(idx.map(_.path) == (0 until 20).map(i => f"g/d$i%03d"))
    idx.zipWithIndex.foreach { case (d, i) =>
      assert(Hdf5.readDoubles(p, d, 0, 1).head == i * 1.5)
    }
    // 530 links: 67 SNODs > 64 node capacity -> a level-1 tree
    val p2 = tmp()
    Hdf5.write(p2, (0 until 530).map(i =>
      (f"w/d$i%04d", Array(1L), Array(i + 0.25))))
    val idx2 = Hdf5.index(p2)
    assert(idx2.length == 530)
    assert(idx2.map(_.path) == (0 until 530).map(i => f"w/d$i%04d"))
    assert(Hdf5.readDoubles(p2, idx2(529), 0, 1).head == 529.25)
    assert(Hdf5.readDoubles(p2, idx2(64), 0, 1).head == 64.25)
  }

  test("a crafted group cycle is rejected loudly, not a stack overflow") {
    import java.nio.{ByteBuffer, ByteOrder}
    val p = tmp()
    Hdf5.write(p, Seq(("g/d", Array(1L), Array(1.0))))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def u64(at: Int): Long =
      ByteBuffer.wrap(b, at, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    def put64(at: Int, v: Long): Unit = {
      val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      bb.putLong(v)
      System.arraycopy(bb.array(), 0, b, at, 8)
    }
    // the superblock's root entry: oh @64, scratch btree @80, heap @88
    val rootOh = u64(64); val rootBt = u64(80); val rootHeap = u64(88)
    // groups are written bottom-up, so the ROOT group's SNOD is the
    // second one; rewire its single entry ("g") back at the root —
    // the group check passes (root's symbol-table message genuinely
    // matches those addresses), so only a cycle guard can catch this
    val snods = (0 until b.length - 4).filter(i =>
      b(i) == 'S' && b(i + 1) == 'N' && b(i + 2) == 'O' && b(i + 3) == 'D')
    assert(snods.length == 2)
    val e = snods(1) + 8 // first symbol entry
    put64(e + 8, rootOh); put64(e + 24, rootBt); put64(e + 32, rootHeap)
    val f = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f), b)
    val ex = intercept[IllegalArgumentException](Hdf5.index(f))
    assert(ex.getMessage.contains("cycle"), ex.getMessage)
  }

  test("malformed or out-of-subset files are rejected loudly") {
    val p = tmp()
    Hdf5.write(p, Seq(("fields/ex", Array(2L, 2L), Array(1.0, 2, 3, 4))))
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def reject(mutate: Array[Byte] => Array[Byte], what: String): Unit = {
      val bad = mutate(good.clone())
      val f = tmp()
      java.nio.file.Files.write(java.nio.file.Paths.get(f), bad)
      val e = intercept[IllegalArgumentException](Hdf5.index(f))
      assert(e.getMessage.contains("HDF5"), s"$what: ${e.getMessage}")
    }
    // not an HDF5 file at all
    reject(b => { b(0) = 'X'; b }, "signature")
    // later superblock version
    reject(b => { b(8) = 2; b }, "superblock version")
    // truncation breaks the recorded end-of-file address
    reject(_.dropRight(1), "truncation")
    // find the one datatype message ((ver<<4)|class = 0x11 followed by
    // our exact bit fields) and flip its class to 2 (time) — class 0
    // fixed-point is IN the subset now, class 2 stays out
    val sigAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < good.length - 4) {
        if (good(i) == 0x11 && (good(i + 1) == 0x21.toByte)
          && good(i + 2) == 63.toByte && good(i + 3) == 0) at = i
        i += 1
      }
      at
    }
    assert(sigAt > 0, "datatype message not found in fixture")
    reject(b => { b(sigAt) = 0x12; b }, "datatype class")
    // flip the layout message's class (contiguous -> chunked): the
    // layout body starts with version 3, class 1; locate via message
    // type 0x0008 header (08 00 size...) then body at +8
    val layAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < good.length - 10) {
        if (good(i) == 8 && good(i + 1) == 0 && good(i + 4) == 0
          && good(i + 8) == 3 && good(i + 9) == 1) at = i + 9
        i += 1
      }
      at
    }
    assert(layAt > 0, "layout message not found in fixture")
    // class 2 without a real chunked body: loudly truncated
    reject(b => { b(layAt) = 2; b }, "layout class garbage-chunked")
    // class 0 (compact) reinterprets the contiguous body: the bogus
    // inline size overruns the message and rejects loudly
    reject(b => { b(layAt) = 0; b }, "layout class garbage-compact")
  }

  // ---------------------------------------------------------------
  // Chunked + deflate + f32 (the layout real h5py/VPIC dumps use)
  // ---------------------------------------------------------------

  private def chunkedRoundTrip(littleEndian: Boolean,
      gzip: Boolean): Unit = {
    val rnd = new scala.util.Random(
      (if (littleEndian) 2 else 0) + (if (gzip) 1 else 0) + 60)
    val p = tmp()
    // dims deliberately NOT multiples of the chunk dims: edge chunks
    // overhang and their fill must never leak into reads
    val d3 = Array.fill(5 * 7 * 4)(rnd.nextDouble() * 100 - 50)
    val d1 = Array.fill(11)(rnd.nextGaussian())
    Hdf5.writeSpecs(p, Seq(
      Hdf5.H5Write("g/a", Array(5L, 7L, 4L), d3,
        chunkDims = Some(Array(2L, 3L, 4L)), gzip = gzip),
      Hdf5.H5Write("b", Array(11L), d1,
        chunkDims = Some(Array(4L)), gzip = gzip)), littleEndian)
    val idx = Hdf5.index(p)
    assert(idx.map(_.path) == Seq("b", "g/a"))
    val a = idx.find(_.path == "g/a").get
    a.layout match {
      case Hdf5.H5Chunked(cd, gz, sh, chunks, _) =>
        assert(cd.toSeq == Seq(2L, 3L, 4L))
        assert(gz == gzip)
        assert(chunks.length == 3 * 3 * 1) // ceil(5/2)*ceil(7/3)*ceil(4/4)
        // random doubles are incompressible — deflated chunk sizes just
        // must be the real stream sizes (the round-trip below proves
        // them); raw chunks are exactly chunkElems * 8
        if (!gzip) assert(chunks.forall(_.storedBytes == 2 * 3 * 4 * 8))
      case other => fail(s"expected chunked layout, got $other")
    }
    // full read and an interior slice both reproduce the exact doubles
    assert(Hdf5.readDoubles(p, a, 0, a.nElems.toInt).toSeq == d3.toSeq)
    assert(Hdf5.readDoubles(p, a, 13, 50).toSeq ==
      d3.toSeq.slice(13, 63))
    val b = idx.find(_.path == "b").get
    assert(Hdf5.readDoubles(p, b, 0, 11).toSeq == d1.toSeq)
    assert(Hdf5.readDoubles(p, b, 3, 5).toSeq == d1.toSeq.slice(3, 8))
  }

  test("chunked round-trip, edge chunks, big-endian, no filter") {
    chunkedRoundTrip(littleEndian = false, gzip = false)
  }
  test("chunked round-trip, edge chunks, little-endian, deflate") {
    chunkedRoundTrip(littleEndian = true, gzip = true)
  }
  test("chunked round-trip, edge chunks, big-endian, deflate") {
    chunkedRoundTrip(littleEndian = false, gzip = true)
  }

  test("SHUFFLE filter: shuffle+deflate round-trips (the h5py " +
    "default combo), shuffle measurably improves float compression, " +
    "and a wrong filter order is rejected") {
    val rnd = new scala.util.Random(90)
    // smooth float data: high-byte planes are near-constant, so the
    // byte transpose is what makes deflate bite
    val data = Array.tabulate(2000)(i => 1000.0 + math.sin(i / 50.0))
    def storedTotal(shuffle: Boolean): Long = {
      val p = tmp()
      Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("s", Array(2000L), data,
        chunkDims = Some(Array(500L)), gzip = true, shuffle = shuffle)))
      val d = Hdf5.index(p).head
      d.layout match {
        case Hdf5.H5Chunked(_, true, sh, chunks, _) =>
          assert(sh == shuffle)
          // exact round-trip through inflate + unshuffle
          assert(Hdf5.readDoubles(p, d, 0, 2000).toSeq == data.toSeq)
          assert(Hdf5.readDoubles(p, d, 700, 100).toSeq ==
            data.toSeq.slice(700, 800))
          chunks.map(_.storedBytes).sum
        case other => fail(s"$other")
      }
    }
    val plain = storedTotal(shuffle = false)
    val shuf = storedTotal(shuffle = true)
    assert(shuf < plain,
      s"shuffle did not improve compression: $shuf vs $plain")
    // shuffle-only (no deflate) round-trips too
    val p2 = tmp()
    val vals = Array.fill(37)(rnd.nextDouble())
    Hdf5.writeSpecs(p2, Seq(Hdf5.H5Write("o", Array(37L), vals,
      chunkDims = Some(Array(16L)), shuffle = true)), littleEndian = true)
    val d2 = Hdf5.index(p2).head
    assert(Hdf5.readDoubles(p2, d2, 0, 37).toSeq == vals.toSeq)
    // deflate-then-shuffle (wrong order) is out of subset: flip the
    // two filter ids in the pipeline message of a shuffle+gzip file
    val p3 = tmp()
    Hdf5.writeSpecs(p3, Seq(Hdf5.H5Write("x", Array(8L),
      Array.fill(8)(1.0), chunkDims = Some(Array(4L)), gzip = true,
      shuffle = true)))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p3))
    // filter message body: ver 1, nf 2, reserved(6), then filter descs
    // (id u16 first) — find "01 02 0000 00000000 0200" = start
    val fAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < b.length - 12) {
        if (b(i) == 1 && b(i + 1) == 2 && b(i + 2) == 0 && b(i + 3) == 0
          && b(i + 4) == 0 && b(i + 8) == 2 && b(i + 9) == 0) at = i
        i += 1
      }
      at
    }
    assert(fAt > 0, "two-filter pipeline message not found")
    val mut = b.clone()
    mut(fAt + 8) = 1 // shuffle slot becomes deflate
    mut(fAt + 8 + 24) = 2 // deflate slot becomes shuffle
    val f = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f), mut)
    val e = intercept[IllegalArgumentException](Hdf5.index(f))
    assert(e.getMessage.contains("filter order"), e.getMessage)
  }

  test("deflate genuinely compresses a compressible chunk") {
    val p = tmp()
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("z", Array(1000L),
      Array.fill(1000)(7.25), chunkDims = Some(Array(500L)),
      gzip = true)))
    val d = Hdf5.index(p).head
    d.layout match {
      case Hdf5.H5Chunked(_, true, _, chunks, _) =>
        assert(chunks.forall(_.storedBytes < 500L * 8 / 10),
          chunks.map(_.storedBytes))
      case other => fail(s"$other")
    }
    assert(Hdf5.readDoubles(p, d, 0, 1000).forall(_ == 7.25))
  }

  test("a >64-chunk dataset round-trips through a MULTI-LEVEL chunk " +
    "B-tree (node capacity is 2*K = 64)") {
    val rnd = new scala.util.Random(70)
    val p = tmp()
    val n = 301 // ceil(301/2) = 151 chunks -> 3 leaves + 1 internal
    val data = Array.fill(n)(rnd.nextDouble())
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("big", Array(n.toLong), data,
      chunkDims = Some(Array(2L)), gzip = true)))
    val d = Hdf5.index(p).head
    d.layout match {
      case Hdf5.H5Chunked(_, _, _, chunks, _) => assert(chunks.length == 151)
      case other => fail(s"expected chunked, got $other")
    }
    assert(Hdf5.readDoubles(p, d, 0, n).toSeq == data.toSeq)
    assert(Hdf5.readDoubles(p, d, 130, 100).toSeq ==
      data.toSeq.slice(130, 230))
  }

  test("f32 datasets round-trip (values widened to doubles), both " +
    "layouts, both endians") {
    val rnd = new scala.util.Random(80)
    Seq(false, true).foreach { le =>
      val p = tmp()
      val raw = Array.fill(24)(rnd.nextDouble() * 2000 - 1000)
      val want = raw.map(v => v.toFloat.toDouble).toSeq
      Hdf5.writeSpecs(p, Seq(
        Hdf5.H5Write("cont", Array(4L, 6L), raw, f32 = true),
        Hdf5.H5Write("chnk", Array(24L), raw,
          chunkDims = Some(Array(5L)), gzip = true, f32 = true)), le)
      val idx = Hdf5.index(p)
      idx.foreach { d =>
        assert(d.elemSize == 4, d.path)
        assert(d.littleEndian == le)
        assert(Hdf5.readDoubles(p, d, 0, 24).toSeq == want, d.path)
      }
      // f32 element size shows in the stored bytes of raw chunks
      val p2 = tmp()
      Hdf5.writeSpecs(p2, Seq(Hdf5.H5Write("c", Array(8L), raw.take(8),
        chunkDims = Some(Array(4L)), f32 = true)), le)
      Hdf5.index(p2).head.layout match {
        case Hdf5.H5Chunked(_, _, _, chunks, _) =>
          assert(chunks.forall(_.storedBytes == 4L * 4))
        case other => fail(s"$other")
      }
    }
  }

  test("chunked/filter misuse is rejected loudly: gzip without " +
    "chunks, non-deflate filter ids, corrupt deflate streams") {
    val p = tmp()
    // write-side contract
    intercept[IllegalArgumentException](Hdf5.writeSpecs(p, Seq(
      Hdf5.H5Write("x", Array(2L), Array(1.0, 2.0), gzip = true))))
    // a real chunked+gzip file to mutate
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("x", Array(6L),
      Array(1.0, 2, 3, 4, 5, 6), chunkDims = Some(Array(3L)),
      gzip = true)))
    val good = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // locate the filter pipeline message body: header (0x0B, 0x00,
    // size, flags...) then body (version 1, one filter, id 1 at +8)
    val fAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < good.length - 18) {
        if (good(i) == 0x0B && good(i + 1) == 0 && good(i + 4) == 0
          && good(i + 8) == 1 && good(i + 9) == 1
          && good(i + 16) == 1 && good(i + 17) == 0) at = i + 16
        i += 1
      }
      at
    }
    assert(fAt > 0, "filter message not found in fixture")
    val f1 = tmp()
    val mut = good.clone(); mut(fAt) = 4 // filter id 4: szip
    java.nio.file.Files.write(java.nio.file.Paths.get(f1), mut)
    val e1 = intercept[IllegalArgumentException](Hdf5.index(f1))
    assert(e1.getMessage.contains("filter id 4"), e1.getMessage)
    // flipping deflate to shuffle leaves its client value (the deflate
    // level, 6) — caught as an element-size disagreement, still loud
    val f1b = tmp()
    val mutB = good.clone(); mutB(fAt) = 2
    java.nio.file.Files.write(java.nio.file.Paths.get(f1b), mutB)
    val e1b = intercept[IllegalArgumentException](Hdf5.index(f1b))
    assert(e1b.getMessage.contains("element size 6"), e1b.getMessage)
    // corrupt a byte inside the first chunk's deflate stream (chunks
    // are written right after the 96-byte superblock); the INDEX still
    // parses (metadata only) but the read must fail loudly
    val f2 = tmp()
    val mut2 = good.clone(); mut2(101) = (mut2(101) ^ 0x5a).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(f2), mut2)
    val d = Hdf5.index(f2).head
    val e2 = intercept[IllegalArgumentException](
      Hdf5.readDoubles(f2, d, 0, 6))
    assert(e2.getMessage.contains("HDF5"), e2.getMessage)
  }

  test("object-header CONTINUATION blocks: a 4-message chunked+gzip " +
    "header spills its filter message into a continuation and still " +
    "round-trips; a crafted continuation cycle is rejected loudly") {
    import java.nio.{ByteBuffer, ByteOrder}
    val p = tmp()
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("c", Array(10L),
      (0 until 10).map(_ * 1.25).toArray,
      chunkDims = Some(Array(4L)), gzip = true)))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // the continuation message (type 0x0010, size 16) must exist
    val contAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < b.length - 8) {
        if (b(i) == 0x10 && b(i + 1) == 0 && b(i + 2) == 16
          && b(i + 3) == 0 && b(i + 4) == 0) at = i
        i += 1
      }
      at
    }
    assert(contAt > 0, "no continuation message in the 4-message header")
    val d = Hdf5.index(p).head
    assert(d.layout.isInstanceOf[Hdf5.H5Chunked]) // filter msg was read
    assert(d.layout.asInstanceOf[Hdf5.H5Chunked].gzip)
    assert(Hdf5.readDoubles(p, d, 0, 10).toSeq ==
      (0 until 10).map(_ * 1.25))
    // craft a cycle: point the continuation back at the first block
    val mut = b.clone()
    // find the object header start: version 1, 5 messages (4 + cont)
    val ohAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < contAt) {
        if (mut(i) == 1 && mut(i + 1) == 0 && mut(i + 2) == 5
          && mut(i + 3) == 0 && mut(i + 4) == 1) at = i
        i += 1
      }
      at
    }
    assert(ohAt > 0, "object header prefix not found")
    val bb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(ohAt + 16L) // the first message block's own address
    System.arraycopy(bb.array(), 0, mut, contAt + 8, 8)
    val f = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f), mut)
    val e = intercept[IllegalArgumentException](Hdf5.index(f))
    assert(e.getMessage.contains("continuation cycle")
      || e.getMessage.contains("HDF5"), e.getMessage)
  }

  test("GOLDEN BYTES (chunked): the chunk B-tree node, its keys, and " +
    "the class-2 layout message sit at spec-computed addresses with " +
    "spec-computed field values") {
    import java.nio.{ByteBuffer, ByteOrder}
    val p = tmp()
    // one rank-1 dataset, dims 5, chunk 2 -> chunks at 0,2,4 (edge
    // chunk overhangs); UNCOMPRESSED so every size is computable
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("c", Array(5L),
      Array(1.0, 2, 3, 4, 5), chunkDims = Some(Array(2L)))))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def u16(at: Int): Int =
      ByteBuffer.wrap(b, at, 2).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
    def u32(at: Int): Long =
      ByteBuffer.wrap(b, at, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong
    def u64(at: Int): Long =
      ByteBuffer.wrap(b, at, 8).order(ByteOrder.LITTLE_ENDIAN).getLong

    // ---- spec-computed layout
    val chunkBytes = 2 * 8 // chunk dims (2) x f64, full size incl fill
    val chunk0 = 96 // first 8-aligned byte after the superblock
    val chunk1 = chunk0 + chunkBytes
    val chunk2 = chunk1 + chunkBytes
    val btree = chunk2 + chunkBytes
    // node-type-1 key: 4 size + 4 mask + (rank+1) x 8 offsets = 24
    val keySize = 8 + 8 * 2
    // allocated at 2K(=64) children + 65 keys past the 24-byte header
    val btAlloc = 24 + 64 * 8 + 65 * keySize
    val dsOh = btree + btAlloc
    // v1 OH: 16 prefix + dataspace (8+16) + datatype (8+24) +
    // layout (8 + pad8(2+1+8+4*2)=24) — exactly 3 messages, so no
    // continuation block
    val dsOhSize = 16 + (8 + 16) + (8 + 24) + (8 + 24)
    val heap = dsOh + dsOhSize
    val heapData = heap + 32
    val snod = heapData + 16
    val groupBt = snod + (8 + 2 * 4 * 40)
    val rootOh = groupBt + (24 + 8 * 8 + 9 * 8)
    val eof = rootOh + 16 + (8 + 16)

    assert(u64(40) == eof && b.length == eof)
    // ---- the chunk B-tree node, field by field
    assert(new String(b, btree, 4, "US-ASCII") == "TREE")
    assert(b(btree + 4) == 1 && b(btree + 5) == 0) // type 1, level 0
    assert(u16(btree + 6) == 3) // three chunks
    assert(u64(btree + 8) == -1L && u64(btree + 16) == -1L) // siblings
    // keys/children: key_i = (stored size, mask 0, offset i*2, 0)
    val e0 = btree + 24
    Seq((0, chunk0.toLong, 0L), (1, chunk1.toLong, 2L),
      (2, chunk2.toLong, 4L)).foreach { case (i, addr, off) =>
      val k = e0 + i * (keySize + 8)
      assert(u32(k) == chunkBytes, s"key $i stored size")
      assert(u32(k + 4) == 0, s"key $i filter mask")
      assert(u64(k + 8) == off && u64(k + 16) == 0, s"key $i offsets")
      assert(u64(k + keySize) == addr, s"child $i address")
    }
    // the past-the-end boundary key: offset = chunk-grid edge (6)
    val kEnd = e0 + 3 * (keySize + 8)
    assert(u64(kEnd + 8) == 6L && u64(kEnd + 16) == 0L)
    // ---- the class-2 layout message body
    val layBody = dsOh + 16 + (8 + 16) + (8 + 24) + 8
    assert(b(layBody) == 3 && b(layBody + 1) == 2) // v3, chunked
    assert(b(layBody + 2) == 2) // dimensionality = rank + 1
    assert(u64(layBody + 3) == btree)
    assert(u32(layBody + 11) == 2 && u32(layBody + 15) == 8) // dims, elem
    // ---- the raw chunk bytes themselves (big-endian f64; edge fill 0)
    assert(ByteBuffer.wrap(b, chunk0, 8).getDouble == 1.0)
    assert(ByteBuffer.wrap(b, chunk2, 8).getDouble == 5.0)
    assert(ByteBuffer.wrap(b, chunk2 + 8, 8).getDouble == 0.0)
    // and the reader agrees
    val d = Hdf5.index(p).head
    assert(Hdf5.readDoubles(p, d, 0, 5).toSeq == Seq(1.0, 2, 3, 4, 5))
  }

  test("GOLDEN BYTES: every structure of a minimal file sits at the " +
    "spec-computed address and internal pointers agree") {
    import java.nio.{ByteBuffer, ByteOrder}
    val p = tmp()
    Hdf5.write(p, Seq(("d", Array(2L), Array(1.5, -2.5))))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def u16(at: Int): Int =
      ByteBuffer.wrap(b, at, 2).order(ByteOrder.LITTLE_ENDIAN).getShort & 0xffff
    def u32(at: Int): Long =
      ByteBuffer.wrap(b, at, 4).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong
    def u64(at: Int): Long =
      ByteBuffer.wrap(b, at, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    def ascii(at: Int, s: String): Unit =
      assert(new String(b, at, s.length, "US-ASCII") == s,
        s"expected '$s' at $at")

    // ---- spec-computed layout (HDF5 File Format Spec, v0 superblock)
    val superblock = 96 // IV.A.1: 24 fixed + 3*8 + 8 + 40-byte root entry
    val dataAddr = superblock // first 8-aligned byte after the superblock
    val dataBytes = 2 * 8 // two f64 elements
    val dsOh = dataAddr + dataBytes // already 8-aligned
    // v1 OH prefix is 16 bytes (IV.A.2.V); messages are 8-byte-aligned
    // 8-byte headers + bodies: dataspace 8+(8+1*8), datatype 8+24,
    // layout 8+24
    val dsOhSize = 16 + (8 + 16) + (8 + 24) + (8 + 24)
    val heap = dsOh + dsOhSize
    // local heap (IV.A.1.d): 32-byte header, data segment = 8 reserved
    // + pad8("d\0") = 16
    val heapData = heap + 32
    val heapSeg = 8 + 8
    val snod = heapData + heapSeg
    // SNOD allocated at 8 + 2*K_leaf(=4) * 40-byte entries
    val snodAlloc = 8 + 2 * 4 * 40
    val btree = snod + snodAlloc
    // group B-tree node allocated at 24 + 2K children + (2K+1) keys
    val btreeAlloc = 24 + (2 * 4) * 8 + (2 * 4 + 1) * 8
    val rootOh = btree + btreeAlloc
    val rootOhSize = 16 + (8 + 16) // one symbol-table message
    val eof = rootOh + rootOhSize

    // ---- superblock fields at their spec offsets
    assert(Hdf5.isHdf5(b.take(8)))
    assert(b(8) == 0) // superblock version
    assert(b(13) == 8 && b(14) == 8) // sizeof offsets / lengths
    assert(u16(16) == 4 && u16(18) == 16) // leaf K, internal K
    assert(u64(24) == 0) // base address
    assert(u64(40) == eof && b.length == eof) // end-of-file address
    assert(u64(64) == rootOh) // root entry: object header
    assert(u32(72) == 1) // cache type 1
    assert(u64(80) == btree && u64(88) == heap) // scratch pad
    // ---- structures at the computed addresses, pointers agreeing
    assert(b(dsOh) == 1 && u16(dsOh + 2) == 3) // v1 OH, 3 messages
    assert(u16(dsOh + 16) == 0x0001) // first message: dataspace
    // layout message body: contiguous class, data at dataAddr, 16 bytes
    val layBody = dsOh + 16 + (8 + 16) + (8 + 24) + 8
    assert(b(layBody) == 3 && b(layBody + 1) == 1)
    assert(u64(layBody + 2) == dataAddr && u64(layBody + 10) == dataBytes)
    ascii(heap, "HEAP")
    assert(u64(heap + 8) == heapSeg) // declared data segment size
    assert(u64(heap + 24) == heapData) // data segment address
    ascii(snod, "SNOD")
    assert(b(snod + 4) == 1 && u16(snod + 6) == 1) // v1, one symbol
    assert(u64(snod + 8) == 8) // name offset of "d" in the heap
    assert(u64(snod + 16) == dsOh) // link target
    ascii(btree, "TREE")
    assert(b(btree + 4) == 0 && b(btree + 5) == 0) // type 0, level 0
    assert(u16(btree + 6) == 1) // one entry
    assert(u64(btree + 32) == snod) // child 0
    assert(b(rootOh) == 1 && u16(rootOh + 2) == 1)
    assert(u16(rootOh + 16) == 0x0011) // symbol-table message
    assert(u64(rootOh + 24) == btree && u64(rootOh + 32) == heap)
    // and the big-endian doubles themselves
    assert(ByteBuffer.wrap(b, dataAddr, 16).getDouble == 1.5)
    assert(ByteBuffer.wrap(b, dataAddr + 8, 8).getDouble == -2.5)
    // the reader agrees with all of it
    val d = Hdf5.index(p).head
    assert(d.path == "d" && d.dataAddress == dataAddr && !d.littleEndian)
    assert(Hdf5.readDoubles(p, d, 0, 2).toSeq == Seq(1.5, -2.5))
  }

  // ---------------------------------------------------------------
  // Fill values + sparse (lazily-allocated) chunks
  // ---------------------------------------------------------------

  test("SPARSE chunks read as the fill value, both endians: h5py " +
    "allocates chunks lazily, so a partially-written dataset has " +
    "B-tree gaps, not errors") {
    Seq(false, true).foreach { le =>
      val p = tmp()
      val n = 10 // chunks of 3 -> offsets 0,3,6,9; omit 3 and 9
      val data = Array.tabulate(n)(i => i + 0.5)
      Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("s", Array(n.toLong), data,
        chunkDims = Some(Array(3L)), gzip = true,
        sparse = Some(off => off(0) == 3 || off(0) == 9))), le)
      val d = Hdf5.index(p).head
      d.layout match {
        case Hdf5.H5Chunked(_, true, _, chunks, _) =>
          assert(chunks.map(_.offset(0)).toSeq == Seq(0L, 6L))
        case other => fail(s"$other")
      }
      assert(d.fill == 0.0) // no fill message -> spec default
      val want = data.clone()
      (3 until 6).foreach(want(_) = 0.0)
      want(9) = 0.0
      assert(Hdf5.readDoubles(p, d, 0, n).toSeq == want.toSeq,
        s"littleEndian=$le")
      // an interior slice crossing the gap
      assert(Hdf5.readDoubles(p, d, 2, 5).toSeq ==
        want.toSeq.slice(2, 7), s"littleEndian=$le")
    }
  }

  test("a NON-ZERO fill value round-trips through the Fill Value " +
    "message and fills sparse extents; f32+shuffle+gzip compose") {
    val p = tmp()
    val data = Array.tabulate(8)(_ * 2.0)
    Hdf5.writeSpecs(p, Seq(
      Hdf5.H5Write("q", Array(8L), data,
        chunkDims = Some(Array(2L)), gzip = true, shuffle = true,
        f32 = true, fillValue = -1.5,
        sparse = Some(off => off(0) == 4)),
      // fill message on a CONTIGUOUS dataset parses too (no effect)
      Hdf5.H5Write("c", Array(2L), Array(1.0, 2.0), fillValue = 9.0)),
      littleEndian = true)
    val idx = Hdf5.index(p)
    val q = idx.find(_.path == "q").get
    assert(q.fill == -1.5 && q.elemSize == 4)
    val want = data.map(v => v.toFloat.toDouble)
    want(4) = -1.5; want(5) = -1.5
    assert(Hdf5.readDoubles(p, q, 0, 8).toSeq == want.toSeq)
    assert(idx.find(_.path == "c").get.fill == 9.0)
  }

  test("a FULLY sparse chunked dataset (no chunk ever written) " +
    "carries the undefined B-tree address and reads all-fill") {
    val p = tmp()
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("empty", Array(5L),
      Array.fill(5)(3.0), chunkDims = Some(Array(2L)),
      fillValue = 7.0, sparse = Some(_ => true))))
    val d = Hdf5.index(p).head
    d.layout match {
      case Hdf5.H5Chunked(_, _, _, chunks, _) => assert(chunks.isEmpty)
      case other => fail(s"$other")
    }
    assert(Hdf5.readDoubles(p, d, 0, 5).toSeq == Seq.fill(5)(7.0))
  }

  // ---------------------------------------------------------------
  // Fixed-point (class 0) datatypes
  // ---------------------------------------------------------------

  test("FIXED-POINT datasets round-trip widened to doubles: signed " +
    "and unsigned, 1/2/4/8 bytes, both endians, both layouts") {
    Seq(false, true).foreach { le =>
      val p = tmp()
      Hdf5.writeSpecs(p, Seq(
        Hdf5.H5Write("i32", Array(5L),
          Array(-3.0, 0, 7, 2147483647.0, -2147483648.0),
          fixed = Some((4, true))),
        Hdf5.H5Write("i64c", Array(6L),
          Array(-1e15, 0, 1, -7, 1e15, 42),
          chunkDims = Some(Array(4L)), gzip = true,
          fixed = Some((8, true))),
        Hdf5.H5Write("u8", Array(4L), Array(0.0, 1, 128, 255),
          fixed = Some((1, false))),
        Hdf5.H5Write("i16", Array(3L), Array(-32768.0, 0, 32767),
          fixed = Some((2, true)), chunkDims = Some(Array(2L)),
          shuffle = true),
        Hdf5.H5Write("u32", Array(3L), Array(0.0, 4294967295.0, 17.0),
          fixed = Some((4, false)))), le)
      val idx = Hdf5.index(p)
      def check(path: String, want: Seq[Double]): Unit = {
        val d = idx.find(_.path == path).get
        assert(d.fixedPoint, path)
        assert(Hdf5.readDoubles(p, d, 0, want.length).toSeq == want,
          s"$path littleEndian=$le")
      }
      check("i32", Seq(-3.0, 0, 7, 2147483647.0, -2147483648.0))
      check("i64c", Seq(-1e15, 0, 1, -7, 1e15, 42))
      check("u8", Seq(0.0, 1, 128, 255))
      check("i16", Seq(-32768.0, 0, 32767))
      check("u32", Seq(0.0, 4294967295.0, 17.0))
      assert(!idx.find(_.path == "u8").get.signed)
    }
    // a non-representable value is rejected at write time
    intercept[IllegalArgumentException](Hdf5.writeSpecs(tmp(), Seq(
      Hdf5.H5Write("x", Array(1L), Array(1.5), fixed = Some((4, true))))))
    intercept[IllegalArgumentException](Hdf5.writeSpecs(tmp(), Seq(
      Hdf5.H5Write("x", Array(1L), Array(-1.0), fixed = Some((1, false))))))
    // u64 past Long.MaxValue: exact two's-complement bits round-trip
    // (a bare toLong would saturate to 2^63-1 and silently store the
    // wrong value); the 2^64 / signed-2^63 boundary doubles — which
    // a `<= pow-1` bound would ADMIT, since pow-1 rounds up to pow —
    // are rejected loudly
    val pu = tmp()
    val big = Array(1.0e19, 9.223372036854775808e18,
      math.nextDown(math.pow(2, 64)))
    Hdf5.writeSpecs(pu, Seq(Hdf5.H5Write("u64", Array(3L), big,
      fixed = Some((8, false)))))
    val du = Hdf5.index(pu).head
    assert(!du.signed && du.fixedPoint)
    assert(Hdf5.readDoubles(pu, du, 0, 3).toSeq == big.toSeq)
    intercept[IllegalArgumentException](Hdf5.writeSpecs(tmp(), Seq(
      Hdf5.H5Write("x", Array(1L), Array(math.pow(2, 64)),
        fixed = Some((8, false))))))
    intercept[IllegalArgumentException](Hdf5.writeSpecs(tmp(), Seq(
      Hdf5.H5Write("x", Array(1L), Array(math.pow(2, 63)),
        fixed = Some((8, true))))))
  }

  // ---------------------------------------------------------------
  // v2/v3 superblocks + v2 ("OHDR") object headers
  // ---------------------------------------------------------------

  test("lookup3 matches Bob Jenkins' published hashlittle vectors " +
    "(so fixture and parser cannot agree on a wrong hash)") {
    assert(Hdf5.lookup3(Array.empty[Byte], 0, 0) == 0xdeadbeef)
    val four = "Four score and seven years ago".getBytes("US-ASCII")
    assert(four.length == 30)
    assert(Hdf5.lookup3(four, 0, 30) == 0x17770551)
  }

  /** Hand-build a v2/v3-superblock file from the PUBLIC spec (no
    * HDF5 library in this environment): root is a v2 "OHDR" group
    * whose Link Info + continuation spill into an "OCHK" block
    * carrying TWO hard links — "vals" and "w" — to the SAME dataset
    * (a legal DAG: h5py's `f['w'] = f['vals']`), a v2 header with v2
    * dataspace, LE f64 datatype and contiguous v3 layout. Every
    * address below is spec-computed — the golden-bytes discipline
    * applied to the READ-ONLY v2 path (the writer stays v0).
    */
  private def buildV2File(sver: Int): (Array[Byte], Long) = {
    import java.nio.{ByteBuffer, ByteOrder}
    val eof = 258
    val b = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    def cksum(from: Int, to: Int, at: Int): Unit =
      b.putInt(at, Hdf5.lookup3(b.array(), from, to - from))
    // ---- superblock @0 (48 bytes)
    b.put(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      '\r'.toByte, '\n'.toByte, 0x1a.toByte, 0x0a.toByte))
    b.put(sver.toByte)
    b.put(8.toByte).put(8.toByte) // sizeof offsets / lengths
    b.put(0.toByte) // file consistency flags
    b.putLong(0L) // base address
    b.putLong(-1L) // superblock extension: undefined
    b.putLong(eof.toLong)
    b.putLong(137L) // root group object header (OHDR, unaligned)
    cksum(0, 44, 44)
    b.position(48)
    // ---- raw data @48: two LE f64
    b.putDouble(3.25).putDouble(-7.5)
    // ---- dataset OHDR @64: flags 0 (1-byte chunk-0 size)
    assert(b.position() == 64)
    b.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    b.put(62.toByte) // size of chunk 0
    // dataspace v2: type 1 (simple), rank 1, dims [2]
    b.put(0x01.toByte).putShort(12).put(0.toByte)
    b.put(2.toByte).put(1.toByte).put(0.toByte).put(1.toByte)
    b.putLong(2L)
    // datatype: v1 class 1 float, LE binary64
    b.put(0x03.toByte).putShort(20).put(0.toByte)
    b.put(0x11.toByte).put(0x20.toByte).put(63.toByte).put(0.toByte)
    b.putInt(8).putShort(0).putShort(64)
    b.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
    b.putInt(1023)
    // layout v3 class 1 contiguous @48, 16 bytes
    b.put(0x08.toByte).putShort(18).put(0.toByte)
    b.put(3.toByte).put(1.toByte).putLong(48L).putLong(16L)
    assert(b.position() == 64 + 7 + 62)
    cksum(64, 133, 133)
    b.position(137)
    // ---- root group OHDR @137: flags 0x24 = times stored + message
    // creation order tracked (2 extra bytes per message header)
    b.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0x24.toByte)
    b.putInt(11).putInt(12).putInt(13).putInt(14) // four timestamps
    b.put(46.toByte) // size of chunk 0
    assert(b.position() == 160)
    // link info: fractal heap + name index undefined (compact links)
    b.put(0x02.toByte).putShort(18).put(0.toByte).putShort(0)
    b.put(0.toByte).put(0.toByte).putLong(-1L).putLong(-1L)
    // continuation -> OCHK @210, 48 bytes
    b.put(0x10.toByte).putShort(16).put(0.toByte).putShort(1)
    b.putLong(210L).putLong(48L)
    assert(b.position() == 160 + 46)
    cksum(137, 206, 206)
    b.position(210)
    // ---- OCHK continuation block @210: the two link messages
    b.put("OCHK".getBytes("US-ASCII"))
    // link v1, flags 0x10 (charset present; 1-byte name length;
    // no type field -> hard), name "vals" -> OH @64
    b.put(0x06.toByte).putShort(16).put(0.toByte).putShort(2)
    b.put(1.toByte).put(0x10.toByte).put(0.toByte).put(4.toByte)
    b.put("vals".getBytes("US-ASCII")).putLong(64L)
    assert(b.position() == 236)
    // link "w" -> the SAME OH @64 (flags 0: 1-byte name length, no
    // charset) — the legal hard-link DAG a visited-set cycle guard
    // would wrongly reject
    b.put(0x06.toByte).putShort(12).put(0.toByte).putShort(3)
    b.put(1.toByte).put(0.toByte).put(1.toByte)
    b.put("w".getBytes("US-ASCII")).putLong(64L)
    assert(b.position() == 254)
    cksum(210, 254, 254)
    (b.array(), 48L)
  }

  test("GOLDEN BYTES (v2/v3): a hand-built, spec-addressed v3 " +
    "superblock + OHDR + OCHK file decodes; v2 superblock likewise; " +
    "the twice-hard-linked dataset indexes under BOTH names (a legal " +
    "DAG, not a cycle); reads return the exact doubles") {
    Seq(2, 3).foreach { sver =>
      val (bytes, dataAddr) = buildV2File(sver)
      val p = tmp()
      java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
      val idx = Hdf5.index(p)
      assert(idx.map(_.path) == Seq("vals", "w"), s"sver=$sver")
      idx.foreach { d =>
        assert(d.dims.toSeq == Seq(2L)
          && d.littleEndian && d.elemSize == 8 && !d.fixedPoint)
        assert(d.dataAddress == dataAddr)
        assert(Hdf5.readDoubles(p, d, 0, 2).toSeq == Seq(3.25, -7.5))
      }
    }
  }

  test("v2-path corruption is rejected loudly: superblock checksum, " +
    "OHDR block checksum, OCHK signature, dense link storage") {
    val (good, _) = buildV2File(3)
    def reject(mutate: Array[Byte] => Unit, expect: String): Unit = {
      val bad = good.clone(); mutate(bad)
      val f = tmp()
      java.nio.file.Files.write(java.nio.file.Paths.get(f), bad)
      val e = intercept[IllegalArgumentException](Hdf5.index(f))
      assert(e.getMessage.contains(expect),
        s"wanted '$expect' in: ${e.getMessage}")
    }
    // unparsed-but-checksummed superblock byte (consistency flags)
    reject(b => b(11) = 1, "superblock checksum")
    // a message byte inside the dataset OHDR block
    reject(b => b(100) = (b(100) ^ 0x11).toByte, "checksum")
    // a message byte inside the OCHK continuation block
    reject(b => b(225) = (b(225) ^ 0x11).toByte, "checksum")
    // OCHK signature
    reject(b => b(210) = 'X'.toByte, "OCHK")
    // link info with a DEFINED fractal heap = dense storage: set the
    // fractal-heap address field (@166+2 body -> bytes 168..175) to 7,
    // restamping the root block checksum so only this check can fire
    reject({ b =>
      b(168) = 7
      (169 to 175).foreach(b(_) = 0)
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(Hdf5.lookup3(b, 137, 206 - 137))
      System.arraycopy(bb.array(), 0, b, 206, 4)
    }, "dense")
    // superblock version out of subset
    reject(b => b(8) = 4, "superblock version 4")
  }

  test("COMPACT layouts (inline bytes — h5py's tiny-dataset shape): " +
    "round-trip both endians and datatypes, slices, the 64 KiB spec " +
    "bound rejects at write, and a compact VARIABLE rejects in the " +
    "DSv2 scan (driver-side only)") {
    Seq(false, true).foreach { le =>
      val p = tmp()
      val axis = Array.tabulate(9)(_ * 0.5)
      Hdf5.writeSpecs(p, Seq(
        Hdf5.H5Write("grid/time", Array(9L), axis, compact = true),
        Hdf5.H5Write("cnt", Array(4L), Array(3.0, -7, 11, 0),
          fixed = Some((4, true)), compact = true),
        Hdf5.H5Write("w", Array(6L), Array(1.5, 2.5, 3.5, 4.5, 5.5, 6.5),
          f32 = true, compact = true)), le)
      val idx = Hdf5.index(p)
      assert(idx.map(_.path) == Seq("cnt", "grid/time", "w"))
      idx.foreach(d => assert(d.layout.isInstanceOf[Hdf5.H5Compact],
        d.path))
      val t = idx.find(_.path == "grid/time").get
      assert(Hdf5.readDoubles(p, t, 0, 9).toSeq == axis.toSeq,
        s"littleEndian=$le")
      assert(Hdf5.readDoubles(p, t, 2, 5).toSeq ==
        axis.toSeq.slice(2, 7))
      assert(Hdf5.readDoubles(p, idx.find(_.path == "cnt").get, 0, 4)
        .toSeq == Seq(3.0, -7, 11, 0))
      assert(Hdf5.readDoubles(p, idx.find(_.path == "w").get, 0, 6)
        .toSeq == Seq(1.5, 2.5, 3.5, 4.5, 5.5, 6.5))
    }
    // the spec's 64 KiB compact bound is a loud write-time reject
    intercept[IllegalArgumentException](Hdf5.writeSpecs(tmp(), Seq(
      Hdf5.H5Write("big", Array(9000L), new Array[Double](9000),
        compact = true))))
    // (the compact-VARIABLE scan reject lives in VPICSourceSpec —
    // it needs the shared Spark session)
  }

  test("FLETCHER32 filter (h5py fletcher32=True): round-trips alone " +
    "and composed with shuffle+deflate, detects chunk corruption " +
    "loudly, and a fletcher placed before deflate is rejected") {
    Seq(false, true).foreach { le =>
      val p = tmp()
      val rnd = new scala.util.Random(if (le) 31 else 30)
      val data = Array.fill(23)(rnd.nextDouble() * 100)
      Hdf5.writeSpecs(p, Seq(
        Hdf5.H5Write("f", Array(23L), data,
          chunkDims = Some(Array(5L)), fletcher = true),
        Hdf5.H5Write("fc", Array(23L), data,
          chunkDims = Some(Array(5L)), gzip = true, shuffle = true,
          fletcher = true)), le)
      val idx = Hdf5.index(p)
      val f = idx.find(_.path == "f").get
      f.layout match {
        case Hdf5.H5Chunked(_, false, false, chunks, fl) =>
          assert(fl, "fletcher flag lost")
          // undeflated chunk = payload + the 4-byte checksum trailer
          assert(chunks.forall(_.storedBytes == 5L * 8 + 4))
        case other => fail(s"$other")
      }
      assert(Hdf5.readDoubles(p, f, 0, 23).toSeq == data.toSeq,
        s"littleEndian=$le")
      val fc = idx.find(_.path == "fc").get
      assert(fc.layout.asInstanceOf[Hdf5.H5Chunked].fletcher)
      assert(Hdf5.readDoubles(p, fc, 0, 23).toSeq == data.toSeq)
      assert(Hdf5.readDoubles(p, fc, 7, 9).toSeq ==
        data.toSeq.slice(7, 16))
    }
    // the checksum catches a flipped PAYLOAD byte: chunks land right
    // after the 96-byte superblock; the index (metadata-only) still
    // parses but the read must fail loudly
    val p2 = tmp()
    Hdf5.writeSpecs(p2, Seq(Hdf5.H5Write("g", Array(4L),
      Array(1.0, 2, 3, 4), chunkDims = Some(Array(4L)),
      fletcher = true)))
    val mut = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(p2))
    mut(99) = (mut(99) ^ 0x40).toByte
    val f2 = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f2), mut)
    val d2 = Hdf5.index(f2).head
    val e2 = intercept[IllegalArgumentException](
      Hdf5.readDoubles(f2, d2, 0, 4))
    assert(e2.getMessage.contains("fletcher32"), e2.getMessage)
    // fletcher BEFORE deflate (ids [1,3] -> [3,1]) is out of subset:
    // this decoder strips the trailer first, so that order would
    // checksum bytes it never sees
    val p3 = tmp()
    Hdf5.writeSpecs(p3, Seq(Hdf5.H5Write("h", Array(4L),
      Array(1.0, 2, 3, 4), chunkDims = Some(Array(4L)), gzip = true,
      fletcher = true)))
    val b3 = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(p3))
    // two-filter pipeline body: ver 1, nf 2, reserved(6), then
    // deflate desc (id 1, namelen 8) and fletcher desc (id 3,
    // namelen 16)
    val fAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < b3.length - 12) {
        if (b3(i) == 1 && b3(i + 1) == 2 && b3(i + 2) == 0
          && b3(i + 3) == 0 && b3(i + 8) == 1 && b3(i + 9) == 0
          && b3(i + 10) == 8) at = i
        i += 1
      }
      at
    }
    assert(fAt > 0, "two-filter pipeline message not found")
    val deflateDescLen = 8 + 8 + 8 // header + 8-padded name + cval+pad
    assert(b3(fAt + 8 + deflateDescLen) == 3, "fletcher desc not found")
    val mut3 = b3.clone()
    mut3(fAt + 8) = 3
    mut3(fAt + 8 + deflateDescLen) = 1
    val f3 = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f3), mut3)
    val e3 = intercept[IllegalArgumentException](Hdf5.index(f3))
    assert(e3.getMessage.contains("filter order"), e3.getMessage)
  }

  test("fletcher32 agrees with a straight unoptimized reference " +
    "implementation (catches block/fold bugs) on sizes around the " +
    "360-word block boundary and odd lengths") {
    def reference(b: Array[Byte]): Int = {
      // no 360-word blocking: fold to 16 bits after EVERY word — the
      // mathematically equal form (folding commutes with addition
      // mod 0xffff... verified empirically against the blocked form)
      var s1 = 0L; var s2 = 0L
      var i = 0
      while (i + 1 < b.length) {
        s1 = (s1 + (((b(i) & 0xff) << 8) | (b(i + 1) & 0xff))) % 0xffff
        s2 = (s2 + s1) % 0xffff
        i += 2
      }
      if (b.length % 2 == 1) {
        s1 = (s1 + ((b(b.length - 1) & 0xff).toLong << 8)) % 0xffff
        s2 = (s2 + s1) % 0xffff
      }
      ((s2 << 16) | s1).toInt
    }
    val rnd = new scala.util.Random(44)
    Seq(0, 1, 2, 7, 719, 720, 721, 1441, 5000).foreach { n =>
      val b = Array.fill(n)(rnd.nextInt(256).toByte)
      val got = Hdf5.fletcher32(b, 0, n)
      val want = reference(b)
      // the % 0xffff fold maps 0xffff -> 0 where the >> 16 fold keeps
      // 0xffff; avoid the ambiguity by comparing mod 0xffff per half
      def half(v: Int, hi: Boolean): Long =
        (((v >>> (if (hi) 16 else 0)) & 0xffff).toLong) % 0xffff
      assert(half(got, false) == half(want, false), s"n=$n sum1")
      assert(half(got, true) == half(want, true), s"n=$n sum2")
    }
  }

  // ---------------------------------------------------------------
  // v4 data layouts (libver='latest' chunked writes): single-chunk,
  // implicit, and fixed-array indexes, hand-built from the spec
  // ---------------------------------------------------------------

  /** Hand-build a v3-superblock file whose dataset uses a VERSION 4
    * data layout with the given chunk index — the `libver='latest'`
    * chunked shapes. LE f64 values 10,11,... with per-leg geometry:
    *   - "single": dims [4], one whole-dataset chunk (rank+1 dim
    *     encoding exercised);
    *   - "implicit": dims [5], chunk [2], three dense unfiltered
    *     chunks laid contiguously;
    *   - "fixed": dims [7], chunk [3], fixed array with the MIDDLE
    *     element unallocated (fill reads);
    *   - "fixed_gzip": dims [6], chunk [3], client-1 (filtered)
    *     entries with per-chunk deflate.
    */
  private def buildV4File(leg: String): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val b = ByteBuffer.allocate(4096).order(ByteOrder.LITTLE_ENDIAN)
    def cksumFrom(from: Int): Unit =
      b.putInt(Hdf5.lookup3(b.array(), from, b.position() - from))
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      try {
        d.setInput(raw); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val t = new Array[Byte](512)
        while (!d.finished()) out.write(t, 0, d.deflate(t))
        out.toByteArray
      } finally d.end()
    }
    def f64s(vs: Double*): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }
    // ---- superblock v3 (eof + rootOh patched at the end)
    b.put(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, 0x0a)
      .map(_.toByte))
    b.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    b.putLong(0L).putLong(-1L)
    b.putLong(0L) // eof, patched
    b.putLong(0L) // root OH, patched
    b.putInt(0) // checksum, stamped after patching
    assert(b.position() == 48)
    // ---- leg-specific raw data + index structures
    val (nDim, chunkDim, layoutTail) = leg match {
      case "single" =>
        val dataAddr = b.position()
        b.put(f64s(10, 11, 12, 13))
        // rank+1 dim encoding: [4, 8] as u16s
        (4L, 4L, { bb: ByteBuffer =>
          bb.put(0.toByte) // flags: unfiltered
          bb.put(2.toByte).put(2.toByte) // dimen 2, encLen 2
          bb.putShort(4).putShort(8)
          bb.put(1.toByte) // index: single chunk
          bb.putLong(dataAddr.toLong)
        })
      case "implicit" =>
        val dataAddr = b.position()
        b.put(f64s(10, 11)); b.put(f64s(12, 13)); b.put(f64s(14, 0))
        (5L, 2L, { bb: ByteBuffer =>
          bb.put(0.toByte)
          bb.put(1.toByte).put(1.toByte) // dimen 1 (rank form), encLen 1
          bb.put(2.toByte)
          bb.put(2.toByte) // index: implicit
          bb.putLong(dataAddr.toLong)
        })
      case "fixed" =>
        val c0 = b.position(); b.put(f64s(10, 11, 12))
        val c2 = b.position(); b.put(f64s(16, 0, 0))
        val fahd = b.position()
        b.put("FAHD".getBytes("US-ASCII"))
        b.put(0.toByte).put(0.toByte) // version, client 0
        b.put(8.toByte).put(10.toByte) // entry size, page bits
        b.putLong(3L) // max entries = chunk grid
        b.putLong(fahd + 28L) // data block follows directly
        cksumFrom(fahd)
        val fadb = b.position()
        assert(fadb == fahd + 28)
        b.put("FADB".getBytes("US-ASCII"))
        b.put(0.toByte).put(0.toByte)
        b.putLong(fahd.toLong)
        b.putLong(c0.toLong).putLong(-1L).putLong(c2.toLong)
        cksumFrom(fadb)
        (7L, 3L, { bb: ByteBuffer =>
          bb.put(0.toByte)
          bb.put(1.toByte).put(4.toByte) // dimen 1, encLen 4
          bb.putInt(3)
          bb.put(3.toByte).put(10.toByte) // fixed array, page bits
          bb.putLong(fahd.toLong)
        })
      case "fixed_gzip" =>
        val s0 = deflate(f64s(10, 11, 12))
        val s1 = deflate(f64s(13, 14, 15))
        val c0 = b.position(); b.put(s0)
        val c1 = b.position(); b.put(s1)
        val fahd = b.position()
        b.put("FAHD".getBytes("US-ASCII"))
        b.put(0.toByte).put(1.toByte) // client 1: filtered chunks
        b.put(16.toByte).put(10.toByte) // entry = 8 addr + 4 sz + 4 mask
        b.putLong(2L)
        b.putLong(fahd + 28L)
        cksumFrom(fahd)
        val fadb = b.position()
        b.put("FADB".getBytes("US-ASCII"))
        b.put(0.toByte).put(1.toByte)
        b.putLong(fahd.toLong)
        b.putLong(c0.toLong).putInt(s0.length).putInt(0)
        b.putLong(c1.toLong).putInt(s1.length).putInt(0)
        cksumFrom(fadb)
        (6L, 3L, { bb: ByteBuffer =>
          bb.put(0.toByte)
          bb.put(1.toByte).put(4.toByte)
          bb.putInt(3)
          bb.put(3.toByte).put(10.toByte)
          bb.putLong(fahd.toLong)
        })
    }
    // ---- dataset OHDR (flags 0, 1-byte chunk-0 size)
    val layoutBody = {
      val bb = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(4.toByte).put(2.toByte) // version 4, class 2 chunked
      layoutTail(bb)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    val withFilter = leg == "fixed_gzip"
    val size0 = (4 + 12) + (4 + 20) + (4 + layoutBody.length) +
      (if (withFilter) 4 + 32 else 0)
    val dsOh = b.position()
    b.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    b.put(size0.toByte)
    b.put(0x01.toByte).putShort(12).put(0.toByte) // dataspace v2
    b.put(2.toByte).put(1.toByte).put(0.toByte).put(1.toByte)
    b.putLong(nDim)
    b.put(0x03.toByte).putShort(20).put(0.toByte) // datatype f64 LE
    b.put(0x11.toByte).put(0x20.toByte).put(63.toByte).put(0.toByte)
    b.putInt(8).putShort(0).putShort(64)
    b.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
    b.putInt(1023)
    b.put(0x08.toByte).putShort(layoutBody.length.toShort)
    b.put(0.toByte)
    b.put(layoutBody)
    if (withFilter) { // deflate-only pipeline, the writer's shape
      b.put(0x0B.toByte).putShort(32).put(0.toByte)
      b.put(1.toByte).put(1.toByte)
      b.putShort(0).putInt(0)
      b.putShort(1).putShort(8).putShort(0).putShort(1)
      b.put("deflate".getBytes("US-ASCII")).put(0.toByte)
      b.putInt(6).putInt(0)
    }
    assert(b.position() == dsOh + 7 + size0, leg)
    cksumFrom(dsOh)
    // ---- root group OHDR: link info + one link "d" -> dsOh
    val rootOh = b.position()
    b.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    b.put((22 + 16).toByte)
    b.put(0x02.toByte).putShort(18).put(0.toByte) // link info
    b.put(0.toByte).put(0.toByte).putLong(-1L).putLong(-1L)
    b.put(0x06.toByte).putShort(12).put(0.toByte) // link "d"
    b.put(1.toByte).put(0.toByte).put(1.toByte)
    b.put("d".getBytes("US-ASCII")).putLong(dsOh.toLong)
    cksumFrom(rootOh)
    val eof = b.position()
    b.putLong(28, eof.toLong)
    b.putLong(36, rootOh.toLong)
    b.putInt(44, Hdf5.lookup3(b.array(), 0, 44))
    java.util.Arrays.copyOf(b.array(), eof)
  }

  test("v4 DATA LAYOUTS (libver='latest' chunked writes) decode: " +
    "single-chunk, implicit, fixed-array (with an unallocated " +
    "element reading as fill), and filtered fixed-array — checksums " +
    "verified, values exact") {
    def read(leg: String): (Hdf5.H5Dataset, String) = {
      val p = tmp()
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        buildV4File(leg))
      val idx = Hdf5.index(p)
      assert(idx.length == 1 && idx.head.path == "d", leg)
      (idx.head, p)
    }
    val (s, ps) = read("single")
    assert(s.dims.toSeq == Seq(4L))
    s.layout match {
      case Hdf5.H5Chunked(cd, false, false, chunks, _) =>
        assert(cd.toSeq == Seq(4L) && chunks.length == 1)
      case other => fail(s"single: $other")
    }
    assert(Hdf5.readDoubles(ps, s, 0, 4).toSeq == Seq(10.0, 11, 12, 13))
    val (im, pi) = read("implicit")
    assert(im.dims.toSeq == Seq(5L))
    im.layout match {
      case Hdf5.H5Chunked(cd, _, _, chunks, _) =>
        assert(cd.toSeq == Seq(2L) && chunks.length == 3)
        assert(chunks.map(_.offset(0)).toSeq == Seq(0L, 2L, 4L))
      case other => fail(s"implicit: $other")
    }
    assert(Hdf5.readDoubles(pi, im, 0, 5).toSeq ==
      Seq(10.0, 11, 12, 13, 14))
    val (fx, pf) = read("fixed")
    fx.layout match {
      case Hdf5.H5Chunked(cd, _, _, chunks, _) =>
        assert(cd.toSeq == Seq(3L))
        assert(chunks.map(_.offset(0)).toSeq == Seq(0L, 6L))
      case other => fail(s"fixed: $other")
    }
    assert(Hdf5.readDoubles(pf, fx, 0, 7).toSeq ==
      Seq(10.0, 11, 12, 0, 0, 0, 16))
    val (fg, pg) = read("fixed_gzip")
    fg.layout match {
      case Hdf5.H5Chunked(cd, gz, _, chunks, _) =>
        assert(cd.toSeq == Seq(3L) && gz && chunks.length == 2)
      case other => fail(s"fixed_gzip: $other")
    }
    assert(Hdf5.readDoubles(pg, fg, 0, 6).toSeq ==
      Seq(10.0, 11, 12, 13, 14, 15))
  }

  test("v4-path corruption and out-of-subset indexes reject loudly: " +
    "fixed-array checksums, extensible-array index type, paged " +
    "fixed arrays") {
    val good = buildV4File("fixed")
    def reject(mutate: Array[Byte] => Unit, expect: String): Unit = {
      val bad = good.clone(); mutate(bad)
      val f = tmp()
      java.nio.file.Files.write(java.nio.file.Paths.get(f), bad)
      val e = intercept[IllegalArgumentException](Hdf5.index(f))
      assert(e.getMessage.contains(expect),
        s"wanted '$expect' in: ${e.getMessage}")
    }
    val fahd = {
      var at = -1
      var i = 48
      while (at < 0 && i < good.length - 4) {
        if (good(i) == 'F' && good(i + 1) == 'A' && good(i + 2) == 'H'
          && good(i + 3) == 'D') at = i
        i += 1
      }
      at
    }
    assert(fahd > 0)
    // a FAHD field byte (max entries) -> header checksum mismatch
    reject(b => b(fahd + 9) = 9, "fixed-array header checksum")
    // a FADB element byte -> data block checksum mismatch
    reject(b => b(fahd + 28 + 15) = (good(fahd + 28 + 15) ^ 1).toByte,
      "data block checksum")
    // paged fixed array: page bits 1 -> 3 entries need paging. The
    // header checksum must be restamped so ONLY the paging check can
    // fire
    reject({ b =>
      b(fahd + 7) = 1
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(Hdf5.lookup3(b, fahd, 24))
      System.arraycopy(bb.array(), 0, b, fahd + 24, 4)
    }, "PAGED fixed array")
    // the layout message's index type: 3 (fixed array) -> 4
    // (extensible array); the OHDR block checksum must be restamped
    // so only the index-type check can fire. Layout body: find
    // "04 02 00 01 04 03 00 00 00 03 0a" (v4, chunked, flags, dimen,
    // encLen, dim=3 u32, type 3, pagebits 10)
    val lay = {
      var at = -1
      var i = 48
      while (at < 0 && i < good.length - 11) {
        if (good(i) == 4 && good(i + 1) == 2 && good(i + 2) == 0
          && good(i + 3) == 1 && good(i + 4) == 4 && good(i + 5) == 3
          && good(i + 9) == 3 && good(i + 10) == 10) at = i
        i += 1
      }
      at
    }
    assert(lay > 0, "v4 layout body not found")
    reject({ b =>
      b(lay + 9) = 4 // extensible array
      // restamp the dataset OHDR block checksum: block starts at the
      // OHDR sig before `lay` and ends before its trailing checksum
      var oh = lay
      while (!(b(oh) == 'O' && b(oh + 1) == 'H' && b(oh + 2) == 'D'
        && b(oh + 3) == 'R')) oh -= 1
      val size0 = b(oh + 6) & 0xff
      val end = oh + 7 + size0
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(Hdf5.lookup3(b, oh, end - oh))
      System.arraycopy(bb.array(), 0, b, end, 4)
    }, "chunk index type 4")
  }

  test("a >=2 GiB chunk is rejected LOUDLY at index time, never a " +
    "silent Int truncation mid-scan") {
    val p = tmp()
    Hdf5.writeSpecs(p, Seq(Hdf5.H5Write("c", Array(6L),
      Array(1.0, 2, 3, 4, 5, 6), chunkDims = Some(Array(3L)))))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // dataspace message: header (01 00 10 00 ...) + body v1 rank 1,
    // dim u64 = 6 -> inflate the dim to 2^31
    val dsAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < b.length - 24) {
        if (b(i) == 1 && b(i + 1) == 0 && b(i + 2) == 16 && b(i + 3) == 0
          && b(i + 8) == 1 && b(i + 9) == 1 && b(i + 16) == 6) at = i
        i += 1
      }
      at
    }
    assert(dsAt > 0, "dataspace message not found")
    // layout message: header (08 00 ...) + body (03 02 02 btaddr
    // chunkdim=3 elem=8) -> inflate the chunk dim to 2^31
    val layAt = {
      var at = -1
      var i = 96
      while (at < 0 && i < b.length - 28) {
        if (b(i) == 8 && b(i + 1) == 0 && b(i + 8) == 3
          && b(i + 9) == 2 && b(i + 10) == 2 && b(i + 19) == 3
          && b(i + 23) == 8) at = i
        i += 1
      }
      at
    }
    assert(layAt > 0, "chunked layout message not found")
    val mut = b.clone()
    val big = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    big.putLong(1L << 31)
    System.arraycopy(big.array(), 0, mut, dsAt + 16, 8) // dim u64
    val bigc = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bigc.putInt((1L << 31).toInt)
    System.arraycopy(bigc.array(), 0, mut, layAt + 19, 4) // chunk u32
    val f = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(f), mut)
    val e = intercept[IllegalArgumentException](Hdf5.index(f))
    assert(e.getMessage.contains("2 GiB"), e.getMessage)
  }
}
