package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** A REAL (minimal) HDF5 codec, pure JVM, built like the media
  * codecs: the reference ingests VPIC dumps through `pyvpic.open` over HDF5
  * (/root/reference/src/datasets/vpicdataset.py:9,194), and with no
  * HDF5 library in this environment the tree had been mocked with
  * raw `data.bin` files. This module writes and validates a
  * well-defined subset of the PUBLIC HDF5 File Format Specification:
  *
  *   - superblocks v0-v3 on READ (v0 is what `libver='earliest'`
  *     h5py emits and what this writer produces; v1 adds the
  *     indexed-storage K; v2/v3 — `libver='latest'` h5py, NetCDF4 —
  *     are 48-byte lookup3-checksummed superblocks pointing straight
  *     at a root object header, usually a v2 "OHDR" header whose
  *     COMPACT link messages this parser walks);
  *   - 8-byte offsets/lengths;
  *   - groups as the classic symbol-table machinery: a v1 B-tree
  *     (node type 0) of ANY depth over SNOD symbol-table nodes with
  *     names in a local heap — wide groups (real dumps put dozens of
  *     variables in one group) split across SNODs and spill into
  *     internal B-tree levels; nodes are written at their FULL
  *     allocated size (2·K entry slots, zero-filled) so a library
  *     that reads whole allocated nodes never lands past
  *     end-of-allocation;
  *   - datasets as v1 OR v2 object headers carrying the messages an
  *     array needs — Dataspace (v1/v2, simple), Datatype (class 1
  *     floating-point, IEEE binary32 OR binary64, either byte
  *     order; class 0 FIXED-POINT 1/2/4/8-byte ints widened to
  *     doubles — VPIC auxiliary arrays are ints), Fill Value
  *     (v1-v3 + old, decoded in the dataset's type), Data Layout
  *     (v3, class 1 contiguous or class 2 CHUNKED), and for chunked
  *     data the optional Filter Pipeline (v1: shuffle, deflate,
  *     and a trailing fletcher32 whose per-chunk checksum is
  *     verified) — real h5py/VPIC dumps are typically chunked f32
  *     with gzip, which is exactly this corner;
  *   - chunked raw data behind a v1 B-tree of node type 1 (ANY
  *     depth on read; the writer emits multi-level trees past 2·K
  *     chunks per node), each chunk individually deflated so a
  *     reader decompresses ONLY the chunks it touches; SPARSE
  *     (lazily-allocated) chunk grids read as the fill value —
  *     h5py allocates chunks on write, so partially-written real
  *     dumps (restart dumps, short final time chunks) have B-tree
  *     gaps, never an error;
  *   - object header CONTINUATION blocks (libhdf5 overflows headers
  *     into them routinely — filters, fill values, attributes): the
  *     reader chains them cycle-guarded, and the writer spills past
  *     three messages so every chunked+gzip dataset exercises the
  *     path.
  *
  * v4 data layouts (the `libver='latest'` chunked write path) decode
  * for the fixed-maxshape index family: SINGLE CHUNK, IMPLICIT, and
  * unpaged FIXED ARRAY ("FAHD"/"FADB", checksums verified) — with
  * undefined-address elements reading as fill like the v1-B-tree
  * path.
  *
  * Everything OUTSIDE the subset — compact layouts, v4
  * extensible-array/v2-B-tree chunk indexes (unlimited maxshape) and
  * paged fixed arrays, non-numeric types, filters other than
  * shuffle+deflate, dense (fractal-heap) link storage, non-hard
  * links, superblock extensions, >=2 GiB chunks — is rejected LOUDLY
  * with a precise message, never silently mis-read (the WAV/AVI
  * parser discipline).
  *
  * The parser builds a metadata INDEX ONLY (paths, dims, data/chunk
  * addresses) by seeking through header structures; dataset bytes
  * are never materialized here — the DSv2 partition reader seeks
  * straight into its own contiguous block slice or its own chunks
  * and decompresses per chunk, which is the 100 TB ingest story
  * ([[VPICSource]]).
  */
object Hdf5 {
  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, 0x0a)
  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF: the undefined address
  private val LeafK = 4 // symbols per SNOD = 2 * LeafK
  /** Chunk B-tree K. Superblock v0 carries no indexed-storage K field;
    * libhdf5's default for v0 files is 32, so nodes hold up to 64
    * chunk entries and are allocated at that size.
    */
  private val IstoreK = 32

  /** Physical layout of one dataset's raw data. */
  sealed trait H5Layout
  /** One uncompressed block at `dataAddress`. */
  final case class H5Contiguous(dataAddress: Long) extends H5Layout
  /** COMPACT layout (class 0): the raw bytes live INLINE in the data
    * layout message — h5py stores tiny datasets (axis arrays,
    * scalars) this way. The bytes are copied out at index time
    * (compact data is <=64 KiB by spec, metadata-scale); driver-side
    * reads serve from the copy, and the DSv2 scan rejects compact
    * VARIABLES loudly (a bulk variable in a compact layout would be
    * a malformed dump, not a scan target).
    */
  final case class H5Compact(data: Array[Byte]) extends H5Layout
  /** Chunked storage: `chunkDims` are the SPATIAL chunk dims (same
    * rank as the dataset; the on-disk key/layout carry a trailing
    * element-size dim which is validated and dropped here), `gzip`
    * says each chunk is a deflate stream, `shuffle` that the bytes
    * were byte-transposed before deflate (the standard h5py
    * `shuffle=True, compression='gzip'` combination), `fletcher`
    * that each stored chunk carries a trailing 4-byte fletcher32
    * checksum (h5py's `fletcher32=True`, applied LAST so it covers
    * the compressed bytes — verified and stripped first on read),
    * and `chunks` is the full chunk index in offset order — metadata
    * only (one entry per chunk, no data).
    */
  final case class H5Chunked(chunkDims: Array[Long], gzip: Boolean,
      shuffle: Boolean, chunks: Seq[H5Chunk],
      fletcher: Boolean = false) extends H5Layout
  /** One chunk: its dataset-space offset (rank values), its file
    * address, and its STORED byte count (compressed size under gzip).
    */
  final case class H5Chunk(offset: Array[Long], addr: Long,
      storedBytes: Long)

  /** One dataset in the index: slash-joined path, dimension sizes,
    * byte order, element size (4 = binary32, 8 = binary64 for floats;
    * 1/2/4/8 for fixed-point) and layout. `fill` is the dataset's
    * fill value (Fill Value message, default 0.0) — what reads of
    * UNALLOCATED chunks return: h5py allocates chunks lazily on
    * write, so partially-written real dumps have B-tree gaps and
    * `reader[var][:]` returns fill-filled arrays there
    * (vpicdataset.py:229). `fixedPoint` marks a class-0 (integer)
    * datatype, widened to doubles on read — VPIC auxiliary datasets
    * (ranks, topology, species counts) are ints; `signed` is its
    * two's-complement signedness (meaningless for floats).
    */
  final case class H5Dataset(path: String, dims: Array[Long],
      littleEndian: Boolean, elemSize: Int, layout: H5Layout,
      fill: Double = 0.0, fixedPoint: Boolean = false,
      signed: Boolean = true) {
    def nElems: Long = dims.product
    /** The contiguous block address — only meaningful for
      * [[H5Contiguous]] datasets; callers on the chunked path go
      * through the chunk index instead.
      */
    def dataAddress: Long = layout match {
      case H5Contiguous(a) => a
      case other => throw new IllegalStateException(
        s"HDF5: $path is ${other.getClass.getSimpleName}; it has " +
          "no single data address")
    }
  }

  /** Writer-side description of one dataset. `chunkDims = None` is
    * the contiguous layout; `Some(dims)` chunks the data (required
    * for `gzip`/`shuffle` — HDF5 filters apply to chunked layouts
    * only). `shuffle` byte-transposes each chunk before deflate
    * (h5py's default companion to gzip — same-significance bytes
    * land adjacent, which is what makes float data compress).
    * `f32` stores IEEE binary32 (values are narrowed; the reader
    * widens back to doubles). `fixed` stores a class-0 FIXED-POINT
    * (integer) datatype instead: (byte size in {1,2,4,8}, signed) —
    * every value must be exactly representable. `sparse` is the
    * lazy-allocation knob: chunks whose offset the predicate selects
    * are NOT written (no B-tree entry — exactly what h5py produces
    * for never-written extents); reads there return `fillValue`,
    * which is stamped into a Fill Value message when non-zero.
    */
  final case class H5Write(path: String, dims: Array[Long],
      data: Array[Double], chunkDims: Option[Array[Long]] = None,
      gzip: Boolean = false, f32: Boolean = false,
      shuffle: Boolean = false, fixed: Option[(Int, Boolean)] = None,
      fillValue: Double = 0.0,
      sparse: Option[Array[Long] => Boolean] = None,
      fletcher: Boolean = false, compact: Boolean = false)

  // ------------------------------------------------------------------
  // Writer
  // ------------------------------------------------------------------

  private final class Buf {
    private var arr = new Array[Byte](1 << 16)
    private var len = 0
    def pos: Long = len.toLong
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        var cap = arr.length
        while (cap < len + n) cap <<= 1
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    def bytes(b: Array[Byte]): Long =
      { val at = pos; ensure(b.length); System.arraycopy(b, 0, arr, len, b.length); len += b.length; at }
    def u8(v: Int): Long = bytes(Array(v.toByte))
    def u16(v: Int): Long =
      bytes(Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def u32(v: Long): Long = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt((v & 0xffffffffL).toInt); bytes(b.array())
    }
    def u64(v: Long): Long = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); bytes(b.array())
    }
    def pad8(): Unit = while (len % 8 != 0) u8(0)
    def zeroTo(at: Long): Unit = { require(at >= pos); while (pos < at) u8(0) }
    def patchU64(at: Long, v: Long): Unit = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(v)
      System.arraycopy(b.array(), 0, arr, at.toInt, 8)
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  /** Serialized element width of a write spec: the fixed-point byte
    * size, else 4 (binary32) or 8 (binary64).
    */
  private def elemSizeOf(spec: H5Write): Int =
    spec.fixed.map(_._1).getOrElse(if (spec.f32) 4 else 8)

  private sealed trait Node
  private final case class DsNode(spec: H5Write) extends Node
  private final case class GrpNode(
      children: scala.collection.mutable.LinkedHashMap[String, Node])
    extends Node

  /** Deflate `b` (zlib stream — the HDF5 deflate filter's format). */
  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val tmp = new Array[Byte](8192)
      while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
      out.toByteArray
    } finally d.end()
  }

  /** Inflate a stored chunk to exactly `expect` bytes, rejecting
    * truncated or oversize streams loudly.
    */
  def inflate(b: Array[Byte], expect: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b)
      val out = new Array[Byte](expect)
      var off = 0
      var stalled = false
      while (off < expect && !inf.finished() && !stalled) {
        val k =
          try inf.inflate(out, off, expect - off)
          catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"HDF5: corrupt deflate stream in chunk (${e.getMessage})")
          }
        // needsDictionary: a zlib header with FDICT set makes inflate
        // return 0 with needsInput()==false forever — treat as stalled
        // (loud reject below), never spin
        if (k == 0 && (inf.needsInput() || inf.needsDictionary()))
          stalled = true
        off += k
      }
      require(off == expect,
        s"HDF5: chunk inflated to $off bytes, expected $expect " +
          "(truncated or corrupt deflate stream)")
      require(inf.finished() || inf.inflate(new Array[Byte](1)) == 0,
        "HDF5: deflate stream longer than the declared chunk")
      out
    } finally inf.end()
  }

  /** The HDF5 shuffle filter (id 2): byte-transpose so every
    * element's k-th byte lands in the k-th plane — what makes float
    * chunks deflate. `b.length` must be a multiple of `elemSize`.
    */
  private def shuffleBytes(b: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = b.length / elemSize
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < elemSize) {
        out(k * n + i) = b(i * elemSize + k)
        k += 1
      }
      i += 1
    }
    out
  }

  private def unshuffleBytes(b: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = b.length / elemSize
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < elemSize) {
        out(i * elemSize + k) = b(k * n + i)
        k += 1
      }
      i += 1
    }
    out
  }

  /** STORED bytes decoded by [[decodeChunk]] in this JVM — the
    * counter behind the chunk-pruning claim (a pruned scan must
    * inflate ONLY intersecting chunks' bytes), asserted by
    * VPICSourceSpec's bytes-inflated pruning test. Local-mode
    * instrumentation; cost is one atomic add per CHUNK, nothing
    * per-element.
    */
  val decodedStoredBytes = new java.util.concurrent.atomic.AtomicLong

  /** HDF5's fletcher32 (H5checksum.c structure, public): Fletcher's
    * checksum over BIG-endian 16-bit words with 360-word partial
    * folds, an odd trailing byte high-justified, and a final fold to
    * (sum2 << 16) | sum1.
    */
  def fletcher32(b: Array[Byte], off: Int, len: Int): Int = {
    var sum1 = 0L
    var sum2 = 0L
    var i = off
    var words = len / 2
    while (words > 0) {
      var tlen = math.min(words, 360)
      words -= tlen
      while (tlen > 0) {
        sum1 += ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
        sum2 += sum1
        i += 2
        tlen -= 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    if (len % 2 == 1) {
      sum1 += (b(off + len - 1) & 0xff).toLong << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    ((sum2 << 16) | sum1).toInt
  }

  /** Decode one STORED chunk back to raw element bytes: inverse
    * filters in reverse pipeline order (verify+strip the fletcher32
    * trailer, inflate, then un-shuffle). Shared by the driver-side
    * reads and the DSv2 chunk partition reader — one copy of the
    * filter semantics.
    */
  def decodeChunk(stored: Array[Byte], expectBytes: Int, gzip: Boolean,
      shuffle: Boolean, elemSize: Int,
      fletcher: Boolean = false): Array[Byte] = {
    decodedStoredBytes.addAndGet(stored.length.toLong): Unit
    val body = if (!fletcher) stored else {
      require(stored.length >= 4,
        s"HDF5: fletcher32 chunk of ${stored.length} bytes has no " +
          "room for its checksum trailer")
      val n = stored.length - 4
      val want = ByteBuffer.wrap(stored, n, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val got = fletcher32(stored, 0, n)
      require(got == want,
        f"HDF5: chunk fletcher32 0x$got%08x != stored 0x$want%08x " +
          "(corrupt chunk)")
      java.util.Arrays.copyOf(stored, n)
    }
    val inflated = if (gzip) inflate(body, expectBytes) else {
      require(body.length == expectBytes,
        s"HDF5: unfiltered chunk stores ${body.length} bytes, " +
          s"expected $expectBytes")
      body
    }
    if (shuffle) unshuffleBytes(inflated, elemSize) else inflated
  }

  /** Legacy entry point: contiguous f64 datasets (slash-joined path ->
    * (dims, row-major values)).
    */
  def write(path: String,
      datasets: Seq[(String, Array[Long], Array[Double])],
      littleEndian: Boolean = false): Unit =
    writeSpecs(path, datasets.map { case (p, dims, data) =>
      H5Write(p, dims, data)
    }, littleEndian)

  /** Write `datasets` as a real HDF5 file. Intermediate groups are
    * created; link order within a group is name-sorted (the B-tree
    * contract); chunked datasets get a node-type-1 chunk B-tree and,
    * under `gzip`, per-chunk deflate streams.
    */
  def writeSpecs(path: String, datasets: Seq[H5Write],
      littleEndian: Boolean = false): Unit = {
    datasets.foreach { d =>
      require(d.dims.forall(_ > 0), s"HDF5 write: bad dims for ${d.path}")
      require(d.dims.product == d.data.length,
        s"HDF5 write: ${d.path} dims ${d.dims.mkString("x")} != " +
          s"${d.data.length} values")
      d.chunkDims.foreach { cd =>
        require(cd.length == d.dims.length,
          s"HDF5 write: ${d.path} chunk rank ${cd.length} != ${d.dims.length}")
        require(cd.forall(_ > 0), s"HDF5 write: bad chunk dims for ${d.path}")
        require(cd.zip(d.dims).forall { case (c, n) => c <= n },
          s"HDF5 write: ${d.path} chunk ${cd.mkString("x")} exceeds " +
            s"dims ${d.dims.mkString("x")}")
      }
      require((!d.gzip && !d.shuffle && !d.fletcher)
          || d.chunkDims.isDefined,
        s"HDF5 write: ${d.path} gzip/shuffle/fletcher requires a " +
          "chunked layout (HDF5 filters apply to chunks)")
      if (d.compact) {
        require(d.chunkDims.isEmpty && !d.gzip && !d.shuffle
            && !d.fletcher && d.sparse.isEmpty,
          s"HDF5 write: ${d.path} compact layout excludes chunking " +
            "and filters")
        val bytes = d.data.length.toLong * elemSizeOf(d)
        require(bytes <= 65520,
          s"HDF5 write: ${d.path} compact layout of $bytes bytes " +
            "(spec bound is 64 KiB)")
      }
      require(d.sparse.isEmpty || d.chunkDims.isDefined,
        s"HDF5 write: ${d.path} sparse (unallocated) chunks require a " +
          "chunked layout")
      d.fixed.foreach { case (sz, signed) =>
        require(!d.f32,
          s"HDF5 write: ${d.path} is both f32 and fixed-point")
        require(Set(1, 2, 4, 8).contains(sz),
          s"HDF5 write: ${d.path} fixed-point size $sz (need 1/2/4/8)")
        // STRICT upper bound: pow(2, 63)-1 and pow(2, 64)-1 round UP
        // to the power itself in double, so a `<= hi` test would
        // admit 2^63 / 2^64 — values serialize cannot represent
        val lo = if (!signed) 0.0 else -math.pow(2, sz * 8 - 1)
        val hiEx = math.pow(2, if (signed) sz * 8 - 1 else sz * 8)
        def check(v: Double): Unit = require(
          v == math.rint(v) && v >= lo && v < hiEx,
          s"HDF5 write: ${d.path} value $v not exactly representable " +
            s"as a $sz-byte ${if (signed) "signed" else "unsigned"} int")
        d.data.foreach(check)
        check(d.fillValue)
      }
    }
    val root = GrpNode(scala.collection.mutable.LinkedHashMap.empty)
    datasets.foreach { d =>
      val parts = d.path.split('/').filter(_.nonEmpty)
      require(parts.nonEmpty, "HDF5 write: empty dataset path")
      var g = root
      parts.dropRight(1).foreach { seg =>
        g = g.children.getOrElseUpdate(seg,
          GrpNode(scala.collection.mutable.LinkedHashMap.empty)) match {
          case grp: GrpNode => grp
          case _: DsNode => throw new IllegalArgumentException(
            s"HDF5 write: $seg is both a dataset and a group on path ${d.path}")
        }
      }
      require(!g.children.contains(parts.last),
        s"HDF5 write: duplicate path ${d.path}")
      g.children(parts.last) = DsNode(d)
    }

    val buf = new Buf
    val order = if (littleEndian) ByteOrder.LITTLE_ENDIAN
                else ByteOrder.BIG_ENDIAN
    // ---- superblock v0 (96 bytes; EOF + root entry patched at the end)
    buf.bytes(Signature)
    buf.u8(0); buf.u8(0); buf.u8(0); buf.u8(0) // versions + reserved
    buf.u8(0) // shared header message version
    buf.u8(8); buf.u8(8); buf.u8(0) // sizeof offsets, lengths, reserved
    buf.u16(LeafK); buf.u16(16) // group leaf / internal node K
    buf.u32(0) // file consistency flags
    buf.u64(0) // base address
    buf.u64(Undef) // free-space info address
    val eofAt = buf.u64(0) // end-of-file address (patched)
    buf.u64(Undef) // driver info block
    // root symbol table entry (40 bytes; addresses patched)
    val rootLinkAt = buf.u64(0)
    val rootOhAt = buf.u64(0)
    buf.u32(1); buf.u32(0) // cache type 1 (group), reserved
    val rootBtAt = buf.u64(0)
    val rootHeapAt = buf.u64(0)
    require(rootLinkAt == 56, "HDF5 write: superblock layout drifted")

    def pad8len(n: Int): Int = (n + 7) & ~7

    def serialize(spec: H5Write, vals: Array[Double]): Array[Byte] = {
      val es = elemSizeOf(spec)
      val bb = ByteBuffer.allocate(vals.length * es).order(order)
      spec.fixed match {
        case Some((sz, _)) => vals.foreach { v =>
          // unsigned 64-bit values past Long.MaxValue need the
          // two's-complement detour — a bare toLong would SATURATE
          // and silently store the wrong bits (validation admits the
          // full u64 double range below 2^64)
          val l =
            if (v < 9.223372036854775808e18) v.toLong // < 2^63: exact
            else (v - 9.223372036854775808e18).toLong | Long.MinValue
          sz match {
            case 1 => bb.put(l.toByte)
            case 2 => bb.putShort(l.toShort)
            case 4 => bb.putInt(l.toInt)
            case _ => bb.putLong(l)
          }
        }
        case None =>
          if (spec.f32) vals.foreach(v => bb.putFloat(v.toFloat))
          else vals.foreach(bb.putDouble)
      }
      bb.array()
    }

    /** Raw-data chunk B-tree key: stored size, filter mask 0, then
      * rank+1 offsets (the trailing one — the element-size dim — is 0).
      */
    def chunkKey(storedBytes: Long, offsets: Array[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + 8 * (offsets.length + 1))
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(storedBytes.toInt); b.putInt(0)
      offsets.foreach(b.putLong); b.putLong(0L)
      b.array()
    }

    /** Write a node-type-1 B-tree over `addrs` chunks with boundary
      * keys `keys` (addrs.length + 1 of them: each chunk's key plus
      * the past-the-end key). Builds as many levels as the 2·K node
      * capacity requires; every node is zero-padded to its full
      * allocated size and siblings are wired. Returns the root addr.
      */
    def writeChunkBtree(keys: IndexedSeq[Array[Byte]],
        addrs: IndexedSeq[Long]): Long = {
      val keySize = keys.head.length
      val cap = 2 * IstoreK
      val alloc = 24L + cap * 8 + (cap + 1) * keySize
      def level(lvl: Int, ks: IndexedSeq[Array[Byte]],
          children: IndexedSeq[Long]): Long = {
        val groups = children.indices.grouped(cap).toIndexedSeq
        val nodeAddrs = new Array[Long](groups.length)
        groups.zipWithIndex.foreach { case (g, gi) =>
          buf.pad8()
          val at = buf.pos
          nodeAddrs(gi) = at
          buf.bytes("TREE".getBytes(US_ASCII))
          buf.u8(1); buf.u8(lvl) // node type 1 (raw data), level
          buf.u16(g.length)
          buf.u64(if (gi == 0) Undef else nodeAddrs(gi - 1))
          buf.u64(Undef) // right sibling, patched when the next lands
          g.foreach { i => buf.bytes(ks(i)); buf.u64(children(i)) }
          buf.bytes(ks(g.last + 1))
          buf.zeroTo(at + alloc)
          if (gi > 0) buf.patchU64(nodeAddrs(gi - 1) + 16, at)
        }
        if (groups.length == 1) nodeAddrs(0)
        else level(lvl + 1,
          groups.map(g => ks(g.head)) :+ ks.last,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(nodeAddrs))
      }
      level(0, keys, addrs)
    }

    def writeDatasetOh(spec: H5Write): Long = {
      val rank = spec.dims.length
      val es = elemSizeOf(spec)
      // raw data first (the layout message needs its address)
      val layout: Array[Byte] = spec.chunkDims match {
        case None if spec.compact =>
          // COMPACT: the data rides inside the message itself
          val raw = serialize(spec, spec.data)
          val b = ByteBuffer.allocate(pad8len(4 + raw.length))
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(0.toByte) // version 3, class 0 compact
          b.putShort(raw.length.toShort)
          b.put(raw)
          b.array()
        case None =>
          buf.pad8()
          val dataAddr = buf.pos
          buf.bytes(serialize(spec, spec.data))
          val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(1.toByte) // version 3, class 1 contiguous
          b.putLong(dataAddr).putLong(spec.data.length.toLong * es)
          b.array()
        case Some(cd) =>
          // chunk grid in row-major offset order — the increasing-key
          // contract of the B-tree
          val grid = spec.dims.zip(cd).map { case (n, c) =>
            ((n + c - 1) / c).toInt
          }
          val chunkElems = cd.product.toInt
          val strides = new Array[Long](rank)
          strides(rank - 1) = 1
          (rank - 2 to 0 by -1).foreach(d =>
            strides(d) = strides(d + 1) * spec.dims(d + 1))
          val coords = new Array[Int](rank)
          val nChunks = grid.product
          val keys = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          val addrs = scala.collection.mutable.ArrayBuffer.empty[Long]
          (0 until nChunks).foreach { _ =>
            val off = coords.zip(cd).map { case (g, c) => g * c }
            // lazy-allocation knob: a sparse-selected chunk is simply
            // never written — no bytes, no B-tree entry (what h5py
            // leaves behind for never-written extents)
            if (!spec.sparse.exists(_(off))) {
              // gather the FULL chunk (fill value past the dataset edge)
              val vals = Array.fill(chunkElems)(spec.fillValue)
              val local = new Array[Int](rank)
              (0 until chunkElems).foreach { li =>
                var inBounds = true
                var lin = 0L
                var d = 0
                while (d < rank) {
                  val g = off(d) + local(d)
                  if (g >= spec.dims(d)) inBounds = false
                  lin += g * strides(d)
                  d += 1
                }
                if (inBounds) vals(li) = spec.data(lin.toInt)
                var k = rank - 1
                while (k >= 0) {
                  local(k) += 1
                  if (local(k) < cd(k)) k = -1
                  else { local(k) = 0; k -= 1 }
                }
              }
              val raw = serialize(spec, vals)
              val shuffled =
                if (spec.shuffle) shuffleBytes(raw, es) else raw
              val deflated =
                if (spec.gzip) deflate(shuffled) else shuffled
              // fletcher32 LAST (the h5py position): the trailer
              // checksums the compressed bytes
              val stored = if (!spec.fletcher) deflated else {
                val out = java.util.Arrays.copyOf(deflated,
                  deflated.length + 4)
                val ck = ByteBuffer.allocate(4)
                  .order(ByteOrder.LITTLE_ENDIAN)
                ck.putInt(fletcher32(deflated, 0, deflated.length))
                System.arraycopy(ck.array(), 0, out, deflated.length, 4)
                out
              }
              buf.pad8()
              addrs += buf.bytes(stored)
              keys += chunkKey(stored.length.toLong, off)
            }
            var k = rank - 1
            while (k >= 0) {
              coords(k) += 1
              if (coords(k) < grid(k)) k = -1
              else { coords(k) = 0; k -= 1 }
            }
          }
          // past-the-end boundary key: the chunk-grid edge offsets.
          // ZERO allocated chunks (a fully lazily-allocated dataset —
          // h5py before any write lands) → no B-tree at all: the
          // layout message carries the undefined address.
          keys += chunkKey(0L,
            grid.zip(cd).map { case (g, c) => g.toLong * c })
          val btAddr =
            if (addrs.isEmpty) Undef
            else writeChunkBtree(keys.toIndexedSeq, addrs.toIndexedSeq)
          val b = ByteBuffer.allocate(pad8len(2 + 1 + 8 + 4 * (rank + 1)))
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(2.toByte) // version 3, class 2 chunked
          b.put((rank + 1).toByte) // dimensionality incl. elem-size dim
          b.putLong(btAddr)
          cd.foreach(c => b.putInt(c.toInt))
          b.putInt(es)
          b.array()
      }
      buf.pad8()
      val ohAddr = buf.pos
      // message bodies, 8-byte aligned
      val dspace = {
        val b = ByteBuffer.allocate(8 + spec.dims.length * 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).put(spec.dims.length.toByte)
          .put(0.toByte) // flags: no max dims
          .put(Array[Byte](0, 0, 0, 0, 0)) // reserved
        spec.dims.foreach(b.putLong)
        b.array()
      }
      val dtype = if (spec.fixed.isDefined) {
        // class 0 FIXED-POINT: version 1; bit field: bit0 byte order,
        // bit3 signed; properties are bit offset (0) + precision
        val (sz, signed) = spec.fixed.get
        val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0x10.toByte) // version 1, class 0
        b.put(((if (littleEndian) 0 else 1)
          | (if (signed) 8 else 0)).toByte)
        b.put(0.toByte).put(0.toByte)
        b.putInt(sz)
        b.putShort(0).putShort((sz * 8).toShort) // bit offset, precision
        b.array() // 12 used + 4 pad within alloc
      } else {
        val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0x11.toByte) // version 1, class 1 (floating point)
        // class bit field: bit0 byte order, bits4-5 mantissa norm = 2
        b.put((0x20 | (if (littleEndian) 0 else 1)).toByte)
        if (spec.f32) {
          b.put(31.toByte).put(0.toByte) // sign location, reserved
          b.putInt(4) // size
          b.putShort(0).putShort(32) // bit offset, precision
          b.put(23.toByte).put(8.toByte) // exponent location, size
          b.put(0.toByte).put(23.toByte) // mantissa location, size
          b.putInt(127) // exponent bias
        } else {
          b.put(63.toByte).put(0.toByte) // sign location, reserved
          b.putInt(8) // size
          b.putShort(0).putShort(64) // bit offset, precision
          b.put(52.toByte).put(11.toByte) // exponent location, size
          b.put(0.toByte).put(52.toByte) // mantissa location, size
          b.putInt(1023) // exponent bias
        }
        b.array() // 24 bytes (20 used + 4 implicit pad within alloc)
      }
      val msgs = scala.collection.mutable.ArrayBuffer(
        (0x0001, dspace), (0x0003, dtype), (0x0008, layout))
      if (spec.fillValue != 0.0) msgs += ((0x0005, {
        // Fill Value v3: flags = alloc-time late (2) | write-time at
        // allocation (0<<2) | defined (bit 5); value in the DATASET
        // datatype and byte order
        val fb = serialize(spec, Array(spec.fillValue))
        val b = ByteBuffer.allocate(pad8len(2 + 4 + fb.length))
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put(3.toByte).put((2 | 0x20).toByte)
        b.putInt(fb.length)
        b.put(fb)
        b.array()
      }))
      if (spec.gzip || spec.shuffle || spec.fletcher) msgs += ((0x000B, {
        // filters in APPLICATION order: shuffle (byte-transpose,
        // client value = element size), deflate, then fletcher32
        // LAST (no client values — the h5py position, so the
        // checksum covers the compressed bytes)
        val fs = Seq(
          if (spec.shuffle) Some((2, "shuffle", Seq(es))) else None,
          if (spec.gzip) Some((1, "deflate", Seq(6))) else None,
          if (spec.fletcher) Some((3, "fletcher32", Seq.empty[Int]))
          else None).flatten
        def padName(n: String): Array[Byte] = {
          val padded = (n.length + 1 + 7) & ~7
          java.util.Arrays.copyOf(n.getBytes(US_ASCII), padded)
        }
        val descs = fs.map { case (id, name, cvals) =>
          val nb = padName(name)
          val cvBytes = 4 * cvals.length + (if (cvals.length % 2 == 1) 4 else 0)
          val b = ByteBuffer.allocate(8 + nb.length + cvBytes)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.putShort(id.toShort)
          b.putShort(nb.length.toShort)
          b.putShort(0) // flags
          b.putShort(cvals.length.toShort)
          b.put(nb)
          cvals.foreach(b.putInt)
          if (cvals.length % 2 == 1) b.putInt(0) // pad
          b.array()
        }
        val b = ByteBuffer.allocate(8 + descs.map(_.length).sum)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).put(fs.length.toByte) // version 1, n filters
        b.putShort(0).putInt(0) // reserved
        descs.foreach(b.put)
        b.array()
      }))
      writeOh(ohAddr, msgs.toSeq)
      ohAddr
    }

    def writeMsg(tpe: Int, body: Array[Byte]): Unit = {
      buf.u16(tpe); buf.u16(pad8len(body.length))
      buf.u8(0); buf.u8(0); buf.u8(0); buf.u8(0) // flags + reserved
      buf.bytes(body)
      buf.pad8()
    }

    /** v1 object header. Past three messages the remainder spills
      * into an OBJECT HEADER CONTINUATION block (message 0x0010 —
      * offset + length patched once the block lands), which is
      * exactly what libhdf5 does when a header overflows: every
      * chunked+gzip dataset here (4 messages) therefore exercises
      * the continuation path end to end.
      */
    def writeOh(at: Long, msgs: Seq[(Int, Array[Byte])]): Unit = {
      require(buf.pos == at)
      val (first, rest) =
        if (msgs.length > 3) msgs.splitAt(3) else (msgs, Nil)
      val contMsgSize = if (rest.isEmpty) 0 else 8 + 16
      val bodySize =
        first.map(m => 8 + pad8len(m._2.length)).sum + contMsgSize
      buf.u8(1); buf.u8(0) // version, reserved
      buf.u16(msgs.length + (if (rest.isEmpty) 0 else 1))
      buf.u32(1) // object reference count
      buf.u32(bodySize.toLong)
      buf.u32(0) // pad to 8-byte alignment of the message block
      first.foreach { case (tpe, body) => writeMsg(tpe, body) }
      if (rest.nonEmpty) {
        buf.u16(0x0010); buf.u16(16)
        buf.u8(0); buf.u8(0); buf.u8(0); buf.u8(0)
        val contOffAt = buf.u64(0) // patched below
        val contLenAt = buf.u64(0)
        buf.pad8()
        val contAddr = buf.pos
        rest.foreach { case (tpe, body) => writeMsg(tpe, body) }
        buf.patchU64(contOffAt, contAddr)
        buf.patchU64(contLenAt, buf.pos - contAddr)
      }
    }

    def writeGroup(g: GrpNode): (Long, Long, Long) = {
      // children first (their addresses go into this group's SNOD)
      val entries = g.children.toSeq.sortBy(_._1).map {
        case (name, DsNode(spec)) =>
          (name, writeDatasetOh(spec), 0, Undef, Undef)
        case (name, sub: GrpNode) =>
          val (oh, bt, hp) = writeGroup(sub)
          (name, oh, 1, bt, hp)
      }
      // local heap: 8 reserved bytes, then the names null-terminated,
      // 8-byte aligned (offset 0 names the empty string)
      val nameOff = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var off = 8L
      entries.foreach { case (name, _, _, _, _) =>
        nameOff(name) = off
        off += pad8len(name.length + 1)
      }
      buf.pad8()
      val heapAddr = buf.pos
      buf.bytes("HEAP".getBytes(US_ASCII))
      buf.u8(0); buf.u8(0); buf.u8(0); buf.u8(0) // version + reserved
      buf.u64(off) // data segment size
      buf.u64(Undef) // free list head: none
      val heapDataAddr = heapAddr + 32
      buf.u64(heapDataAddr)
      require(buf.pos == heapDataAddr)
      buf.u64(0) // the 8 reserved bytes (offset 0: empty string)
      entries.foreach { case (name, _, _, _, _) =>
        buf.bytes(name.getBytes(US_ASCII)); buf.u8(0); buf.pad8()
      }
      // SNODs of up to 2*LeafK entries each (name-sorted — the B-tree
      // key contract), every node padded to its full allocated size so
      // a reader that fetches whole allocated nodes never lands past
      // end-of-file; wide groups take several SNODs — real dumps put
      // dozens of variables in one group
      val snodGroups =
        if (entries.isEmpty) Seq(Seq.empty) // an empty (root) group
        else entries.grouped(2 * LeafK).toSeq
      val snods = snodGroups.map { grp =>
        buf.pad8()
        val snodAddr = buf.pos
        buf.bytes("SNOD".getBytes(US_ASCII))
        buf.u8(1); buf.u8(0) // version, reserved
        buf.u16(grp.length)
        grp.foreach { case (name, oh, cache, bt, hp) =>
          buf.u64(nameOff(name))
          buf.u64(oh)
          buf.u32(cache.toLong); buf.u32(0)
          if (cache == 1) { buf.u64(bt); buf.u64(hp) }
          else { buf.u64(0); buf.u64(0) }
        }
        buf.zeroTo(snodAddr + 8 + 2L * LeafK * 40)
        (snodAddr, grp.lastOption.map(e => nameOff(e._1)).getOrElse(0L))
      }
      // group B-tree (node type 0) over the SNODs: as many levels as
      // the 2*LeafK node capacity needs, siblings wired, every node
      // padded to its allocation. Boundary keys are heap name offsets:
      // key_0 = 0 (the empty string, <= every name), key_{i+1} = the
      // LAST name of child i's subtree.
      val cap = 2 * LeafK
      val alloc = 24L + cap * 8 + (cap + 1) * 8
      def level(lvl: Int, children: Seq[(Long, Long)]): Long = {
        val groups = children.grouped(cap).toIndexedSeq
        val nodeAddrs = new Array[Long](groups.length)
        val summaries = groups.zipWithIndex.map { case (grp, gi) =>
          buf.pad8()
          val at = buf.pos
          nodeAddrs(gi) = at
          buf.bytes("TREE".getBytes(US_ASCII))
          buf.u8(0); buf.u8(lvl) // node type 0 (group), level
          buf.u16(grp.length)
          buf.u64(if (gi == 0) Undef else nodeAddrs(gi - 1))
          buf.u64(Undef) // right sibling, patched when the next lands
          // siblings SHARE the split key (left.lastKey == right.key_0,
          // the libhdf5 invariant): this node's left boundary is the
          // previous sibling's last-name key, 0 only for the first
          var prevLast =
            if (gi == 0) 0L else groups(gi - 1).last._2
          grp.foreach { case (child, lastName) =>
            buf.u64(prevLast) // key <= first name of this child
            buf.u64(child)
            prevLast = lastName
          }
          buf.u64(prevLast) // final key: last name in the subtree
          buf.zeroTo(at + alloc)
          if (gi > 0) buf.patchU64(nodeAddrs(gi - 1) + 16, at)
          (at, grp.last._2)
        }
        if (groups.length == 1) nodeAddrs(0)
        else level(lvl + 1, summaries)
      }
      val btAddr = level(0, snods)
      // group object header: one symbol table message
      buf.pad8()
      val ohAddr = buf.pos
      val stMsg = {
        val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
        b.putLong(btAddr).putLong(heapAddr)
        b.array()
      }
      writeOh(ohAddr, Seq((0x0011, stMsg)))
      (ohAddr, btAddr, heapAddr)
    }

    val (rootOh, rootBt, rootHeap) = writeGroup(root)
    buf.patchU64(rootOhAt, rootOh)
    buf.patchU64(rootBtAt, rootBt)
    buf.patchU64(rootHeapAt, rootHeap)
    buf.patchU64(eofAt, buf.pos)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.result): Unit
  }

  // ------------------------------------------------------------------
  // Parser
  // ------------------------------------------------------------------

  def isHdf5(b: Array[Byte]): Boolean =
    b.length >= 8 && (0 until 8).forall(i => b(i) == Signature(i))

  /** Jenkins lookup3 "hashlittle" with zero seed — the checksum HDF5
    * stamps on v2/v3 superblocks and v2 object headers
    * (H5_checksum_lookup3; Bob Jenkins' lookup3.c is public domain).
    * Public so the fixture-crafting specs can stamp spec-faithful
    * checksums into hand-built v2/v3 files (no HDF5 library in this
    * environment) — pinned against lookup3.c's own published test
    * vectors in Hdf5Spec so writer-and-reader can't agree on a wrong
    * hash.
    */
  def lookup3(buf: Array[Byte], off: Int, len: Int): Int = {
    def rot(x: Int, k: Int): Int = java.lang.Integer.rotateLeft(x, k)
    def u(i: Int): Int = buf(i) & 0xff
    var a = 0xdeadbeef + len
    var b = a
    var c = a
    var i = off
    var rem = len
    while (rem > 12) {
      a += u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
      b += u(i + 4) | (u(i + 5) << 8) | (u(i + 6) << 16) | (u(i + 7) << 24)
      c += u(i + 8) | (u(i + 9) << 8) | (u(i + 10) << 16) | (u(i + 11) << 24)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; rem -= 12
    }
    if (rem == 0) return c // per lookup3.c: empty tail skips final()
    if (rem >= 1) a += u(i)
    if (rem >= 2) a += u(i + 1) << 8
    if (rem >= 3) a += u(i + 2) << 16
    if (rem >= 4) a += u(i + 3) << 24
    if (rem >= 5) b += u(i + 4)
    if (rem >= 6) b += u(i + 5) << 8
    if (rem >= 7) b += u(i + 6) << 16
    if (rem >= 8) b += u(i + 7) << 24
    if (rem >= 9) c += u(i + 8)
    if (rem >= 10) c += u(i + 9) << 8
    if (rem >= 11) c += u(i + 10) << 16
    if (rem >= 12) c += u(i + 11) << 24
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  private final class Reader(raf: RandomAccessFile) {
    def at(addr: Long, n: Int): ByteBuffer = {
      require(addr >= 0 && addr + n <= raf.length(),
        s"HDF5: read of $n bytes at $addr overruns the file " +
          s"(${raf.length()} bytes)")
      val b = new Array[Byte](n)
      raf.seek(addr)
      raf.readFully(b)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    }
    /** NUL-terminated heap string, BOUNDED by the heap's declared data
      * segment `[heapData, heapEnd)` — a corrupt name offset must fail
      * loudly, never fabricate a name from unrelated file bytes.
      */
    def cstring(addr: Long, heapData: Long, heapEnd: Long): String = {
      require(addr >= heapData && addr < heapEnd,
        s"HDF5: heap name offset $addr outside the local heap " +
          s"data segment [$heapData, $heapEnd)")
      val sb = new StringBuilder
      raf.seek(addr)
      var pos = addr
      var c = raf.read()
      while (c > 0) {
        pos += 1
        require(pos < heapEnd,
          s"HDF5: heap string at $addr runs past the data segment " +
            s"end $heapEnd without a terminator")
        sb.append(c.toChar); c = raf.read()
      }
      require(c == 0, s"HDF5: unterminated heap string at $addr")
      sb.toString
    }
  }

  /** Parse + VALIDATE the metadata of an HDF5 file in the supported
    * subset, returning the dataset index sorted by path. Dataset bytes
    * are not read; chunked datasets carry their (metadata-only) chunk
    * index.
    */
  def index(path: String): Seq[H5Dataset] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val r = new Reader(raf)
      val hb = r.at(0, 9)
      val sig = new Array[Byte](8); hb.get(sig)
      require(isHdf5(sig), "HDF5: bad signature")
      val sver = hb.get() & 0xff

      val out = scala.collection.mutable.ArrayBuffer.empty[H5Dataset]
      // cycle guard: the object headers on the CURRENT RECURSION PATH
      // (entries removed on exit) — a crafted entry pointing back at
      // an ancestor (old-style: its symbol-table message genuinely
      // matches the cached addresses, so the consistency check
      // passes; new-style: a link cycle) must fail loudly, never
      // recurse to StackOverflowError. A path set, NOT a visited set:
      // hard-linking one object under two names (h5py
      // `f['b'] = f['a']`) is a legal DAG and indexes as two paths.
      val pathOh = scala.collection.mutable.Set.empty[Long]
      def walkGroup(prefix: String, btAddr: Long, heapAddr: Long): Unit = {
        // B-tree-node cycle guard, PER GROUP WALK (a group hard-linked
        // under two names legally re-walks the same nodes; a cycle
        // THROUGH object headers is pathOh's job): any node repeated
        // within one group's tree is corrupt
        val visited = scala.collection.mutable.Set.empty[Long]
        val hh = r.at(heapAddr, 32)
        val hsig = new Array[Byte](4); hh.get(hsig)
        require(new String(hsig, US_ASCII) == "HEAP",
          s"HDF5: no local heap at $heapAddr")
        require(hh.get() == 0, "HDF5: unsupported local heap version")
        hh.get(); hh.get(); hh.get()
        val segSize = hh.getLong()
        hh.getLong() // free list
        val heapData = hh.getLong()
        // the group B-tree: node type 0, ANY depth (libhdf5 splits
        // into internal nodes past 2K SNODs per node — wide real
        // groups hit this), children of level-0 nodes are SNODs
        def walkNode(addr: Long, expectLevel: Int): Unit = {
          require(visited.add(addr),
            s"HDF5: group B-tree cycle at $addr (at '$prefix')")
          val th = r.at(addr, 24)
          val tsig = new Array[Byte](4); th.get(tsig)
          require(new String(tsig, US_ASCII) == "TREE",
            s"HDF5: no B-tree node at $addr")
          require(th.get() == 0, "HDF5: B-tree node type != 0 (group)")
          val level = th.get() & 0xff
          require(expectLevel < 0 || level == expectLevel,
            s"HDF5: group B-tree level $level at $addr, expected " +
              s"$expectLevel (at '$prefix')")
          val nent = th.getShort() & 0xffff
          // siblings at +8, then nent+1 keys interleaved with children
          val kb = r.at(addr + 8, 16 + (2 * nent + 1) * 8)
          kb.getLong(); kb.getLong() // siblings
          (0 until nent).foreach { _ =>
            kb.getLong() // key
            val child = kb.getLong()
            if (level > 0) walkNode(child, level - 1)
            else walkSnod(child)
          }
        }
        def walkSnod(snodAddr: Long): Unit = {
          val sh = r.at(snodAddr, 8)
          val ssig = new Array[Byte](4); sh.get(ssig)
          require(new String(ssig, US_ASCII) == "SNOD",
            s"HDF5: no symbol-table node at $snodAddr")
          require(sh.get() == 1, "HDF5: unsupported SNOD version")
          sh.get()
          val nsym = sh.getShort() & 0xffff
          val eb = r.at(snodAddr + 8, nsym * 40)
          (0 until nsym).foreach { _ =>
            val nameOff = eb.getLong()
            val oh = eb.getLong()
            val cache = eb.getInt()
            eb.getInt()
            val s0 = eb.getLong(); val s1 = eb.getLong()
            val name =
              r.cstring(heapData + nameOff, heapData, heapData + segSize)
            require(name.nonEmpty,
              s"HDF5: empty link name in SNOD at $snodAddr")
            val full = if (prefix.isEmpty) name else s"$prefix/$name"
            require(cache == 0 || cache == 1,
              s"HDF5: symbol-table cache type $cache on '$full' " +
                "(symbolic links are outside the subset)")
            // cache type 1 carries the group's (btree, heap) scratch —
            // walkObject verifies it against the header's own
            // symbol-table message; cache 0 objects are classified by
            // their messages (dataset or group)
            walkObject(full, oh,
              if (cache == 1) Some((s0, s1)) else None)
          }
        }
        walkNode(btAddr, -1)
      }

      /** Walk ANY object header, v1 or v2, classifying it by its
        * messages: an old-style group (symbol-table message 0x0011),
        * a new-style group (link 0x0006 / link-info 0x0002 messages —
        * what `libver='latest'` h5py and NetCDF4 emit), or a dataset
        * (dataspace + datatype). `cached` carries an old-style
        * symbol-table entry's scratch (btree, heap) when the entry
        * declared itself a group (cache type 1): it must agree with
        * the header's own symbol-table message — catches a dataset OH
        * wired as a group and stale caches.
        */
      def walkObject(prefix: String, ohAddr: Long,
          cached: Option[(Long, Long)]): Unit = {
        require(pathOh.add(ohAddr),
          s"HDF5: object graph cycle at header $ohAddr (at '$prefix')")
        try walkObjectBody(prefix, ohAddr, cached)
        finally pathOh.remove(ohAddr): Unit
      }

      def walkObjectBody(prefix: String, ohAddr: Long,
          cached: Option[(Long, Long)]): Unit = {
        val msgs = ohMessagesAny(r, ohAddr)
        val types = msgs.map(_._1)
        if (types.contains(0x0011)) {
          val b = msgs.collectFirst { case (0x0011, bb) => bb }.get
          val bt = b.getLong(); val heap = b.getLong()
          cached.foreach { case (cb, ch) =>
            require(cb == bt && ch == heap,
              s"HDF5: symbol-table message ($bt, $heap) disagrees " +
                s"with the cached entry ($cb, $ch) at $ohAddr")
          }
          walkGroup(prefix, bt, heap)
        } else if (types.contains(0x0006) || types.contains(0x0002)) {
          require(cached.isEmpty,
            s"HDF5: entry at '$prefix' caches old-style group " +
              s"addresses but the header at $ohAddr is a new-style " +
              "(link-message) group")
          msgs.foreach {
            case (0x0002, b) => // Link Info: COMPACT storage only
              val ver = b.get()
              require(ver == 0,
                s"HDF5: link-info version $ver at '$prefix' (only v0)")
              val flags = b.get() & 0xff
              if ((flags & 1) != 0) b.getLong() // max creation index
              val fheap = b.getLong()
              require(fheap == Undef,
                s"HDF5: dense (fractal-heap) link storage at " +
                  s"'$prefix' is outside the subset")
            case _ => ()
          }
          msgs.collect { case (0x0006, b) => parseLinkMsg(b, prefix) }
            .sortBy(_._1)
            .foreach { case (name, target) =>
              val full = if (prefix.isEmpty) name else s"$prefix/$name"
              walkObject(full, target, None)
            }
        } else if (types.contains(0x0001) && types.contains(0x0003)) {
          require(cached.isEmpty,
            s"HDF5: entry at '$prefix' caches group addresses but " +
              s"the header at $ohAddr is a dataset")
          out += parseDatasetMsgs(r, prefix, msgs)
        } else throw new IllegalArgumentException(
          s"HDF5: object header at $ohAddr ('$prefix') is neither a " +
            "group nor a dataset in the decodable subset")
      }

      sver match {
        case 0 | 1 =>
          // v0 superblock (96 bytes); v1 is identical plus 4 bytes
          // (indexed-storage internal K + reserved) before the base
          // address
          val extra = if (sver == 1) 4 else 0
          val sb = r.at(9, 87 + extra)
          sb.get(); sb.get(); sb.get() // fs/root versions, reserved
          sb.get() // shared header version
          val so = sb.get(); val sl = sb.get()
          require(so == 8 && sl == 8,
            s"HDF5: offsets/lengths of $so/$sl bytes (only 8/8 " +
              "supported)")
          sb.get() // reserved
          sb.getShort(); sb.getShort() // K values (not binding on read)
          sb.getInt() // consistency flags
          if (sver == 1) { sb.getShort(); sb.getShort() } // istore K
          val base = sb.getLong()
          require(base == 0,
            s"HDF5: nonzero base address $base unsupported")
          sb.getLong() // free space
          val eof = sb.getLong()
          require(eof == raf.length(),
            s"HDF5: end-of-file address $eof != file length " +
              s"${raf.length()} (truncated or appended-to file)")
          sb.getLong() // driver info
          sb.getLong() // root link name offset
          val rootOh = sb.getLong()
          val rootCache = sb.getInt()
          require(rootCache == 1,
            s"HDF5: root symbol-table entry cache type $rootCache " +
              "(need 1)")
          sb.getInt()
          val rootBt = sb.getLong(); val rootHeap = sb.getLong()
          walkObject("", rootOh, Some((rootBt, rootHeap)))
        case 2 | 3 =>
          // v2/v3 superblock (what `libver='latest'` h5py and NetCDF4
          // emit): 48 bytes, lookup3-checksummed, root pointed at
          // directly by object header address
          val sb = r.at(0, 48)
          val arr = new Array[Byte](48); sb.get(arr); sb.rewind()
          sb.position(9)
          val so = sb.get(); val sl = sb.get()
          require(so == 8 && sl == 8,
            s"HDF5: offsets/lengths of $so/$sl bytes (only 8/8 " +
              "supported)")
          sb.get() // file consistency flags
          val base = sb.getLong()
          require(base == 0,
            s"HDF5: nonzero base address $base unsupported")
          val ext = sb.getLong()
          require(ext == Undef,
            s"HDF5: superblock extension at $ext is outside the " +
              "subset")
          val eof = sb.getLong()
          require(eof == raf.length(),
            s"HDF5: end-of-file address $eof != file length " +
              s"${raf.length()} (truncated or appended-to file)")
          val rootOh = sb.getLong()
          val want = sb.getInt()
          val got = lookup3(arr, 0, 44)
          require(got == want,
            f"HDF5: v$sver%d superblock checksum 0x$got%08x != " +
              f"stored 0x$want%08x")
          walkObject("", rootOh, None)
        case v => throw new IllegalArgumentException(
          s"HDF5: superblock version $v (v0-v3 are decodable here)")
      }
      out.sortBy(_.path).toSeq
    } finally raf.close()
  }

  /** Parse a v1 object header's messages: Seq of (type, body).
    * OBJECT HEADER CONTINUATION messages (0x0010) are followed — the
    * prefix's size field covers the FIRST message block only; each
    * continuation message carries the (offset, length) of a further
    * block, and the total message count comes from the prefix. Real
    * libhdf5 headers overflow into continuations routinely (filters,
    * fill values, attributes), so a reader without them cannot open
    * real dumps. Block addresses are cycle-guarded: a crafted
    * self-pointing continuation fails loudly.
    */
  private def ohMessages(r: Reader, addr: Long): Seq[(Int, ByteBuffer)] = {
    val h = r.at(addr, 16)
    val ver = h.get()
    require(ver == 1,
      s"HDF5: object header version $ver at $addr (only v1 supported)")
    h.get()
    val nmsg = h.getShort() & 0xffff
    h.getInt() // ref count
    val size = h.getInt()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, ByteBuffer)]
    val blocks = scala.collection.mutable.Queue((addr + 16, size.toLong))
    val seen = scala.collection.mutable.Set.empty[Long]
    var remaining = nmsg
    while (remaining > 0) {
      require(blocks.nonEmpty,
        s"HDF5: object header at $addr ran out of message blocks with " +
          s"$remaining of $nmsg messages unread")
      val (baddr, blen) = blocks.dequeue()
      require(seen.add(baddr),
        s"HDF5: object header continuation cycle at $baddr (header $addr)")
      val body = r.at(baddr, blen.toInt)
      // a block's tail may be <8 bytes of padding; messages never split
      while (remaining > 0 && body.remaining() >= 8) {
        val tpe = body.getShort() & 0xffff
        val msize = body.getShort() & 0xffff
        body.get(); body.get(); body.get(); body.get()
        require(body.remaining() >= msize,
          s"HDF5: message body overruns object header block at $baddr")
        val slice = body.slice().order(ByteOrder.LITTLE_ENDIAN)
        slice.limit(msize)
        body.position(body.position() + msize)
        if (tpe == 0x0010) {
          require(msize >= 16,
            s"HDF5: continuation message of $msize bytes at $baddr")
          val off = slice.getLong(); val len = slice.getLong()
          require(len > 0 && len <= Int.MaxValue,
            s"HDF5: continuation block length $len out of range " +
              s"(from $baddr)")
          blocks.enqueue((off, len))
        } else out += ((tpe, slice))
        remaining -= 1
      }
    }
    out.toSeq
  }

  /** Dispatch on the object header version at `addr`: a v1 header
    * starts with its version byte (1, no signature); a v2 header
    * starts with the "OHDR" signature. Anything else is rejected
    * loudly.
    */
  private def ohMessagesAny(r: Reader,
      addr: Long): Seq[(Int, ByteBuffer)] = {
    val p = r.at(addr, 4)
    val sig4 = new Array[Byte](4); p.get(sig4)
    if (new String(sig4, US_ASCII) == "OHDR") ohMessagesV2(r, addr)
    else if ((sig4(0) & 0xff) == 1) ohMessages(r, addr)
    else throw new IllegalArgumentException(
      s"HDF5: no object header at $addr (neither v1 nor OHDR)")
  }

  /** Parse a VERSION 2 object header ("OHDR" — what `libver='latest'`
    * h5py and NetCDF4 emit): prefix flags gate optional timestamp /
    * phase-change fields and size the chunk-0 length field; messages
    * carry a 1-byte type and an optional 2-byte creation-order field;
    * blocks (chunk 0 and each "OCHK" continuation) end in a Jenkins
    * lookup3 checksum which is VERIFIED — a corrupt or crafted block
    * fails loudly. Continuations are cycle-guarded like the v1 path.
    */
  private def ohMessagesV2(r: Reader,
      addr: Long): Seq[(Int, ByteBuffer)] = {
    val h = r.at(addr, 6)
    h.getInt() // "OHDR", checked by the caller
    val ver = h.get()
    require(ver == 2,
      s"HDF5: OHDR version $ver at $addr (only v2 is decodable here)")
    val flags = h.get() & 0xff
    var pos = addr + 6
    if ((flags & 0x20) != 0) pos += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) pos += 4 // attr storage phase change
    val csize = 1 << (flags & 3)
    val szb = r.at(pos, csize)
    val size0: Long = csize match {
      case 1 => (szb.get() & 0xff).toLong
      case 2 => (szb.getShort() & 0xffff).toLong
      case 4 => szb.getInt().toLong & 0xffffffffL
      case _ => szb.getLong()
    }
    pos += csize
    // margin for the prefix (<= 34 bytes) + checksum so the block
    // read's `lead + mlen + 4` can never wrap an Int — a crafted
    // near-Int.MaxValue size must reject HERE, loudly, not surface
    // as a NegativeArraySizeException
    require(size0 >= 0 && size0 <= Int.MaxValue - 64,
      s"HDF5: OHDR chunk-0 size $size0 out of range at $addr")
    val corder = (flags & 4) != 0
    val hdrBytes = if (corder) 6 else 4
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, ByteBuffer)]
    // (block start, message offset, message bytes): the lookup3
    // checksum covers [start, msgOff + msgLen) and trails the block
    val blocks =
      scala.collection.mutable.Queue((addr, pos, size0.toInt))
    val seen = scala.collection.mutable.Set.empty[Long]
    while (blocks.nonEmpty) {
      val (bstart, moff, mlen) = blocks.dequeue()
      require(seen.add(bstart),
        s"HDF5: v2 object header continuation cycle at $bstart " +
          s"(header $addr)")
      val lead = (moff - bstart).toInt
      val whole = r.at(bstart, lead + mlen + 4)
      val arr = new Array[Byte](lead + mlen + 4)
      whole.get(arr); whole.rewind()
      val want = whole.getInt(lead + mlen)
      val got = lookup3(arr, 0, lead + mlen)
      require(got == want,
        f"HDF5: v2 object header checksum 0x$got%08x != stored " +
          f"0x$want%08x at $bstart%d (header $addr%d)")
      val body = ByteBuffer.wrap(arr, lead, mlen).slice()
        .order(ByteOrder.LITTLE_ENDIAN)
      // the tail may be a gap smaller than a message prefix
      while (body.remaining() >= hdrBytes) {
        val tpe = body.get() & 0xff
        val msize = body.getShort() & 0xffff
        body.get() // message flags
        if (corder) body.getShort() // creation order
        require(body.remaining() >= msize,
          s"HDF5: message body overruns v2 header block at $bstart")
        val slice = body.slice().order(ByteOrder.LITTLE_ENDIAN)
        slice.limit(msize)
        body.position(body.position() + msize)
        if (tpe == 0x0010) {
          require(msize >= 16,
            s"HDF5: continuation message of $msize bytes at $bstart")
          val off = slice.getLong(); val len = slice.getLong()
          require(len >= 8 && len <= Int.MaxValue,
            s"HDF5: continuation block length $len out of range " +
              s"(from $bstart)")
          val sb2 = r.at(off, 4)
          val s2 = new Array[Byte](4); sb2.get(s2)
          require(new String(s2, US_ASCII) == "OCHK",
            s"HDF5: no OCHK continuation block at $off (header $addr)")
          blocks.enqueue((off, off + 4, (len - 8).toInt))
        } else out += ((tpe, slice))
      }
    }
    out.toSeq
  }

  /** Parse a Link message (0x0006) body: hard links only (a soft or
    * external link is outside the subset, rejected with the name),
    * returning (link name, target object header address).
    */
  private def parseLinkMsg(b: ByteBuffer,
      prefix: String): (String, Long) = {
    val ver = b.get()
    require(ver == 1,
      s"HDF5: link message version $ver at '$prefix' (only v1)")
    val flags = b.get() & 0xff
    val ltype = if ((flags & 8) != 0) b.get() & 0xff else 0
    if ((flags & 4) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen: Long = (flags & 3) match {
      case 0 => (b.get() & 0xff).toLong
      case 1 => (b.getShort() & 0xffff).toLong
      case 2 => b.getInt().toLong & 0xffffffffL
      case _ => b.getLong()
    }
    require(nameLen > 0 && nameLen <= b.remaining() - 8,
      s"HDF5: link name of $nameLen bytes at '$prefix' overruns the " +
        "message")
    val nb = new Array[Byte](nameLen.toInt); b.get(nb)
    val name = new String(nb, US_ASCII)
    require(ltype == 0,
      s"HDF5: link '$name' at '$prefix' has type $ltype (only hard " +
        "links are in the subset)")
    (name, b.getLong())
  }

  /** Walk a node-type-1 (raw data chunk) v1 B-tree of ANY depth,
    * collecting (key offsets, chunk address, stored size, filter mask)
    * from the leaves. Validates signatures, node types, the child
    * level sequence, and guards against cycles.
    */
  private def walkChunkTree(r: Reader, rootAddr: Long, path: String,
      rank: Int): Seq[(Array[Long], Long, Long, Int)] = {
    val keySize = 8 + 8 * (rank + 1)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Long], Long, Long, Int)]
    val visited = scala.collection.mutable.Set.empty[Long]
    def walk(addr: Long, expectLevel: Int): Unit = {
      require(visited.add(addr),
        s"HDF5: chunk B-tree cycle at $addr ($path)")
      val h = r.at(addr, 8)
      val sig = new Array[Byte](4); h.get(sig)
      require(new String(sig, US_ASCII) == "TREE",
        s"HDF5: no chunk B-tree node at $addr ($path)")
      require(h.get() == 1,
        s"HDF5: B-tree node type != 1 (raw data) at $addr ($path)")
      val level = h.get() & 0xff
      require(expectLevel < 0 || level == expectLevel,
        s"HDF5: chunk B-tree level $level at $addr, expected " +
          s"$expectLevel ($path)")
      val nent = h.getShort() & 0xffff
      val kb = r.at(addr + 8, 16 + nent * (keySize + 8) + keySize)
      kb.getLong(); kb.getLong() // siblings
      (0 until nent).foreach { _ =>
        val stored = kb.getInt().toLong & 0xffffffffL
        val mask = kb.getInt()
        val offs = Array.fill(rank + 1)(kb.getLong())
        val child = kb.getLong()
        require(offs(rank) == 0,
          s"HDF5: chunk key's element-dim offset ${offs(rank)} != 0 " +
            s"($path)")
        if (level == 0) out += ((offs.take(rank), child, stored, mask))
        else walk(child, level - 1)
      }
      // the final boundary key is not a chunk; skip it
    }
    walk(rootAddr, -1)
    out.toSeq
  }

  /** Read a FIXED ARRAY chunk index (spec III.G — what
    * `libver='latest'` h5py uses for chunked datasets with fixed
    * maxshape): "FAHD" header + "FADB" data block, both
    * lookup3-checksummed and VERIFIED. Returns (element index, chunk
    * address, stored size, filter mask) for ALLOCATED entries only —
    * an undefined-address element is a lazily-allocated chunk (fill).
    * Unfiltered arrays (client 0) carry bare 8-byte addresses and the
    * caller supplies the size; filtered (client 1) carry address +
    * variable-width stored size + 4-byte mask. PAGED data blocks
    * (more elements than one page) are outside the subset, rejected
    * loudly.
    */
  private def readFixedArray(r: Reader, addr: Long, path: String,
      filtered: Boolean, nChunks: Long)
      : Seq[(Long, Long, Long, Int)] = {
    val hb = r.at(addr, 28)
    val harr = new Array[Byte](28); hb.get(harr); hb.rewind()
    val sig = new Array[Byte](4); hb.get(sig)
    require(new String(sig, US_ASCII) == "FAHD",
      s"HDF5: no fixed-array header at $addr ($path)")
    require(hb.get() == 0,
      s"HDF5: fixed-array header version != 0 at $addr ($path)")
    val clientId = hb.get() & 0xff
    require(clientId == (if (filtered) 1 else 0),
      s"HDF5: fixed-array client id $clientId at $addr disagrees " +
        s"with the ${if (filtered) "" else "un"}filtered dataset " +
        s"$path")
    val entrySize = hb.get() & 0xff
    val pageBits = hb.get() & 0xff
    val maxEntries = hb.getLong()
    val dbAddr = hb.getLong()
    val want = hb.getInt()
    val got = lookup3(harr, 0, 24)
    require(got == want,
      f"HDF5: fixed-array header checksum 0x$got%08x != stored " +
        f"0x$want%08x at $addr%d ($path)")
    require(maxEntries == nChunks,
      s"HDF5: fixed array at $addr holds $maxEntries entries but " +
        s"$path has a $nChunks-chunk grid")
    if (filtered)
      require(entrySize > 12 && entrySize <= 20,
        s"HDF5: filtered fixed-array entry size $entrySize at $addr " +
          s"($path): need address(8) + size(1-8) + mask(4)")
    else require(entrySize == 8,
      s"HDF5: unfiltered fixed-array entry size $entrySize at $addr " +
        s"($path): need the 8-byte address")
    require(pageBits >= 1 && pageBits <= 62
        && maxEntries <= (1L << pageBits),
      s"HDF5: PAGED fixed array at $addr ($maxEntries entries, " +
        s"2^$pageBits page) — paged data blocks are outside the " +
        s"subset ($path)")
    if (maxEntries == 0) return Seq.empty
    require(dbAddr != Undef,
      s"HDF5: fixed array at $addr has entries but no data block " +
        s"($path)")
    val bodyLen =
      try Math.multiplyExact(maxEntries, entrySize.toLong)
      catch {
        case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"HDF5: fixed array at $addr declares $maxEntries x " +
              s"$entrySize-byte entries — overflows ($path)")
      }
    require(bodyLen <= Int.MaxValue - 64,
      s"HDF5: fixed-array data block of $bodyLen bytes at $dbAddr " +
        s"($path) is outside the subset")
    val total = 14 + bodyLen.toInt + 4
    val db = r.at(dbAddr, total)
    val darr = new Array[Byte](total); db.get(darr); db.rewind()
    val dsig = new Array[Byte](4); db.get(dsig)
    require(new String(dsig, US_ASCII) == "FADB",
      s"HDF5: no fixed-array data block at $dbAddr ($path)")
    require(db.get() == 0,
      s"HDF5: fixed-array data block version != 0 at $dbAddr ($path)")
    require((db.get() & 0xff) == clientId,
      s"HDF5: fixed-array data block client id at $dbAddr disagrees " +
        s"with the header ($path)")
    val backRef = db.getLong()
    require(backRef == addr,
      s"HDF5: fixed-array data block at $dbAddr points back at " +
        s"$backRef, not its header $addr ($path)")
    val dwant = db.getInt(total - 4)
    val dgot = lookup3(darr, 0, total - 4)
    require(dgot == dwant,
      f"HDF5: fixed-array data block checksum 0x$dgot%08x != stored " +
        f"0x$dwant%08x at $dbAddr%d ($path)")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Int)]
    (0L until maxEntries).foreach { i =>
      val base = 14 + (i * entrySize).toInt
      val caddr = db.getLong(base)
      if (caddr != Undef) {
        if (filtered) {
          val szBytes = entrySize - 12
          var sz = 0L
          (0 until szBytes).foreach(k =>
            sz |= (darr(base + 8 + k).toLong & 0xff) << (8 * k))
          val mask = db.getInt(base + 8 + szBytes)
          out += ((i, caddr, sz, mask))
        } else out += ((i, caddr, 0L, 0))
      }
    }
    out.toSeq
  }

  private def parseDatasetMsgs(r: Reader, path: String,
      msgs: Seq[(Int, ByteBuffer)]): H5Dataset = {
    var dims: Array[Long] = null
    var le = false
    var elemSize = -1
    var fixedPoint = false
    var signed = true
    var fillRaw: Array[Byte] = null
    var layoutClass = -1
    var layoutVer = -1
    var compactData: Array[Byte] = null
    var contAddr = Undef
    var contSize = -1L
    var chunkBt = Undef
    var chunkDimsRaw: Array[Long] = null
    var v4Flags = 0
    var v4Index = -1
    var v4Addr = Undef
    var v4PageBits = -1
    var v4SingleSize = -1L
    var v4SingleMask = 0
    var gzip = false
    var shuffle = false
    var fletcher = false
    var shuffleElem = -1
    msgs.foreach {
      case (0x0001, b) => // dataspace (v1, or v2 from libver=latest)
        val ver = b.get()
        require(ver == 1 || ver == 2,
          s"HDF5: dataspace version $ver on $path (only v1/v2)")
        val rank = b.get() & 0xff
        val flags = b.get()
        if (ver == 1) { b.get(); b.get(); b.get(); b.get(); b.get() }
        else {
          val tpe = b.get() & 0xff // v2: dataspace type
          require(tpe <= 1,
            s"HDF5: dataspace type $tpe on $path (only scalar/simple)")
        }
        dims = Array.fill(rank)(b.getLong())
        if ((flags & 1) != 0) (0 until rank).foreach(_ => b.getLong())
      case (0x0003, b) => // datatype: class 1 float or class 0 int
        val cv = b.get() & 0xff
        val cls = cv & 0x0f
        require((cv >> 4) == 1 && (cls == 0 || cls == 1),
          s"HDF5: datatype class $cls version ${cv >> 4} on " +
            s"$path (only v1 fixed-point and floating-point are " +
            "decodable here)")
        val bits0 = b.get() & 0xff
        le = (bits0 & 1) == 0
        b.get(); b.get()
        val size = b.getInt()
        if (cls == 0) {
          // FIXED-POINT (VPIC auxiliary datasets — ranks, topology,
          // species counts — are ints); widened to doubles on read
          require(size == 1 || size == 2 || size == 4 || size == 8,
            s"HDF5: $size-byte int on $path (only 1/2/4/8)")
          require((bits0 & 6) == 0,
            s"HDF5: padded fixed-point layout on $path is outside " +
              "the subset")
          signed = (bits0 & 8) != 0
          fixedPoint = true
        } else require(size == 4 || size == 8,
          s"HDF5: $size-byte float on $path (only binary32/binary64)")
        val bitOffset = b.getShort(); val precision = b.getShort()
        require(bitOffset == 0 && precision == size * 8,
          s"HDF5: nonstandard ${if (cls == 0) "int" else "float"} " +
            s"layout on $path " +
            s"(offset $bitOffset, precision $precision, size $size)")
        elemSize = size
      case (0x0004, b) => // fill value (old): size + value
        val sz = b.getInt()
        require(sz >= 0 && sz <= b.remaining(),
          s"HDF5: old fill-value size $sz on $path overruns message")
        fillRaw = new Array[Byte](sz); b.get(fillRaw)
      case (0x0005, b) => // fill value: what unallocated chunks read as
        val ver = b.get() & 0xff
        val defined = ver match {
          case 1 | 2 =>
            b.get(); b.get() // space alloc time, write time
            val d = b.get() & 0xff
            ver == 1 || d == 1
          case 3 =>
            val flags = b.get() & 0xff
            require((flags & 0x30) != 0x30,
              s"HDF5: fill value both defined and undefined on $path")
            (flags & 0x20) != 0
          case v => throw new IllegalArgumentException(
            s"HDF5: fill value message version $v on $path (only v1-v3)")
        }
        if (defined) {
          val sz = b.getInt()
          require(sz >= 0 && sz <= b.remaining(),
            s"HDF5: fill-value size $sz on $path overruns message")
          fillRaw = new Array[Byte](sz); b.get(fillRaw)
        }
      case (0x0008, b) => // data layout
        val ver = b.get()
        require(ver == 3 || ver == 4,
          s"HDF5: layout message version $ver on $path (only v3/v4)")
        layoutVer = ver
        layoutClass = b.get() & 0xff
        (layoutClass, ver.toInt) match {
          case (0, _) => // COMPACT: u16 size + inline bytes (v3=v4)
            val sz = b.getShort() & 0xffff
            require(sz <= b.remaining(),
              s"HDF5: compact layout on $path declares $sz bytes " +
                s"but the message holds ${b.remaining()}")
            compactData = new Array[Byte](sz); b.get(compactData)
          case (1, _) => // contiguous (same body in v3 and v4)
            contAddr = b.getLong()
            contSize = b.getLong()
          case (2, 3) => // chunked: dimensionality, B-tree addr, dims
            val dimen = b.get() & 0xff
            require(b.remaining() >= 8 + 4 * dimen,
              s"HDF5: chunked layout message on $path truncated " +
                s"(dimensionality $dimen)")
            chunkBt = b.getLong()
            chunkDimsRaw =
              Array.fill(dimen)(b.getInt().toLong & 0xffffffffL)
          case (2, _) => // v4 chunked (libver='latest'): new indexes
            v4Flags = b.get() & 0xff
            val dimen = b.get() & 0xff
            val encLen = b.get() & 0xff
            require(encLen >= 1 && encLen <= 8,
              s"HDF5: v4 chunk-dim encoded length $encLen on $path")
            def varU(n: Int): Long = {
              var v = 0L
              (0 until n).foreach(i =>
                v |= (b.get().toLong & 0xff) << (8 * i))
              v
            }
            chunkDimsRaw = Array.fill(dimen)(varU(encLen))
            v4Index = b.get() & 0xff
            v4Index match {
              case 1 => // single chunk
                if ((v4Flags & 2) != 0) { // filtered: size + mask
                  v4SingleSize = b.getLong()
                  v4SingleMask = b.getInt()
                }
              case 2 => () // implicit: no extra fields
              case 3 => v4PageBits = b.get() & 0xff // fixed array
              case t => throw new IllegalArgumentException(
                s"HDF5: v4 chunk index type $t on $path (single (1), " +
                  "implicit (2) and fixed-array (3) are decodable " +
                  "here; extensible-array/v2-B-tree indexes — " +
                  "unlimited-maxshape datasets — are outside the " +
                  "subset)")
            }
            v4Addr = b.getLong()
          case (cls, _) => throw new IllegalArgumentException(
            s"HDF5: layout class $cls on $path (only compact (0), " +
              "contiguous (1) and chunked (2) are decodable here)")
        }
      case (0x000B, b) => // filter pipeline
        val ver = b.get()
        require(ver == 1,
          s"HDF5: filter pipeline version $ver on $path (only v1)")
        val nf = b.get() & 0xff
        b.get(); b.get(); b.getInt() // reserved
        val ids = (0 until nf).map { _ =>
          val id = b.getShort() & 0xffff
          val nameLen = b.getShort() & 0xffff
          b.getShort() // flags
          val ncv = b.getShort() & 0xffff
          require(nameLen % 8 == 0,
            s"HDF5: filter name length $nameLen not 8-aligned on $path")
          b.position(b.position() + nameLen)
          val cvals = (0 until ncv).map(_ => b.getInt())
          if (ncv % 2 == 1) b.getInt() // pad
          require(id == 1 || id == 2 || id == 3,
            s"HDF5: filter id $id on $path (only deflate (1), " +
              "shuffle (2) and fletcher32 (3) are decodable here — " +
              "an szip chunk would be silently mis-read)")
          (id, cvals)
        }
        // application order must be shuffle-then-deflate with
        // fletcher32 LAST (h5py's positions) — the inverse order
        // would unshuffle compressed bytes, and a fletcher placed
        // BEFORE deflate checksums bytes this decoder strips last
        require(ids.map(_._1) match {
          case Seq() | Seq(1) | Seq(2) | Seq(2, 1) => true
          case Seq(3) | Seq(1, 3) | Seq(2, 3) | Seq(2, 1, 3) => true
          case _ => false
        }, s"HDF5: filter order ${ids.map(_._1).mkString(",")} on " +
          s"$path (only [shuffle,] [deflate,] [fletcher32-last] is " +
          "decodable here)")
        gzip = ids.exists(_._1 == 1)
        shuffle = ids.exists(_._1 == 2)
        fletcher = ids.exists(_._1 == 3)
        shuffleElem = ids.collectFirst { case (2, cv) if cv.nonEmpty =>
          cv.head }.getOrElse(-1)
      case _ => () // NIL and other messages: skip
    }
    require(dims != null, s"HDF5: dataset $path has no dataspace")
    require(elemSize > 0, s"HDF5: dataset $path has no datatype")
    require(layoutClass >= 0, s"HDF5: dataset $path has no data layout")
    // decode the fill value in the DATASET's datatype and byte order
    // (the message can precede the datatype message, so decode here);
    // absent or zero-size (an "undefined" fill) → the 0.0 default
    val fill =
      if (fillRaw == null || fillRaw.isEmpty) 0.0
      else {
        require(fillRaw.length == elemSize,
          s"HDF5: fill value of ${fillRaw.length} bytes on $path " +
            s"disagrees with the $elemSize-byte datatype")
        val fb = ByteBuffer.wrap(fillRaw).order(
          if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
        decodeElem(fb, 0, elemSize, fixedPoint, signed)
      }
    val rank = dims.length
    // overflow-checked total byte count: crafted lying dims must
    // reject loudly, never wrap to a product that happens to match
    def totalBytes: Long =
      try dims.foldLeft(elemSize.toLong)(Math.multiplyExact)
      catch {
        case _: ArithmeticException =>
          throw new IllegalArgumentException(
            s"HDF5: $path dims ${dims.mkString("x")} overflow — " +
              "outside the subset")
      }
    layoutClass match {
      case 0 =>
        require(!gzip && !shuffle && !fletcher,
          s"HDF5: $path declares a filter pipeline on a compact " +
            "layout (filters apply to chunks only)")
        require(compactData.length == totalBytes,
          s"HDF5: $path compact layout holds ${compactData.length} " +
            s"bytes != ${dims.mkString("x")} x $elemSize-byte elements")
        H5Dataset(path, dims, le, elemSize, H5Compact(compactData),
          fill, fixedPoint, signed)
      case 1 =>
        require(!gzip && !shuffle && !fletcher,
          s"HDF5: $path declares a filter pipeline on a contiguous " +
            "layout (filters apply to chunks only)")
        require(contAddr != Undef, s"HDF5: $path has no data address")
        require(contSize == totalBytes,
          s"HDF5: $path layout size $contSize != " +
            s"${dims.mkString("x")} x $elemSize-byte elements")
        H5Dataset(path, dims, le, elemSize, H5Contiguous(contAddr),
          fill, fixedPoint, signed)
      case _ =>
        // v3 carries rank+1 dims (trailing element-size dim); v4's
        // spec text reads as rank dims but libhdf5's shared encode
        // path carries the +1 — accept EITHER shape for v4 (the
        // trailing dim, when present, must equal the element size),
        // exactly rank+1 for v3
        val cd =
          if (chunkDimsRaw.length == rank + 1) {
            require(chunkDimsRaw.last == elemSize,
              s"HDF5: $path chunk element-size dim " +
                s"${chunkDimsRaw.last} != datatype size $elemSize")
            chunkDimsRaw.dropRight(1)
          } else {
            require(layoutVer == 4 && chunkDimsRaw.length == rank,
              s"HDF5: $path chunk dimensionality " +
                s"${chunkDimsRaw.length} != rank+1 (${rank + 1})")
            chunkDimsRaw
          }
        require(cd.forall(_ > 0), s"HDF5: $path has a zero chunk dim")
        require(cd.zip(dims).forall { case (c, n) => c <= n },
          s"HDF5: $path chunk ${cd.mkString("x")} exceeds dims " +
            s"${dims.mkString("x")}")
        require(!shuffle || shuffleElem < 0 || shuffleElem == elemSize,
          s"HDF5: shuffle filter's element size $shuffleElem on $path " +
            s"disagrees with the $elemSize-byte datatype")
        // HDF5 permits chunks up to 4 GiB; this codec decodes a chunk
        // into one JVM byte array, so >=2 GiB chunks are rejected
        // LOUDLY at index time — never a NegativeArraySizeException
        // mid-scan from a silent Int truncation
        val chunkBytes =
          try cd.foldLeft(elemSize.toLong)(Math.multiplyExact)
          catch { case _: ArithmeticException => Long.MaxValue }
        require(chunkBytes <= Int.MaxValue,
          s"HDF5: $path chunk ${cd.mkString("x")} x $elemSize bytes " +
            s"($chunkBytes) exceeds 2 GiB — chunks that large are " +
            "outside the subset")
        // an UNDEFINED index address is a fully lazily-allocated
        // dataset (h5py before any chunk write): zero allocated
        // chunks, every read returns the fill value. v3 walks the
        // node-type-1 B-tree; v4 dispatches on the chunk index type.
        val grid = dims.zip(cd).map { case (n, c) => (n + c - 1) / c }
        // overflow-checked: a crafted file's lying dims must reject
        // loudly, never wrap the grid count to 0 and read silent fill
        val nGrid =
          try grid.foldLeft(1L)(Math.multiplyExact)
          catch {
            case _: ArithmeticException =>
              throw new IllegalArgumentException(
                s"HDF5: $path chunk grid ${grid.mkString("x")} " +
                  "overflows — outside the subset")
          }
        def offsetOf(i: Long): Array[Long] = {
          val off = new Array[Long](rank)
          var rem = i
          var d = rank - 1
          while (d >= 0) {
            off(d) = (rem % grid(d)) * cd(d)
            rem /= grid(d)
            d -= 1
          }
          off
        }
        val found: Seq[(Array[Long], Long, Long, Int)] =
          if (layoutVer == 3) {
            if (chunkBt == Undef) Seq.empty
            else walkChunkTree(r, chunkBt, path, rank)
          } else if (v4Addr == Undef) Seq.empty
          else v4Index match {
            case 1 => // SINGLE CHUNK: the whole dataset is one chunk
              require(nGrid == 1,
                s"HDF5: $path single-chunk index but the " +
                  s"${cd.mkString("x")} grid has $nGrid chunks")
              val filtered = (v4Flags & 2) != 0
              require(filtered == (gzip || shuffle || fletcher),
                s"HDF5: $path single-chunk filter flag " +
                  s"${filtered} disagrees with the filter pipeline")
              val stored =
                if (filtered) v4SingleSize
                else cd.foldLeft(elemSize.toLong)(_ * _)
              Seq((new Array[Long](rank), v4Addr, stored,
                if (filtered) v4SingleMask else 0))
            case 2 => // IMPLICIT: early-allocated, unfiltered, dense
              require(!gzip && !shuffle && !fletcher,
                s"HDF5: $path implicit chunk index with a filter " +
                  "pipeline (implicit layout is unfiltered by " +
                  "construction)")
              val chunkBytes = cd.foldLeft(elemSize.toLong)(_ * _)
              (0L until nGrid).map(i =>
                (offsetOf(i), v4Addr + i * chunkBytes, chunkBytes, 0))
            case _ => // FIXED ARRAY (h5py libver='latest', fixed dims)
              readFixedArray(r, v4Addr, path,
                gzip || shuffle || fletcher, nGrid)
                .map { case (i, caddr, stored, mask) =>
                  require(i >= 0 && i < nGrid,
                    s"HDF5: fixed-array element $i outside the " +
                      s"$nGrid-chunk grid of $path")
                  val st =
                    if (gzip || shuffle || fletcher) stored
                    else cd.foldLeft(elemSize.toLong)(_ * _)
                  (offsetOf(i), caddr, st, mask)
                }
          }
        found.foreach { case (off, caddr, stored, mask) =>
          require(mask == 0,
            s"HDF5: chunk filter mask $mask on $path (partial filter " +
              "application is outside the subset)")
          require(off.indices.forall(d =>
              off(d) % cd(d) == 0 && off(d) >= 0 && off(d) < dims(d)),
            s"HDF5: chunk offset ${off.mkString(",")} not on the " +
              s"${cd.mkString("x")} grid of $path")
          require(caddr != Undef && caddr >= 0,
            s"HDF5: chunk at ${off.mkString(",")} of $path has no " +
              "address")
          require(stored <= Int.MaxValue,
            s"HDF5: chunk at ${off.mkString(",")} of $path stores " +
              s"$stored bytes — >=2 GiB chunks are outside the subset")
          if (!gzip) {
            val want = chunkBytes + (if (fletcher) 4 else 0)
            require(stored == want,
              s"HDF5: undeflated chunk at ${off.mkString(",")} of " +
                s"$path stores $stored bytes, expected $want")
          }
        }
        // h5py allocates chunks lazily, so FEWER chunks than the grid
        // (sparse) is a normal partially-written dump — missing
        // extents read as the fill value; duplicates are still corrupt
        require(found.map(_._1.toSeq).distinct.length == found.length,
          s"HDF5: duplicate chunk offsets in $path")
        // sort by offset lexicographically (B-tree order already is,
        // but the index contract is explicit)
        val sorted = found.sortWith { (a, b) =>
          val x = a._1; val y = b._1
          var d = 0
          while (d < x.length && x(d) == y(d)) d += 1
          d < x.length && x(d) < y(d)
        }.map { case (off, caddr, stored, _) =>
          H5Chunk(off, caddr, stored)
        }
        H5Dataset(path, dims, le, elemSize,
          H5Chunked(cd, gzip, shuffle, sorted, fletcher), fill,
          fixedPoint,
          signed)
    }
  }

  /** Decode one element at index `i` of `bb` (whose byte order is
    * already set), widened to a double: IEEE binary32/64 for floats,
    * two's-complement 1/2/4/8-byte ints for fixed-point (unsigned
    * widened without sign extension; an unsigned 64-bit value above
    * 2^63 widens through the nearest double, the best a double can
    * carry). One copy of the element semantics — shared by the
    * driver-side reads, the fill-value decode, and the DSv2 readers.
    */
  def decodeElem(bb: ByteBuffer, i: Int, elemSize: Int,
      fixedPoint: Boolean, signed: Boolean): Double =
    if (!fixedPoint) {
      if (elemSize == 4) bb.getFloat(i * 4).toDouble
      else bb.getDouble(i * 8)
    } else elemSize match {
      case 1 =>
        val v = bb.get(i)
        if (signed) v.toDouble else (v & 0xff).toDouble
      case 2 =>
        val v = bb.getShort(i * 2)
        if (signed) v.toDouble else (v & 0xffff).toDouble
      case 4 =>
        val v = bb.getInt(i * 4)
        if (signed) v.toDouble else (v.toLong & 0xffffffffL).toDouble
      case _ =>
        val v = bb.getLong(i * 8)
        if (signed || v >= 0) v.toDouble
        else (v & Long.MaxValue).toDouble + 9.223372036854775808e18
    }

  /** Read `n` elements of a dataset starting at row-major element
    * `offset`, widened to doubles — driver-side accessor for the tiny
    * axis datasets (contiguous OR chunked; a chunked axis decompresses
    * only the overlapping chunks); bulk variable data goes through the
    * DSv2 partition reader's own streaming.
    */
  def readDoubles(path: String, ds: H5Dataset, offset: Long,
      n: Int): Array[Double] = {
    require(offset >= 0 && offset + n <= ds.nElems,
      s"HDF5: read [$offset, ${offset + n}) of ${ds.nElems} elements " +
        s"(${ds.path})")
    val order = if (ds.littleEndian) ByteOrder.LITTLE_ENDIAN
                else ByteOrder.BIG_ENDIAN
    def decode(bb: ByteBuffer, i: Int): Double =
      decodeElem(bb, i, ds.elemSize, ds.fixedPoint, ds.signed)
    def withRaf[A](f: RandomAccessFile => A): A = {
      val raf = new RandomAccessFile(path, "r")
      try f(raf) finally raf.close()
    }
    ds.layout match {
      case H5Compact(data) => // inline bytes: no file IO at all
        val bb = ByteBuffer.wrap(data).order(order)
        Array.tabulate(n)(i => decode(bb, (offset + i).toInt))
      case H5Contiguous(dataAddress) => withRaf { raf =>
        val b = new Array[Byte](n * ds.elemSize)
        raf.seek(dataAddress + offset * ds.elemSize)
        raf.readFully(b)
        val bb = ByteBuffer.wrap(b).order(order)
        Array.tabulate(n)(i => decode(bb, i))
      }
      case H5Chunked(cd, gzip, shuffle, chunks, fletcher) => withRaf { raf =>
        val rank = ds.dims.length
        val strides = new Array[Long](rank)
        strides(rank - 1) = 1
        (rank - 2 to 0 by -1).foreach(d =>
          strides(d) = strides(d + 1) * ds.dims(d + 1))
        val chunkElems = cd.product.toInt
        // start from the FILL VALUE: extents no allocated chunk
        // covers (lazily-allocated / partially-written datasets) read
        // as fill, exactly what `reader[var][:]` returns there
        val out = Array.fill(n)(ds.fill)
        chunks.foreach { ch =>
          // linear bounds of this chunk's in-bounds elements — for
          // rank>=2 this envelope over-admits interior slices (a
          // chunk may decode yet contribute nothing); accepted bound:
          // driver-side chunked reads cover only the tiny axis
          // datasets, bulk data goes through the DSv2 chunk readers
          val lo = (0 until rank).map(d => ch.offset(d) * strides(d)).sum
          val hiCoord = (0 until rank).map(d =>
            math.min(ch.offset(d) + cd(d) - 1, ds.dims(d) - 1))
          val hi = (0 until rank).map(d => hiCoord(d) * strides(d)).sum
          if (hi >= offset && lo < offset + n) {
            val raw = new Array[Byte](ch.storedBytes.toInt)
            raf.seek(ch.addr)
            raf.readFully(raw)
            val bytes = decodeChunk(raw, chunkElems * ds.elemSize,
              gzip, shuffle, ds.elemSize, fletcher)
            val bb = ByteBuffer.wrap(bytes).order(order)
            val local = new Array[Int](rank)
            (0 until chunkElems).foreach { li =>
              var inBounds = true
              var lin = 0L
              var d = 0
              while (d < rank) {
                val g = ch.offset(d) + local(d)
                if (g >= ds.dims(d)) inBounds = false
                lin += g * strides(d)
                d += 1
              }
              if (inBounds && lin >= offset && lin < offset + n)
                out((lin - offset).toInt) = decode(bb, li)
              var k = rank - 1
              while (k >= 0) {
                local(k) += 1
                if (local(k) < cd(k)) k = -1
                else { local(k) = 0; k -= 1 }
              }
            }
          }
        }
        out
      }
    }
  }
}
