package graft.grid

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Set-based re-expression of the reference's 2-D magnetic-topology
  * analytics (find_structures, /root/reference/src/datasets/vpicdataset.py
  * :295-533): marching-squares contour segments, segment-pair null
  * finding, X/O classification, connected components, separatrices /
  * O-structures, current sheets.
  *
  * The reference's sequential pieces become:
  *  - contour extraction -> per-cell segment emission (corner join + case
  *    analysis), no polyline chaining needed downstream;
  *  - flood fill / nd.label -> min-label propagation with pointer
  *    jumping (O(log diameter) rounds), keyed by (group..., it) so MANY
  *    independent fills (one per X point / per current-sheet region) run
  *    in ONE driver loop — the reference's nested Python loops
  *    (vpicdataset.py:444, 506, 514) become tags in a single plan.
  *
  * Serializable so that task closures calling its private helpers (the
  * tile-local union-find) ship the module reference, not a failure.
  */
object Topology extends Serializable {

  /** Cells with all four corner values of `field`:
    * f00=(iz,ix), f01=(iz,ix+1), f10=(iz+1,ix), f11=(iz+1,ix+1).
    * Two window passes (lead along ix, then lead along iz) — no join:
    * each pass is one shuffle and stays in whole-stage codegen.
    */
  def cellCorners(df: DataFrame, field: String): DataFrame = {
    val wx = Window.partitionBy("it", "iz").orderBy("ix")
    val wz = Window.partitionBy("it", "ix").orderBy("iz")
    // lead returns the next PRESENT row, not necessarily index+1: guard
    // every corner with an index-contiguity check so sparse grids drop
    // incomplete cells instead of silently reading a farther neighbor.
    // f01 is guarded before the z-pass, so lead(f01) along iz is null
    // unless BOTH (iz+1, ix) and (iz+1, ix+1) exist.
    df.select(col("it"), col("iz"), col("ix"), col(field).as("f00"))
      .withColumn("f01", when(lead(col("ix"), 1).over(wx) === col("ix") + 1,
        lead(col("f00"), 1).over(wx)))
      .withColumn("zs", lead(col("iz"), 1).over(wz) === col("iz") + 1)
      .withColumn("f10", when(col("zs"), lead(col("f00"), 1).over(wz)))
      .withColumn("f11", when(col("zs"), lead(col("f01"), 1).over(wz)))
      .drop("zs")
      .filter(col("f01").isNotNull && col("f10").isNotNull
        && col("f11").isNotNull)
  }

  /** Shared marching-squares emission given per-cell corner offsets
    * c00..c11 (= corner value - level) and carry columns.
    *
    * Conventions (documented tie-breaks, SURVEY §7 "hard parts"):
    * corner is "positive" iff f >= level; crossing position is linear
    * (t = c0/(c0-c1)); crossings ordered [top, left, right, bottom];
    * 2 crossings -> one segment; 4 (ambiguous saddle) -> (top,left) +
    * (right,bottom).
    */
  private def emitSegments(c: DataFrame, carry: Seq[String]): DataFrame = {
    def pos(n: String): Column = col(n) >= 0
    def crossPt(y: Column, x: Column, cond: Column): Column =
      when(cond, struct(y.as("y"), x.as("x"))).otherwise(lit(null))
    val withPts = c
      .withColumn("pt", crossPt(col("iz").cast("double"),
        col("ix") + col("c00") / (col("c00") - col("c01")),
        pos("c00") =!= pos("c01")))
      .withColumn("pl", crossPt(col("iz") + col("c00") / (col("c00") - col("c10")),
        col("ix").cast("double"), pos("c00") =!= pos("c10")))
      .withColumn("pr", crossPt(col("iz") + col("c01") / (col("c01") - col("c11")),
        (col("ix") + 1).cast("double"), pos("c01") =!= pos("c11")))
      .withColumn("pb", crossPt((col("iz") + 1).cast("double"),
        col("ix") + col("c10") / (col("c10") - col("c11")),
        pos("c10") =!= pos("c11")))
    val crossings = filter(array(col("pt"), col("pl"), col("pr"), col("pb")),
      p => p.isNotNull)
    val segs = withPts.withColumn("cr", crossings)
      .withColumn("n", size(col("cr")))
      .filter(col("n") >= 2)
      .withColumn("seg", explode(filter(array(
        when(col("n") >= 2, struct(col("cr")(0).as("p1"), col("cr")(1).as("p2")))
          .otherwise(lit(null)),
        when(col("n") === 4, struct(col("cr")(2).as("p1"), col("cr")(3).as("p2")))
          .otherwise(lit(null))), s => s.isNotNull)))
    segs.select((carry.map(col) ++ Seq(col("it"), col("iz"), col("ix"),
      col("seg.p1.y").as("y1"), col("seg.p1.x").as("x1"),
      col("seg.p2.y").as("y2"), col("seg.p2.x").as("x2"))): _*)
  }

  /** Marching-squares segments of the iso-contour `field = level`, in
    * index coordinates — reference measure.find_contours
    * (vpicdataset.py:383-384). Rows: it, iz, ix, y1, x1, y2, x2.
    */
  def contourSegments(df: DataFrame, field: String, level: Double): DataFrame =
    emitSegments(cellCorners(df, field)
      .withColumn("c00", col("f00") - level)
      .withColumn("c01", col("f01") - level)
      .withColumn("c10", col("f10") - level)
      .withColumn("c11", col("f11") - level), Seq.empty)

  // Negative result, measured: a multi-field cellCorners (both
  // fields' corners in the same two window passes, persisted so the
  // intersection join's two sides share it) made g19 SLOWER — 12.5 s vs
  // 10.0 s — because every contour consumer here reads an
  // already-cached grid, and the persist write of the wide corner frame
  // costs more than the two window passes it saves. Re-fuse only if a
  // consumer appears whose corner extraction reads an uncached
  // grid-sized input (many fields, or a grid too large to cache).

  /** Multi-level variant: one contour family per row of `levels`
    * (columns: xid, level). All levels extracted in a single pass —
    * the per-X-point contour loop of the reference (vpicdataset.py:444)
    * as one broadcast cross-join.
    */
  def contourSegmentsAt(df: DataFrame, field: String,
      levels: DataFrame): DataFrame =
    emitSegments(cellCorners(df, field)
      .crossJoin(broadcast(levels.select("xid", "level")))
      .withColumn("c00", col("f00") - col("level"))
      .withColumn("c01", col("f01") - col("level"))
      .withColumn("c10", col("f10") - col("level"))
      .withColumn("c11", col("f11") - col("level")), Seq("xid"))

  /** Null points: intersections of segments of two contour families
    * (reference vpicdataset.py:396-426). Segments live inside one cell,
    * so the all-pairs loop becomes an equi-join on the cell id — the
    * quadratic pair scan disappears. No dedup (reference: "Not doing any
    * sort of combining", :428-429). Output: it, py, px.
    */
  def segmentIntersections(segA: DataFrame, segB: DataFrame): DataFrame = {
    val a = segA.select(col("it"), col("iz"), col("ix"),
      col("y1").as("ay"), col("x1").as("ax"), col("y2").as("by"), col("x2").as("bx"))
    val b = segB.select(col("it").as("it2"), col("iz").as("iz2"), col("ix").as("ix2"),
      col("y1").as("cy"), col("x1").as("cx"), col("y2").as("dy"), col("x2").as("dx"))
    def ccw3(py: Column, px: Column, qy: Column, qx: Column,
        ry: Column, rx: Column): Column =
      (rx - px) * (qy - py) > (qx - px) * (ry - py)
    val j = a.join(b, col("it") === col("it2")
      && col("iz") === col("iz2") && col("ix") === col("ix2"))
    val inter = j.filter(
      (ccw3(col("ay"), col("ax"), col("cy"), col("cx"), col("dy"), col("dx")) =!=
        ccw3(col("by"), col("bx"), col("cy"), col("cx"), col("dy"), col("dx"))) &&
        (ccw3(col("ay"), col("ax"), col("by"), col("bx"), col("cy"), col("cx")) =!=
          ccw3(col("ay"), col("ax"), col("by"), col("bx"), col("dy"), col("dx"))))
    // line-line intersection (reference line_intersect, vpicdataset.py:49-68)
    // with (u, v) = (y, x) index coordinates.
    val den = (col("ay") - col("by")) * (col("cx") - col("dx")) -
      (col("ax") - col("bx")) * (col("cy") - col("dy"))
    val cross1 = col("ay") * col("bx") - col("ax") * col("by")
    val cross2 = col("cy") * col("dx") - col("cx") * col("dy")
    inter.filter(den =!= 0)
      .withColumn("py", (cross1 * (col("cy") - col("dy")) -
        (col("ay") - col("by")) * cross2) / den)
      .withColumn("px", (cross1 * (col("cx") - col("dx")) -
        (col("ax") - col("bx")) * cross2) / den)
      .select("it", "py", "px")
  }

  /** Bilinear sample of `field` at fractional index points (it, py, px) —
    * the reference's RegularGridInterpolator over the index mesh
    * (vpicdataset.py:385-395). Corner join + weighted sum; extra columns
    * of `pts` are preserved.
    */
  def bilinearSample(grid: DataFrame, field: String, pts: DataFrame,
      out: String): DataFrame =
    bilinearSampleMulti(grid, Seq(field -> out), pts)

  /** Multi-field [[bilinearSample]]: all `fields` sampled in ONE corner
    * join + aggregation — callers that need several surfaces at the
    * same points (find_structures samples the Hessian determinant for
    * X/O classification AND the flux level for the separatrix contour)
    * pay one pass instead of one per field.
    */
  def bilinearSampleMulti(grid: DataFrame, fields: Seq[(String, String)],
      pts: DataFrame): DataFrame = {
    val corners = pts
      .withColumn("c", explode(array(
        struct(lit(0).as("di"), lit(0).as("dj")),
        struct(lit(0).as("di"), lit(1).as("dj")),
        struct(lit(1).as("di"), lit(0).as("dj")),
        struct(lit(1).as("di"), lit(1).as("dj")))))
      .withColumn("ci", floor(col("py")) + col("c.di"))
      .withColumn("cj", floor(col("px")) + col("c.dj"))
      .withColumn("w",
        (when(col("c.di") === 0, lit(1) - (col("py") - floor(col("py"))))
          .otherwise(col("py") - floor(col("py")))) *
          (when(col("c.dj") === 0, lit(1) - (col("px") - floor(col("px"))))
            .otherwise(col("px") - floor(col("px")))))
    val g = grid.select(Seq(col("it").as("g_it"), col("iz").as("g_iz"),
      col("ix").as("g_ix")) ++
      fields.map { case (f, o) => col(f).as(s"g_$o") }: _*)
    // sample points are few by design (null points / X points — the
    // reference collects them driver-side): broadcast them so the
    // grid-sized probe side never shuffles.
    val aggs = fields.map { case (_, o) => sum(col("w") * col(s"g_$o")).as(o) }
    broadcast(corners).join(g, col("it") === col("g_it")
        && col("ci") === col("g_iz") && col("cj") === col("g_ix"))
      .groupBy(pts.columns.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Connected components of `cells` under 4- or 8-adjacency, computed
    * independently per distinct value of `keys` (e.g. (it) or (xid, it) —
    * many flood fills in one loop). Label = min linear cell id reachable —
    * deterministic, matches region partitioning of flood fill (the
    * reference's RNG visit order is incidental; SURVEY §2A 22j).
    * Min-label propagation + pointer jumping -> O(log diameter) rounds;
    * localCheckpoint cuts lineage. The cluster-scale relative of
    * small-star/large-star CC.
    */
  private def ccImpl(cells: DataFrame, nx: Int, dirs8: Boolean,
      keys: Seq[String], maxIter: Int): DataFrame = {
    val offsets = if (dirs8)
      for (di <- -1 to 1; dj <- -1 to 1 if !(di == 0 && dj == 0)) yield (di, dj)
    else Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    val dirs = array(offsets.map { case (di, dj) =>
      struct(lit(di).as("di"), lit(dj).as("dj")) }: _*)
    val spark = cells.sparkSession
    // HARD lineage cut: localCheckpoint alone still lets per-iteration
    // cost grow without bound in a loop (measured: 0.3s -> 186s by
    // iteration 24 on Spark 4.1); rebuilding the DataFrame from the
    // checkpointed RDD keeps every iteration flat.
    def cut(df: DataFrame): DataFrame =
      spark.createDataFrame(df.localCheckpoint(true).rdd, df.schema)
    val k = keys.map(col)
    var lab = cut(cells.select((k :+ col("iz") :+ col("ix")): _*)
      .withColumn("id", col("iz").cast("long") * nx + col("ix"))
      .withColumn("comp", col("id")))
    // superseded-iteration blocks are freed explicitly: every round's
    // localCheckpoint pins MEMORY_AND_DISK blocks that would otherwise
    // survive until the driver GCs the RDD reference — on a
    // 20+-iteration solve that is 20 label tables resident at once.
    // Once `next` is materialized the previous round's blocks are dead
    // (each round rebuilds msgs/ptr from the NEW table only), so peak
    // residency is two rounds, not the iteration count.
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val msgs = lab.withColumn("d", explode(dirs))
        .select((k :+ (col("iz") + col("d.di")).as("iz")
          :+ (col("ix") + col("d.dj")).as("ix") :+ col("comp")): _*)
        .groupBy((k :+ col("iz") :+ col("ix")): _*).agg(min("comp").as("mcomp"))
      val gathered = lab.join(msgs, keys ++ Seq("iz", "ix"), "left")
        .withColumn("tmp", least(col("comp"), coalesce(col("mcomp"), col("comp"))))
      // pointer jump: follow tmp (always some cell's id) to that cell's
      // current label; strictly accelerates convergence.
      val ptr = lab.select((keys.map(c => col(c).as(s"p_$c"))
        :+ col("id").as("p_id") :+ col("comp").as("p_comp")): _*)
      val jumpCond = keys.map(c => col(c) === col(s"p_$c"))
        .reduceOption(_ && _).map(_ && col("tmp") === col("p_id"))
        .getOrElse(col("tmp") === col("p_id"))
      val jumped = gathered.join(ptr, jumpCond, "left")
        .withColumn("newcomp", least(col("tmp"), coalesce(col("p_comp"), col("tmp"))))
      // one job per round: the change count rides an accumulator inside
      // the materialization pass (overcount on task retry only flips an
      // extra harmless iteration). Rows are copied before caching
      // (toRdd reuses UnsafeRow buffers).
      val withCh = jumped.select((k :+ col("iz") :+ col("ix") :+ col("id")
        :+ col("newcomp").as("comp")
        :+ (col("newcomp") < col("comp")).as("ch")): _*)
      val chIdx = withCh.schema.fieldIndex("ch")
      val acc = spark.sparkContext.longAccumulator
      val rdd = org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(withCh).map { r =>
        if (!r.isNullAt(chIdx) && r.getBoolean(chIdx)) acc.add(1L)
        r.copy()
      }
      rdd.localCheckpoint()
      val next = org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(
        spark, rdd, withCh.schema)
      next.count() // materialize; fills the accumulator
      changed = acc.value
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(rdd)
      lab = next.drop("ch")
      iter += 1
    }
    lab.drop("id")
  }

  /** Tile-local union-find inside one task (pure function of the cell
    * set): labels every cell with the min linear id of its tile-local
    * component. `offs` is the adjacency stencil.
    */
  private def localLabels(pts: Iterable[(Int, Int)], nx: Int,
      offs: Seq[(Int, Int)]): Iterator[(Int, Int, Long)] = {
    val arr = pts.toArray
    val n = arr.length
    def pk(iz: Int, ix: Int): Long = (iz.toLong << 32) | (ix.toLong & 0xffffffffL)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val t = parent(c); parent(c) = r; c = t }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) {
      // duplicate (iz, ix) rows are merged into one component so every
      // copy gets the same label (the (0,0) offset is not in the stencil)
      val prev = idx.put(pk(arr(i)._1, arr(i)._2), i)
      if (prev != null) union(prev.intValue(), i)
      i += 1
    }
    i = 0
    while (i < n) {
      val (iz, ix) = arr(i)
      offs.foreach { case (di, dj) =>
        val j = idx.get(pk(iz + di, ix + dj))
        if (j != null) union(i, j.intValue())
      }
      i += 1
    }
    val minId = Array.fill(n)(Long.MaxValue)
    i = 0
    while (i < n) {
      val r = find(i)
      val id = arr(i)._1.toLong * nx + arr(i)._2
      if (id < minId(r)) minId(r) = id
      i += 1
    }
    Iterator.tabulate(n)(j => (arr(j)._1, arr(j)._2, minId(find(j))))
  }

  /** Min-label + pointer-jumping CC over a general edge list (keys..., s,
    * t), returning (keys..., node, comp). Used on the CONTRACTED
    * tile-boundary graph, which is orders of magnitude smaller than the
    * cell set — iterations are cheap even at cluster scale.
    */
  private def graphCC(edges: DataFrame, keys: Seq[String],
      maxIter: Int): DataFrame = {
    val k = keys.map(col)
    // Materialize the raw edge list ONCE before symmetrizing: the
    // unionAll of two selects would otherwise evaluate the (often
    // expensive — e.g. the LSH pair join) upstream plan twice. A scoped
    // persist (not localCheckpoint) — the edge plan is FIXED across
    // iterations so no lineage cut is needed, and persist skips the
    // checkpoint's serialize-to-store pass. The symmetrized union stays
    // a narrow plan over the persisted rows and is NOT deduplicated:
    // min-aggregation of messages is duplicate-tolerant, so a distinct()
    // here would buy nothing and cost a full shuffle of the edge list.
    //
    // NEGATIVE RESULT (measured, don't retry): scoping AQE off (+ static
    // width 8) around the iterative solve — the lever that won 11%
    // inside FindStructures — cut job counts 2-3x here but REGRESSED
    // wall on every CC-heavy query (q104 3.53->4.16 s, q50 3.08->3.29,
    // q95 1.28->1.65, measured min-of-3 same-subset): each iteration's
    // joins against the small materialized label table rely on AQE's
    // runtime SMJ->broadcast conversion and aggressive coalescing,
    // which static planning cannot see through a checkpointed lineage.
    val e0 = graft.CacheScope.retain(
      edges.select((k :+ col("s") :+ col("t")): _*))
    // SIZE-GATED DRIVER SOLVE: the contracted graph is usually
    // tiny relative to the data that produced it (tile-boundary roots,
    // star-contracted LSH buckets, >=T cosine pairs), yet the iterative
    // loop pays one scheduled job PER ROUND — 2-8 rounds of
    // ~60-100 ms quanta per solve on the bench, and O(log diameter)
    // sequential barriers at any scale. Below the gate the edge list is
    // collected and solved with an in-memory min-root union-find: two
    // jobs total (the count that decides, reading the persist this
    // loop forced anyway, and the collect), and the result returns as
    // a LOCAL relation — downstream joins broadcast it without a
    // shuffle. The gate is bytes-bounded (edges x ~40 B; 2M edges
    // is ~100 MB transient driver heap); above it, or for non-integral
    // node ids, the distributed loop [[graphCCLoop]] runs — at 100 TB a
    // contracted graph CAN exceed driver memory, and the fallback is
    // the design, not a safety valve.
    val nodeType = e0.schema("s").dataType
    val integralNodes = nodeType == org.apache.spark.sql.types.LongType ||
      nodeType == org.apache.spark.sql.types.IntegerType
    if (integralNodes && e0.count() <= MaxDriverEdges)
      driverCC(e0, keys, nodeType)
    else graphCCLoop(e0, keys, maxIter)
  }

  /** Largest edge list [[graphCC]] solves on the driver (x ~40 B). */
  private val MaxDriverEdges = 2000000L

  /** The distributed leg of [[graphCC]] over a (keys..., s, t) edge list
    * `e0` that the caller has already materialized or cached: min-label
    * propagation with pointer jumping, one job per round.
    */
  private[grid] def graphCCLoop(e0: DataFrame, keys: Seq[String],
      maxIter: Int): DataFrame = {
    val spark = e0.sparkSession
    def cut(df: DataFrame): DataFrame =
      spark.createDataFrame(df.localCheckpoint(true).rdd, df.schema)
    val k = keys.map(col)
    val e = e0
      .unionAll(e0.select((k :+ col("t").as("s") :+ col("s").as("t")): _*))
    // node set: s-side of the symmetrized list covers every endpoint
    var lab = cut(e.select((k :+ col("s").as("node")): _*).distinct()
      .withColumn("comp", col("node")))
    // free superseded iterations' checkpoint blocks (see ccImpl): peak
    // residency two label tables, not one per round.
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val msgs = e.join(lab.withColumnRenamed("node", "s"), keys :+ "s")
        .groupBy((k :+ col("t")): _*).agg(min("comp").as("mcomp"))
        .withColumnRenamed("t", "node")
      val gathered = lab.join(msgs, keys :+ "node", "left")
        .withColumn("tmp", least(col("comp"), coalesce(col("mcomp"), col("comp"))))
      val ptr = lab.select((keys.map(c => col(c).as(s"p_$c"))
        :+ col("node").as("p_node") :+ col("comp").as("p_comp")): _*)
      val cond = keys.map(c => col(c) === col(s"p_$c"))
        .foldLeft(col("tmp") === col("p_node"))(_ && _)
      val jumped = gathered.join(ptr, cond, "left")
        .withColumn("newcomp", least(col("tmp"), coalesce(col("p_comp"), col("tmp"))))
      // one job per round: the change count rides an accumulator inside
      // the materialization pass (same pattern as ccImpl; a task-retry
      // overcount only costs one harmless extra iteration)
      val withCh = jumped.select((k :+ col("node")
        :+ col("newcomp").as("comp")
        :+ (col("newcomp") < col("comp")).as("ch")): _*)
      val chIdx = withCh.schema.fieldIndex("ch")
      val acc = spark.sparkContext.longAccumulator
      val rdd = org.apache.spark.sql.graftbridge.Bridge.toInternalRdd(withCh).map { r =>
        if (!r.isNullAt(chIdx) && r.getBoolean(chIdx)) acc.add(1L)
        r.copy()
      }
      rdd.localCheckpoint()
      val next = org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(
        spark, rdd, withCh.schema)
      next.count() // materialize; fills the accumulator
      changed = acc.value
      prevRdd.foreach(_.unpersist(false))
      prevRdd = Some(rdd)
      lab = next.drop("ch")
      iter += 1
    }
    lab
  }

  /** In-memory min-root union-find over a collected edge list — the
    * sub-gate leg of [[graphCC]] (see the gate note there). Semantics
    * are identical to the iterative loop: per key group, every endpoint
    * node maps to the MINIMUM node id reachable from it. Union always
    * keeps the smaller root as parent, so each set's final root IS its
    * minimum; path compression keeps the scan linear. Returns a LOCAL
    * relation with the same (keys..., node, comp) schema and node/comp
    * type as the distributed path.
    */
  private def driverCC(e0: DataFrame, keys: Seq[String],
      nodeType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, LongType}
    val spark = e0.sparkSession
    val nk = keys.length
    val rows = e0.collect()
    def nodeAt(r: Row, i: Int): Long = nodeType match {
      case LongType => r.getLong(i)
      case _ => r.getInt(i).toLong
    }
    // parent pointers per (key-tuple, node); key tuples compare by value
    val parent = new java.util.HashMap[(Seq[Any], Long), Long](
      rows.length * 2 + 16)
    def find(kt: Seq[Any], n: Long): Long = {
      var root = n
      while ({ val p = parent.get((kt, root)); p != root && { root = p; true } }) ()
      var cur = n // path compression
      while (cur != root) {
        val key = (kt, cur); val nxt = parent.get(key)
        parent.put(key, root); cur = nxt
      }
      root
    }
    rows.foreach { r =>
      val kt = r.toSeq.take(nk)
      val s = nodeAt(r, nk); val t = nodeAt(r, nk + 1)
      parent.putIfAbsent((kt, s), s)
      parent.putIfAbsent((kt, t), t)
      val rs = find(kt, s); val rt = find(kt, t)
      if (rs != rt) { // min root wins: the set minimum stays the root
        if (rs < rt) parent.put((kt, rt), rs)
        else parent.put((kt, rs), rt)
      }
    }
    import scala.jdk.CollectionConverters._
    val out = parent.keySet.asScala.toSeq.map { case (kt, n) =>
      val comp = find(kt, n)
      val back: Any = nodeType match {
        case LongType => n
        case _ => n.toInt
      }
      val compBack: Any = nodeType match {
        case LongType => comp
        case _ => comp.toInt
      }
      Row.fromSeq(kt ++ Seq(back, compBack))
    }
    val schema = StructType(e0.schema.fields.take(nk).toSeq ++ Seq(
      StructField("node", nodeType), StructField("comp", nodeType)))
    spark.createDataFrame(out.asJava, schema)
  }

  /** Two-level connected components — the 100 TB design:
    * 1. one shuffle groups cells into (keys, tile) blocks; a union-find
    *    labels each block in-task with the min cell id of its local
    *    component (embarrassingly parallel, no iteration);
    * 2. only tile-BOUNDARY cells (an O(perimeter/area) fraction) are
    *    self-joined to find cross-tile adjacencies, contracted to edges
    *    between local roots;
    * 3. the iterative min-label loop runs on that contracted graph —
    *    thousands of times smaller than the cell set — and the result is
    *    joined back.
    * Labels equal the min linear cell id reachable, identical to the
    * plain iterative scheme ([[ccIterative]], kept for parity tests).
    */
  /** Min/max (tz, tx) extent observed during the tile-labeling pass —
    * merging is idempotent, so task retries cannot corrupt the answer
    * (an overcounted extent could only WIDEN, and widening only ever
    * demotes the fast path to the always-correct full solve).
    */
  private class TileExtentAccumulator
      extends org.apache.spark.util.AccumulatorV2[(Int, Int), (Int, Int, Int, Int)] {
    @volatile private var z0 = Int.MaxValue
    @volatile private var z1 = Int.MinValue
    @volatile private var x0 = Int.MaxValue
    @volatile private var x1 = Int.MinValue
    def isZero: Boolean = z0 == Int.MaxValue
    def copy(): TileExtentAccumulator = {
      val c = new TileExtentAccumulator
      c.z0 = z0; c.z1 = z1; c.x0 = x0; c.x1 = x1; c
    }
    def reset(): Unit = {
      z0 = Int.MaxValue; z1 = Int.MinValue
      x0 = Int.MaxValue; x1 = Int.MinValue
    }
    def add(v: (Int, Int)): Unit = {
      z0 = math.min(z0, v._1); z1 = math.max(z1, v._1)
      x0 = math.min(x0, v._2); x1 = math.max(x1, v._2)
    }
    def merge(o: org.apache.spark.util.AccumulatorV2[(Int, Int), (Int, Int, Int, Int)]): Unit =
      o match {
        case t: TileExtentAccumulator =>
          z0 = math.min(z0, t.z0); z1 = math.max(z1, t.z1)
          x0 = math.min(x0, t.x0); x1 = math.max(x1, t.x1)
      }
    def value: (Int, Int, Int, Int) = (z0, z1, x0, x1)
    /** true when no cells were seen (trivially local) or every cell sits
      * in the same tile.
      */
    def isSingleTile: Boolean = isZero || (z0 == z1 && x0 == x1)
  }

  private def ccTiled(cells: DataFrame, nx: Int, dirs8: Boolean,
      keys: Seq[String], maxIter: Int, tile: Int,
      staticSingleTile: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = cells.sparkSession
    val nk = keys.length
    val offs: Seq[(Int, Int)] =
      if (dirs8) for (di <- -1 to 1; dj <- -1 to 1 if !(di == 0 && dj == 0))
        yield (di, dj)
      else Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    val sel = cells.select((keys.map(col)
      :+ col("iz").cast("int") :+ col("ix").cast("int")): _*)
    val keyFields = sel.schema.fields.take(nk).toSeq

    // 1. tile-local union-find, one (keys, tz, tx) group at a time. The
    // grouping asks for clustering by (keys, tz, tx) instead of forcing a
    // repartition: an input already hash-partitioned by the keys (the
    // grid memo, partitioned by `it`) is labeled where it lies, and any
    // other input gets one Tungsten exchange + sort. Only the labeling
    // deserializes, holding ONE tile (<= tile^2 cells) on heap at a time.
    // A Dataset operator, not an RDD round trip: `.rdd` would make AQE
    // execute the upstream stages when the frame is built.
    val withTile = sel
      .withColumn("tz", floor(col("iz").cast("double") / tile).cast("int"))
      .withColumn("tx", floor(col("ix").cast("double") / tile).cast("int"))
    val gcols = keys.map(col) :+ col("tz") :+ col("tx")
    // tile-extent accumulator rides the labeling pass: min/max merging
    // is idempotent under task retries, and it makes the single-tile
    // check below cost ZERO extra jobs (the value is final once
    // `labeled` materializes, which the localCheckpoint does eagerly).
    // Skipped entirely on the STATIC single-tile path (no accumulator
    // reader exists there).
    val extentOpt =
      if (staticSingleTile) None else Some(new TileExtentAccumulator)
    extentOpt.foreach(spark.sparkContext.register(_, "cc tile extent"))
    val labSchema = StructType(keyFields ++ Seq(
      StructField("iz", IntegerType), StructField("ix", IntegerType),
      StructField("root", LongType)))
    val tileKey = StructType(
      withTile.schema.fields.take(nk) ++ withTile.schema.fields.takeRight(2))
    def labelTile(k: Row, rows: Iterator[Row]): Iterator[Row] = {
      val kv = k.toSeq.take(nk)
      extentOpt.foreach(_.add((k.getInt(nk), k.getInt(nk + 1))))
      val cellsOfTile = rows.map { r =>
        val iz = r.getInt(nk); val ix = r.getInt(nk + 1)
        // the static hint is a caller CONTRACT (the accumulator path
        // demotes out-of-tile grids to the full solve; this path has no
        // accumulator) — violating it must fail loudly, never silently
        // split a component
        if (staticSingleTile && (iz < 0 || iz >= tile || ix < 0 || ix >= tile))
          throw new IllegalArgumentException(
            s"staticSingleTile CC received cell ($iz, $ix) outside" +
              s" [0, $tile) - caller's single-tile hint is wrong")
        (iz, ix)
      }.toVector
      localLabels(cellsOfTile, nx, offs).map { case (iz, ix, root) =>
        // Seq[Any]: a bare Seq(iz, ix, root) would widen Int -> Long
        Row.fromSeq(kv ++ Seq[Any](iz, ix, root))
      }
    }
    val labeledLazy = withTile.groupBy(gcols: _*)
      .as[Row, Row](Encoders.row(tileKey), Encoders.row(withTile.schema))
      .flatMapGroups(labelTile _)(Encoders.row(labSchema))
    // STATIC single-tile path: when the caller knows every cell index
    // lies in [0, tile) on both axes (a grid with nz, nx <= tile), the
    // whole grid is ONE tile by construction — local roots ARE the
    // components and no boundary graph can exist. The labeling then
    // stays a LAZY plan (grouping + in-task union-find) that fuses into
    // whichever job consumes it: no eager localCheckpoint, no extent
    // accumulator, no job at construction. Consumers that read the
    // result twice must retain it, since there is no checkpoint to
    // absorb a re-scan.
    if (staticSingleTile)
      return labeledLazy.withColumn("comp", col("root"))
        .select((keys.map(col) :+ col("iz") :+ col("ix") :+ col("comp")): _*)
    val extent = extentOpt.get
    // localCheckpoint (not persist): the backing blocks are cleaned by the
    // ContextCleaner once unreferenced — no cache-manager pinning.
    val labeled = labeledLazy.localCheckpoint(true)

    // 2. cross-tile edges between local roots (boundary cells only).
    // pmod/floor-division to agree with step 1's Math.floorDiv tiling on
    // negative indices (% and `div` truncate toward zero in Spark SQL).
    val onBoundary =
      pmod(col("iz"), lit(tile)) === 0 || pmod(col("iz"), lit(tile)) === tile - 1 ||
        pmod(col("ix"), lit(tile)) === 0 || pmod(col("ix"), lit(tile)) === tile - 1
    val bd = labeled.filter(onBoundary)
    val dirsArr = array(offs.map { case (di, dj) =>
      struct(lit(di).as("di"), lit(dj).as("dj")) }: _*)
    def tileOf(c: Column): Column = floor(c.cast("double") / tile)
    val probes = bd.withColumn("d", explode(dirsArr))
      .withColumn("niz", col("iz") + col("d.di"))
      .withColumn("nix", col("ix") + col("d.dj"))
      .filter(tileOf(col("niz")) =!= tileOf(col("iz"))
        || tileOf(col("nix")) =!= tileOf(col("ix")))
      .select((keys.map(col) :+ col("niz") :+ col("nix")
        :+ col("root").as("s")): _*)
    val tgt = bd.select((keys.map(col) :+ col("iz").as("niz")
      :+ col("ix").as("nix") :+ col("root").as("t")): _*)
    val edges = probes.join(tgt, keys ++ Seq("niz", "nix"))
      .select((keys.map(col) :+ col("s") :+ col("t")): _*)
      .filter(col("s") =!= col("t"))
      .distinct()

    // Single-tile fast path: the extent accumulator (final here — the
    // checkpoint above was eager) detects when the whole grid lives in
    // ONE tile. Every component is then tile-local and the labels ARE
    // the local roots, so the contracted-graph solve (localCheckpoint +
    // per-iteration jobs, all on empty inputs) is skipped outright at
    // zero added cost. This is the common case for per-plane keyed
    // solves (a key group rarely spans 512 cells per axis at the sizes
    // the per-X-point and per-region stages produce); multi-tile grids
    // fall through to the full two-level solve.
    if (extent.isSingleTile)
      return labeled.withColumn("comp", col("root"))
        .select((keys.map(col) :+ col("iz") :+ col("ix") :+ col("comp")): _*)

    // 3. solve the contracted graph, map back
    val mapping = graphCC(edges, keys, maxIter)
      .select((keys.map(c => col(c).as(s"m_$c"))
        :+ col("node") :+ col("comp").as("gcomp")): _*)
    val joinCond = keys.map(c => col(c) === col(s"m_$c"))
      .foldLeft(col("root") === col("node"))(_ && _)
    val out = labeled.join(broadcastIfSmall(mapping), joinCond, "left")
      .withColumn("comp", coalesce(col("gcomp"), col("root")))
      .select((keys.map(col) :+ col("iz") :+ col("ix") :+ col("comp")): _*)
    out
  }

  /** Broadcast hint pass-through: the contracted-graph label map is almost
    * always tiny; AQE will demote if it is not.
    */
  private def broadcastIfSmall(df: DataFrame): DataFrame = broadcast(df)

  /** Connected components of `cells` (4-adjacency) per `keys` group:
    * tile-local union-find + contracted boundary graph (see [[ccTiled]]).
    * `tile` bounds per-task memory (tile² cells).
    */
  def connectedComponents(cells: DataFrame, nx: Int,
      keys: Seq[String] = Seq("it"), maxIter: Int = 1000,
      tile: Int = 512, staticSingleTile: Boolean = false): DataFrame =
    ccTiled(cells, nx, dirs8 = false, keys, maxIter, tile, staticSingleTile)

  /** Connected components under 8-adjacency (contour-cell grouping). */
  def connectedComponents8(cells: DataFrame, nx: Int,
      keys: Seq[String] = Seq("it"), maxIter: Int = 1000,
      tile: Int = 512, staticSingleTile: Boolean = false): DataFrame =
    ccTiled(cells, nx, dirs8 = true, keys, maxIter, tile, staticSingleTile)

  /** True when a grid with extents (nz, nx) provably fits one CC tile
    * (all indices in [0, tile) on both axes) — callers pass this as
    * `staticSingleTile` to get the lazy, checkpoint-free solve. "Lazy"
    * holds under AQE too: building the solve starts no Spark job; the
    * labeling runs inside whichever action consumes it.
    */
  def fitsOneTile(nz: Int, nx: Int, tile: Int = 512): Boolean =
    nz <= tile && nx <= tile

  /** Public entry to the contracted-graph CC solver: connected
    * components over an arbitrary (s, t) edge list, returning
    * (node, comp) with comp = min node id reachable. Also serves the
    * dedup surface (clusters over the MinHash-LSH pair graph).
    */
  def graphComponents(edges: DataFrame, keys: Seq[String] = Seq.empty,
      maxIter: Int = 1000): DataFrame =
    graphCC(edges, keys, maxIter)

  /** The plain iterative min-label scheme over raw cells — kept as the
    * reference implementation for parity tests of [[ccTiled]].
    */
  def connectedComponentsIterative(cells: DataFrame, nx: Int, dirs8: Boolean,
      keys: Seq[String] = Seq("it"), maxIter: Int = 1000): DataFrame =
    ccImpl(cells, nx, dirs8, keys, maxIter)

  /** Current-sheet detection (reference vpicdataset.py:481-520) on an
    * already-smoothed field: 10x10 extremum filters, mean±3σ thresholds
    * OF THE FILTERED ARRAYS (population σ, np.std), connected regions,
    * per-region extremum, then region-grow from the extremum over the
    * field above a fraction of the regional peak. The hardcoded 0.5 on
    * the negative branch (vpicdataset.py:516, ignores cs_limit) is
    * preserved. ALL regions grow in one tagged CC (no per-region loop).
    * Returns (it, iz, ix, cs) with cs in {-1, 0, +1}.
    */
  def currentSheets(grid: DataFrame, field: String, nz: Int, nx: Int,
      csLimit: Double): DataFrame = {
    val mm = GridOps.minmaxFilter(grid, field, nz, nx, "fmax", "fmin")
    // scoped persist: the filtered fields feed the threshold aggregate,
    // the probe join, and both sheet branches (4 consumers). A
    // Window.partitionBy("it") with no frame would avoid the reuse but
    // forces every cell of a time step through ONE task — a non-starter
    // at the 100 TB design point where a single `it` plane is billions
    // of cells; groupBy partial-aggregates map-side and broadcasts a
    // per-it row back. An eager caller that checkpoints the result
    // (FindStructures' small-grid leg) runs this inside a
    // CacheScope.scoped block, which frees these grid-sized blocks as
    // soon as the checkpoint lands.
    val g = graft.CacheScope.retain(grid.join(mm, Seq("it", "iz", "ix")))
    val thr = g.groupBy("it").agg(
      (avg("fmax") + lit(3) * stddev_pop("fmax")).as("max_thr"),
      (avg("fmin") - lit(3) * stddev_pop("fmin")).as("min_thr"))
    val gt = g.join(broadcast(thr), Seq("it"))

    // BOTH sign branches in one sign-keyed plan: the keyed CC solver
    // makes +/- a key extension, so the two region solves and the two
    // grow solves the per-branch version paid collapse to one each
    // (at any scale this halves the eager solve points; the results are
    // identical — components never cross the sgn key). A cell exceeding
    // both thresholds joins both branches, as in the per-branch union.
    val cells = gt.select(col("it"), col("iz"), col("ix"), explode(array(
        when(col("fmax") > col("max_thr"), lit(1)),
        when(col("fmin") < col("min_thr"), lit(-1)))).as("sgn"))
      .filter(col("sgn").isNotNull)
    val regions = connectedComponents(cells, nx, keys = Seq("sgn", "it"),
      staticSingleTile = fitsOneTile(nz, nx))
    val withV = regions.join(grid, Seq("it", "iz", "ix"))
    // per-region extremum of the smoothed field (nd.maximum_position /
    // nd.maximum; ties broken by (iz, ix) order like np argmax).
    // One agg for both signs: maximizing (sgn*field, -iz, -ix) is the
    // positive branch's max_by key at sgn=+1 and exactly the negative
    // branch's min_by of (field, iz, ix) at sgn=-1.
    // pinned: ext is broadcast in TWO separate sub-plans (tagged and
    // seeds) — two exchanges, and on the lazy single-tile CC path each
    // would otherwise re-run the region labeling.
    val ext = graft.CacheScope.retain(withV.groupBy("sgn", "it", "comp")
      .agg(max_by(struct(col(field).as("v"), col("iz"), col("ix")),
        struct(col("sgn") * col(field), -col("iz"), -col("ix"))).as("e"))
      .select(col("sgn").as("r_sgn"), col("it").as("r_it"),
        col("comp").as("rid"),
        col("e.v").as("peak"), col("e.iz").as("eiz"), col("e.ix").as("eix")))
    // region-grow for ALL regions of BOTH signs at once: tag cells with
    // every region whose per-peak condition they satisfy, one keyed CC,
    // keep the component containing each region's seed.
    val cond = when(col("r_sgn") === 1, col(field) > col("peak") * csLimit)
      .otherwise(col(field) < col("peak") * 0.5) // hardcoded 0.5 (vpicdataset.py:516)
    val tagged = grid.join(broadcast(ext),
        col("it") === col("r_it") && cond)
      .select(col("r_sgn").as("sgn"), col("rid"), col("it"),
        col("iz"), col("ix"))
    // scoped persist: the grow labels feed both the seed lookup and
    // the final membership join — without it the solve's output plan
    // (checkpoint-join or fast-path projection) re-evaluates per use
    val cc = graft.CacheScope.retain(
      connectedComponents(tagged, nx, keys = Seq("sgn", "rid", "it"),
        staticSingleTile = fitsOneTile(nz, nx)))
    val seeds = cc.join(broadcast(ext),
        cc("sgn") === col("r_sgn") && cc("rid") === ext("rid")
          && cc("it") === col("r_it")
          && cc("iz") === col("eiz") && cc("ix") === col("eix"))
      .select(cc("sgn").as("s_sgn"), cc("rid").as("s_rid"),
        cc("it").as("s_it"), col("comp").as("seed_comp"))
    val members = cc.join(broadcast(seeds), col("sgn") === col("s_sgn")
        && col("rid") === col("s_rid")
        && col("it") === col("s_it") && col("comp") === col("seed_comp"))
      .select("sgn", "it", "iz", "ix").distinct()
    grid.select("it", "iz", "ix")
      .join(members.groupBy("it", "iz", "ix")
        .agg(sum("sgn").as("cs0")), Seq("it", "iz", "ix"), "left")
      .withColumn("cs", coalesce(col("cs0"), lit(0L)).cast("int"))
      .select("it", "iz", "ix", "cs")
  }

  /** Separatrices + O-structures around X points (reference
    * vpicdataset.py:441-479). For each X point: psi-level contour through
    * it; contour components (8-adjacency over contour CELLS — our
    * set-based stand-in for polyline identity); keep components whose min
    * distance to the X point <= tol; rasterize crossing points (floor to
    * pixels) + the dilated X-point pixel; gap_fill; OR across X points.
    * O-structures: zero regions of each X point's filled mask that touch
    * no image border (region partitioning is visit-order independent, so
    * the reference's seeded RNG has no semantic effect).
    *
    * ALL X points are processed in one tagged plan: levels, contours,
    * component grouping, gap fill, and zero-region fills are keyed by
    * `xid` — the reference's outer Python loop (:444) has no runtime
    * counterpart here.
    *
    * Returns (it, iz, ix, sep, ostruct) masks (0/1) for time `it0`.
    */
  def separatrices(grid: DataFrame, psiField: String, it0: Int,
      xPoints: Seq[(Double, Double)], nz: Int, nx: Int,
      tol: Double): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val g0 = grid.filter(col("it") === it0)
    if (xPoints.isEmpty)
      return g0.select("it", "iz", "ix")
        .withColumn("sep", lit(0)).withColumn("ostruct", lit(0))
    val xdf = xPoints.zipWithIndex
      .map { case ((py, px), i) => (i, it0, py, px) }
      .toDF("xid", "it", "py", "px")
    // distributed level sample, then the shared body. Callers that
    // already hold the levels driver-side (find_structures collects
    // them with the X/O classification) use the WithLevels variant —
    // the level table becomes a local relation and this whole sampling
    // sub-plan (corner join + aggregation + persist) disappears.
    val levels = graft.CacheScope.retain(
      bilinearSample(g0, psiField, xdf, "level"))
    separatricesBody(g0, psiField, it0, xPoints, nz, nx, tol, levels)
  }

  /** [[separatrices]] with the psi level at each X point already known
    * (py, px, level) — no distributed sampling pass. The body's
    * intermediates are retained through CacheScope; a caller that
    * eagerly checkpoints the returned masks does so inside a
    * CacheScope.scoped block, which frees them as soon as the
    * checkpoint lands.
    */
  def separatricesWithLevels(grid: DataFrame, psiField: String, it0: Int,
      xPointLevels: Seq[(Double, Double, Double)], nz: Int, nx: Int,
      tol: Double): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val g0 = grid.filter(col("it") === it0)
    if (xPointLevels.isEmpty)
      return g0.select("it", "iz", "ix")
        .withColumn("sep", lit(0)).withColumn("ostruct", lit(0))
    val levels = xPointLevels.zipWithIndex
      .map { case ((py, px, lv), i) => (i, it0, py, px, lv) }
      .toDF("xid", "it", "py", "px", "level")
    separatricesBody(g0, psiField, it0,
      xPointLevels.map(p => (p._1, p._2)), nz, nx, tol, levels)
  }

  private def separatricesBody(g0: DataFrame, psiField: String, it0: Int,
      xPoints: Seq[(Double, Double)], nz: Int, nx: Int,
      tol: Double, levels: DataFrame): DataFrame = {
    val spark = g0.sparkSession
    import spark.implicits._
    // pinned: the CC solve's eager labeling forces the marching-
    // squares pass; without the persist `pts` would re-run it.
    val segs = graft.CacheScope.retain(contourSegmentsAt(g0, psiField,
      levels.select(col("xid"), col("level"))))
    val segCells = segs.select("xid", "it", "iz", "ix").distinct()
    // Both solves below are cut from their input's plan: the body joins
    // each labeling back with its own input and keeps composing on the
    // result, and on an uncut plan every later operator re-deduplicates
    // the whole shared upstream in the analyzer (measured on g19: driver
    // time outside jobs 4.6 s -> 10.1 s per call). Under AQE the cut runs
    // the solve's shuffle stages when the frame is built, so building
    // this body starts jobs; the lazy single-tile solve itself does not.
    val comp = connectedComponents8(segCells, nx, keys = Seq("xid", "it"),
      staticSingleTile = fitsOneTile(nz, nx)).localCheckpoint(eager = false)
    // endpoint distances to the owning X point. Pinned: consumed by
    // both `keep` and `raster`.
    val pts = graft.CacheScope.retain(
      segs.join(comp, Seq("xid", "it", "iz", "ix"))
        .select(col("xid"), col("comp"),
          explode(array(struct(col("y1").as("y"), col("x1").as("x")),
            struct(col("y2").as("y"), col("x2").as("x")))).as("p"))
        .join(broadcast(levels.select(col("xid").as("l_xid"),
          col("py"), col("px"))), col("xid") === col("l_xid"))
        .select(col("xid"), col("comp"),
          sqrt((col("p.y") - col("py")) * (col("p.y") - col("py")) +
            (col("p.x") - col("px")) * (col("p.x") - col("px"))).as("dist"),
          col("p.y").as("y"), col("p.x").as("x")))
    val keep = pts.groupBy("xid", "comp").agg(min("dist").as("mind"))
      .filter(col("mind") <= tol).select("xid", "comp")
    val raster = pts.join(broadcast(keep), Seq("xid", "comp"))
      .select(col("xid"), floor(col("y")).cast("int").as("iz"),
        floor(col("x")).cast("int").as("ix"))
      .filter(col("iz") >= 0 && col("iz") < nz && col("ix") >= 0 && col("ix") < nx)
      .distinct()
    // dilated X pixel (binary_dilation default cross element, :449-451)
    val xpix = xPoints.zipWithIndex.flatMap { case ((py, px), i) =>
      for (di <- -1 to 1; dj <- -1 to 1 if di * dj == 0)
        yield (i, py.toInt + di, px.toInt + dj)
    }.filter { case (_, a, b) => a >= 0 && a < nz && b >= 0 && b < nx }
      .toDF("xid", "iz", "ix")
    val localMask = graft.CacheScope.retain(raster.unionAll(xpix).distinct()
      .withColumn("it", lit(it0)).withColumn("m", lit(1)))
    // SUPPORT-BOUNDED per-xid cell set instead of full-grid × xids:
    // gap_fill can only set cells within one step of a mask cell, and a
    // zero region that avoids the image border must be ENCLOSED by mask
    // cells — so everything downstream is decided inside the mask's
    // bounding box + 1. Cells are GENERATED from the per-xid bbox
    // (sequence × sequence — never a crossJoin against the grid), so
    // the sep/O-structure stage costs Σ_xid bbox_area, not
    // cells × xpoints: at a billion-cell plane with thousands of X
    // points the full-grid variant is quadratic in domain size while
    // this tracks the structures' actual extent. Cells OUTSIDE a
    // bbox+1 are zero in the full-grid solve and provably connect to
    // the image border (walk straight away from the box), so the
    // border-touch test below treats the bbox edge as border —
    // identical output by construction. gap_fill's toroidal wraparound
    // (np.roll) is honored by widening any axis whose mask touches its
    // edge to the full range.
    val bbox = localMask.groupBy("xid").agg(
      min("iz").as("mz0"), max("iz").as("mz1"),
      min("ix").as("mx0"), max("ix").as("mx1"))
      .select(col("xid"),
        when(col("mz0") === 0 || col("mz1") === nz - 1, lit(0))
          .otherwise(col("mz0") - 1).as("z0"),
        when(col("mz0") === 0 || col("mz1") === nz - 1, lit(nz - 1))
          .otherwise(col("mz1") + 1).as("z1"),
        when(col("mx0") === 0 || col("mx1") === nx - 1, lit(0))
          .otherwise(col("mx0") - 1).as("x0"),
        when(col("mx0") === 0 || col("mx1") === nx - 1, lit(nx - 1))
          .otherwise(col("mx1") + 1).as("x1"))
    val full = bbox
      .select(col("xid"), explode(sequence(col("z0"), col("z1"))).as("iz"),
        col("x0"), col("x1"), col("z0"), col("z1"))
      .select(col("xid"), col("iz"),
        explode(sequence(col("x0"), col("x1"))).as("ix"),
        col("z0"), col("z1"), col("x0"), col("x1"))
      .withColumn("it", lit(it0))
      .join(localMask, Seq("xid", "it", "iz", "ix"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
    val filled = graft.CacheScope.retain(GridOps.gapFill(
      full.select("xid", "it", "iz", "ix", "m"), "m", nz, nx,
      "filled", keys = Seq("xid", "it")))

    val seps = filled.groupBy("it", "iz", "ix").agg(max("filled").as("sep"))
    // O-structures: zero regions per xid that touch no border. `filled`
    // carries a 1-cell scatter ring beyond the bbox (gap_fill's
    // neighbor targets) — on-or-beyond-bbox-edge cells count as
    // border-touching, which subsumes the ring.
    val zeros = filled.join(broadcast(bbox), Seq("xid"))
      .withColumn("touch_edge",
        col("iz") <= col("z0") || col("iz") >= col("z1")
          || col("ix") <= col("x0") || col("ix") >= col("x1"))
      .filter(col("filled") === 0)
      .select("xid", "it", "iz", "ix", "touch_edge")
    // pinned: zcomp feeds both the interior test and the final member
    // join.
    val zcomp = graft.CacheScope.retain(connectedComponents(
      zeros.select("xid", "it", "iz", "ix"), nx, keys = Seq("xid", "it"),
      staticSingleTile = fitsOneTile(nz, nx)).localCheckpoint(eager = false)
      .join(zeros, Seq("xid", "it", "iz", "ix")))
    val interior = zcomp.groupBy("xid", "comp")
      .agg(max(col("touch_edge") ||
        col("iz") === 0 || col("iz") === nz - 1 ||
        col("ix") === 0 || col("ix") === nx - 1).as("touches"))
      .filter(!col("touches")).select("xid", "comp")
    val ostr = zcomp.join(broadcast(interior), Seq("xid", "comp"))
      .groupBy("it", "iz", "ix").agg(lit(1).as("ostruct"))

    g0.select("it", "iz", "ix")
      .join(seps, Seq("it", "iz", "ix"), "left")
      .join(ostr, Seq("it", "iz", "ix"), "left")
      .withColumn("sep", coalesce(col("sep"), lit(0)).cast("int"))
      .withColumn("ostruct", coalesce(col("ostruct"), lit(0)).cast("int"))
      .select("it", "iz", "ix", "sep", "ostruct")
  }
}
