package graft.grid

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import GridQueries.{grid, gridCte, NZ, NX}

/** Topology operators (SURVEY §2A rows 22f-22k) over the events-derived
  * grid, each mirrored by a DuckDB oracle built from the same conventions
  * (corner signs, crossing order [top,left,right,bottom], saddle pairing
  * (top,left)+(right,bottom), min-label components).
  */
object TopologyQueries {
  private val L1 = 150.0 // b1 contour level (b1 in [0, ~328])
  private val L2 = 50.0  // b2 contour level (b2 in [0, 100])

  /** SQL: corner + crossing CTEs for contour segments of `f - lvlExpr`
    * over source CTE `src`; names suffixed with `sfx`. Produces CTE
    * `segs_[sfx]`. `keyA`/`keyB`/`extraJoin` thread an optional extra
    * key column through (the per-X-point level table of g19): `keyA`
    * is the aliased select in the corner CTE (e.g. "l.xid,"), `keyB`
    * the bare column in downstream CTEs (e.g. "xid,").
    */
  private def segsSqlGen(src: String, f: String, lvlExpr: String,
      sfx: String, keyA: String = "", keyB: String = "",
      extraJoin: String = ""): String =
    s"""corners_$sfx AS MATERIALIZED (
       SELECT $keyA a.it, a.iz, a.ix,
              a.$f - $lvlExpr AS c00, b.$f - $lvlExpr AS c01,
              c.$f - $lvlExpr AS c10, d.$f - $lvlExpr AS c11
       FROM $src a
       JOIN $src b ON b.it = a.it AND b.iz = a.iz   AND b.ix = a.ix + 1
       JOIN $src c ON c.it = a.it AND c.iz = a.iz+1 AND c.ix = a.ix
       JOIN $src d ON d.it = a.it AND d.iz = a.iz+1 AND d.ix = a.ix + 1
       $extraJoin),
       cr_$sfx AS MATERIALIZED (
       SELECT $keyB it, iz, ix,
         (c00 >= 0) <> (c01 >= 0) AS ct, (c00 >= 0) <> (c10 >= 0) AS cl,
         (c01 >= 0) <> (c11 >= 0) AS cx, (c10 >= 0) <> (c11 >= 0) AS cb,
         CAST(iz AS DOUBLE) AS yt, ix + c00/(c00-c01) AS xt,
         iz + c00/(c00-c10) AS yl, CAST(ix AS DOUBLE) AS xl,
         iz + c01/(c01-c11) AS yr, CAST(ix + 1 AS DOUBLE) AS xr,
         CAST(iz + 1 AS DOUBLE) AS yb, ix + c10/(c10-c11) AS xb
       FROM corners_$sfx
       WHERE (CASE WHEN (c00 >= 0) <> (c01 >= 0) THEN 1 ELSE 0 END +
              CASE WHEN (c00 >= 0) <> (c10 >= 0) THEN 1 ELSE 0 END +
              CASE WHEN (c01 >= 0) <> (c11 >= 0) THEN 1 ELSE 0 END +
              CASE WHEN (c10 >= 0) <> (c11 >= 0) THEN 1 ELSE 0 END) >= 2),
       segs_$sfx AS MATERIALIZED (
       SELECT $keyB it, iz, ix,
         CASE WHEN ct THEN yt WHEN cl THEN yl ELSE yr END AS y1,
         CASE WHEN ct THEN xt WHEN cl THEN xl ELSE xr END AS x1,
         CASE WHEN ct AND cl THEN yl WHEN cx AND (ct OR cl) THEN yr ELSE yb END AS y2,
         CASE WHEN ct AND cl THEN xl WHEN cx AND (ct OR cl) THEN xr ELSE xb END AS x2
       FROM cr_$sfx
       UNION ALL
       SELECT $keyB it, iz, ix, yr AS y1, xr AS x1, yb AS y2, xb AS x2
       FROM cr_$sfx WHERE ct AND cl AND cx AND cb)"""

  private def segsSql(f: String, lvl: Double, sfx: String): String =
    segsSqlGen("grid", f, lvl.toString, sfx)

  /** SQL: segment-pair intersection CTEs over `segs_[sfxA]` x
    * `segs_[sfxB]`, producing CTE `[out]` with (it, py, px). The exact
    * twin of [[Topology.segmentIntersections]].
    */
  private def nullsSqlGen(sfxA: String, sfxB: String, out: String): String =
    s"""${out}_pairs AS MATERIALIZED (
       SELECT a.it, a.y1 AS ay, a.x1 AS ax, a.y2 AS yy, a.x2 AS bx,
              b.y1 AS cy, b.x1 AS cx2, b.y2 AS dy, b.x2 AS dx
       FROM segs_$sfxA a JOIN segs_$sfxB b
         ON a.it = b.it AND a.iz = b.iz AND a.ix = b.ix),
       ${out}_inter AS MATERIALIZED (
       SELECT * FROM ${out}_pairs
       WHERE (((dx - ax) * (cy - ay) > (cx2 - ax) * (dy - ay)) <>
              ((dx - bx) * (cy - yy) > (cx2 - bx) * (dy - yy)))
         AND (((cx2 - ax) * (yy - ay) > (bx - ax) * (cy - ay)) <>
              ((dx - ax) * (yy - ay) > (bx - ax) * (dy - ay)))
         AND ((ay - yy) * (cx2 - dx) - (ax - bx) * (cy - dy)) <> 0),
       $out AS MATERIALIZED (
       SELECT it,
         ((ay*bx - ax*yy) * (cy - dy) - (ay - yy) * (cy*dx - cx2*dy)) /
           ((ay - yy) * (cx2 - dx) - (ax - bx) * (cy - dy)) AS py,
         ((ay*bx - ax*yy) * (cx2 - dx) - (ax - bx) * (cy*dx - cx2*dy)) /
           ((ay - yy) * (cx2 - dx) - (ax - bx) * (cy - dy)) AS px
       FROM ${out}_inter)"""

  /** SQL: null points CTE `nulls` from segs_a x segs_b. */
  private val nullsSql: String =
    s"""${segsSql("b1", L1, "a")},
       ${segsSql("b2", L2, "b")},
       ${nullsSqlGen("a", "b", "nulls")}"""

  /** Spark side of the null-point computation, memoized per
    * (session, dir) like the grid itself: g11 and g12 share one
    * persisted result (contour extraction + the segment-pair join are
    * the expensive half of both queries). The null set is tiny —
    * O(contour crossings), not O(cells). The memo's persist is lazy:
    * the first consuming action (g11 or g12) pays the materialization;
    * building the query triggers no job.
    */
  private def nulls(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, s"nulls:$d") {
      val g = grid(s, d)
      Topology.segmentIntersections(
        Topology.contourSegments(g, "b1", L1),
        Topology.contourSegments(g, "b2", L2))
    }

  def defs: Seq[Q] = Seq(
    // ---- g10: marching-squares contour segments (reference 22f).
    Q("g10_contour_segments",
      (s, d) =>
        Topology.contourSegments(grid(s, d), "b1", L1)
          .select(col("it"), col("iz"), col("ix"),
            round(col("y1"), 6).as("y1"), round(col("x1"), 6).as("x1"),
            round(col("y2"), 6).as("y2"), round(col("x2"), 6).as("x2"))
          .orderBy("it", "iz", "ix", "y1", "x1", "y2", "x2"),
      Some(s"""WITH $gridCte,
              ${segsSql("b1", L1, "a")}
              SELECT it, iz, ix, round(y1,6) AS y1, round(x1,6) AS x1,
                     round(y2,6) AS y2, round(x2,6) AS x2
              FROM segs_a ORDER BY it, iz, ix, y1, x1, y2, x2""")),

    // ---- g11: null finding — intersections of the two contour families
    // (reference 22g). Cell-equi-join replaces the all-pairs scan.
    Q("g11_nulls",
      (s, d) =>
        nulls(s, d)
          .select(col("it"), round(col("py"), 6).as("py"), round(col("px"), 6).as("px"))
          .orderBy("it", "py", "px"),
      Some(s"""WITH $gridCte,
              $nullsSql
              SELECT it, round(py,6) AS py, round(px,6) AS px
              FROM nulls ORDER BY it, py, px""")),

    // ---- g12: X/O classification (reference 22h/22i): sign of the
    // bilinearly interpolated flux-function Hessian determinant at each
    // null. Gradients via lag/lead windows; det from raw fields here
    // (the smoothed composition is exercised in ScalaTest).
    Q("g12_xo_classify",
      (s, d) => {
        val g = grid(s, d)
        // iz-gradients adjacent, then ix-gradients: Catalyst's
        // CollapseWindow merges same-spec neighbors -> 2 window passes.
        val g1 = GridOps.gradient(g, "b1", "iz", 1.0, "db1_dz") // index-space h=1
        val g2 = GridOps.gradient(g1, "b2", "iz", 1.0, "db2_dz")
        val g3 = GridOps.gradient(g2, "b1", "ix", 1.0, "db1_dx")
        val g4 = GridOps.gradient(g3, "b2", "ix", 1.0, "db2_dx")
        val hd = g4.withColumn("hd",
          col("db1_dx") * (-col("db2_dz")) - (-col("db2_dx")) * col("db1_dz"))
        val pts = nulls(s, d)
          .select(col("it"), col("py"), col("px"))
        val sampled = Topology.bilinearSample(hd, "hd", pts, "hdi")
        sampled.select(col("it"), round(col("py"), 6).as("py"),
            round(col("px"), 6).as("px"),
            when(col("hdi") > 0, "O").when(col("hdi") < 0, "X").otherwise("D").as("cls"))
          .orderBy("it", "py", "px", "cls")
      },
      Some(s"""WITH $gridCte,
              $nullsSql,
              gz AS MATERIALIZED (SELECT it, iz, ix, b1, b2,
                lead(b1) OVER wz AS b1p, lag(b1) OVER wz AS b1m,
                lead(b2) OVER wz AS b2p, lag(b2) OVER wz AS b2m
                FROM grid WINDOW wz AS (PARTITION BY it, ix ORDER BY iz)),
              gd1 AS MATERIALIZED (SELECT it, iz, ix, b1, b2,
                CASE WHEN b1m IS NULL THEN b1p - b1 WHEN b1p IS NULL THEN b1 - b1m
                     ELSE (b1p - b1m) / 2 END AS db1_dz,
                CASE WHEN b2m IS NULL THEN b2p - b2 WHEN b2p IS NULL THEN b2 - b2m
                     ELSE (b2p - b2m) / 2 END AS db2_dz
                FROM gz),
              gx AS MATERIALIZED (SELECT it, iz, ix, db1_dz, db2_dz, b1, b2,
                lead(b1) OVER wx AS b1p, lag(b1) OVER wx AS b1m,
                lead(b2) OVER wx AS b2p, lag(b2) OVER wx AS b2m
                FROM gd1 WINDOW wx AS (PARTITION BY it, iz ORDER BY ix)),
              hd AS MATERIALIZED (SELECT it, iz, ix,
                (CASE WHEN b1m IS NULL THEN b1p - b1 WHEN b1p IS NULL THEN b1 - b1m
                      ELSE (b1p - b1m) / 2 END) * (-db2_dz)
                - (-(CASE WHEN b2m IS NULL THEN b2p - b2 WHEN b2p IS NULL THEN b2 - b2m
                         ELSE (b2p - b2m) / 2 END)) * db1_dz AS hd
                FROM gx),
              corners(di, dj) AS (VALUES (0,0), (0,1), (1,0), (1,1)),
              w AS MATERIALIZED (SELECT n.it, n.py, n.px,
                CAST(floor(n.py) AS BIGINT) + di AS ci,
                CAST(floor(n.px) AS BIGINT) + dj AS cj,
                (CASE WHEN di = 0 THEN 1 - (py - floor(py)) ELSE py - floor(py) END) *
                (CASE WHEN dj = 0 THEN 1 - (px - floor(px)) ELSE px - floor(px) END) AS w
                FROM nulls n CROSS JOIN corners),
              sampled AS MATERIALIZED (SELECT w.it, w.py, w.px, sum(w.w * h.hd) AS hdi
                FROM w JOIN hd h ON h.it = w.it AND h.iz = w.ci AND h.ix = w.cj
                GROUP BY w.it, w.py, w.px)
              SELECT it, round(py,6) AS py, round(px,6) AS px,
                CASE WHEN hdi > 0 THEN 'O' WHEN hdi < 0 THEN 'X' ELSE 'D' END AS cls
              FROM sampled ORDER BY it, py, px, cls""")),

    // ---- g13: connected components, 4-adjacency, per time step
    // (reference nd.label / flood, 22j/22k). Label = min linear cell id,
    // deterministic in both engines.
    Q("g13_connected_components",
      (s, d) => {
        val cells = grid(s, d).filter(col("b1") > 200).select("it", "iz", "ix")
        Topology.connectedComponents(cells, NZ, NX).orderBy("it", "iz", "ix")
      },
      Some(s"""WITH RECURSIVE $gridCte,
              m AS MATERIALIZED (SELECT it, iz, ix, CAST(iz * $NX + ix AS BIGINT) AS id
                    FROM grid WHERE b1 > 200),
              e AS MATERIALIZED (SELECT a.it, a.id AS s, b.id AS t FROM m a JOIN m b
                    ON a.it = b.it AND ((abs(a.iz-b.iz) = 1 AND a.ix = b.ix)
                                     OR (a.iz = b.iz AND abs(a.ix-b.ix) = 1))),
              r AS (SELECT it, id, id AS comp FROM m
                    UNION
                    SELECT e.it, e.s AS id, r.comp FROM e
                    JOIN r ON e.it = r.it AND e.t = r.id)
              SELECT m.it, m.iz, m.ix, min(r.comp) AS comp
              FROM m JOIN r ON m.it = r.it AND m.id = r.id
              GROUP BY m.it, m.iz, m.ix ORDER BY m.it, m.iz, m.ix""")),

    // ---- g14: current-sheet region extrema (reference 22k up to the
    // region-grow): 10x10 max filter -> mean+3*sigma_pop threshold ->
    // connected regions -> per-region peak + argmax position (first in
    // row-major order among exact ties, like nd.maximum_position).
    Q("g14_region_extrema",
      (s, d) => {
        val g = grid(s, d)
        // The threshold is a per-plane window: a plane is always
        // NZ x NX = 256 cells, and the grid memo is partitioned by `it`,
        // so the window reads it with no exchange and the filter frame
        // is scanned once.
        val mx = GridOps.extremumFilter(g, "b1", NZ, NX, isMax = true, "fmax")
        val plane = Window.partitionBy("it")
        val hot = mx
          .withColumn("thr", avg("fmax").over(plane)
            + lit(1) * stddev_pop("fmax").over(plane))
          .filter(col("fmax") > col("thr")).select("it", "iz", "ix")
        val comp = Topology.connectedComponents(hot, NZ, NX)
        val withV = comp.join(g.select("it", "iz", "ix", "b1"), Seq("it", "iz", "ix"))
        // ONE aggregation: max of (value, -pos) struct orders by value
        // first, then by highest -pos = lowest row-major position among
        // exact ties — nd.maximum_position semantics without the
        // peak-join + filter + re-aggregate round trip (3 shuffles -> 1).
        withV.groupBy("it", "comp")
          .agg(max(struct(col("b1"),
            (-(col("iz").cast("long") * NX + col("ix"))).as("negpos"))).as("m"))
          .select(col("it"), col("comp"), round(col("m.b1"), 6).as("peak"),
            ((-col("m.negpos")) / NX).cast("int").as("eiz"),
            ((-col("m.negpos")) % NX).cast("int").as("eix"))
          .orderBy("it", "comp")
      },
      Some(s"""WITH RECURSIVE $gridCte,
              zmax_offs(k, w) AS (VALUES ${(-5 to 4).map(k => s"($k, 1.0)").mkString(", ")}),
              zmax AS MATERIALIZED (SELECT g.it, g.iz, g.ix, max(s.b1) AS zmax
                FROM grid g CROSS JOIN zmax_offs o JOIN grid s
                  ON s.it = g.it AND s.ix = g.ix
                 AND s.iz = CASE WHEN g.iz + o.k < 0 THEN -(g.iz + o.k) - 1
                            WHEN g.iz + o.k >= $NZ THEN ${2 * NZ - 1} - (g.iz + o.k)
                            ELSE g.iz + o.k END
                GROUP BY g.it, g.iz, g.ix),
              xmax AS MATERIALIZED (SELECT g.it, g.iz, g.ix, max(s.zmax) AS fmax
                FROM zmax g CROSS JOIN zmax_offs o JOIN zmax s
                  ON s.it = g.it AND s.iz = g.iz
                 AND s.ix = CASE WHEN g.ix + o.k < 0 THEN -(g.ix + o.k) - 1
                            WHEN g.ix + o.k >= $NX THEN ${2 * NX - 1} - (g.ix + o.k)
                            ELSE g.ix + o.k END
                GROUP BY g.it, g.iz, g.ix),
              thr AS MATERIALIZED (SELECT it, avg(fmax) + 1 * stddev_pop(fmax) AS thr
                      FROM xmax GROUP BY it),
              m AS MATERIALIZED (SELECT x.it, x.iz, x.ix, CAST(x.iz * $NX + x.ix AS BIGINT) AS id
                    FROM xmax x JOIN thr USING (it) WHERE x.fmax > thr.thr),
              e AS MATERIALIZED (SELECT a.it, a.id AS s, b.id AS t FROM m a JOIN m b
                    ON a.it = b.it AND ((abs(a.iz-b.iz) = 1 AND a.ix = b.ix)
                                     OR (a.iz = b.iz AND abs(a.ix-b.ix) = 1))),
              r AS (SELECT it, id, id AS comp FROM m
                    UNION
                    SELECT e.it, e.s AS id, r.comp FROM e
                    JOIN r ON e.it = r.it AND e.t = r.id),
              lab AS MATERIALIZED (SELECT m.it, m.iz, m.ix, min(r.comp) AS comp
                      FROM m JOIN r ON m.it = r.it AND m.id = r.id
                      GROUP BY m.it, m.iz, m.ix),
              withv AS MATERIALIZED (SELECT l.it, l.comp, l.iz, l.ix, g.b1
                        FROM lab l JOIN grid g
                        ON g.it = l.it AND g.iz = l.iz AND g.ix = l.ix),
              pk AS MATERIALIZED (SELECT it, comp, max(b1) AS peak FROM withv GROUP BY it, comp)
              SELECT w.it, w.comp, round(p.peak, 6) AS peak,
                CAST(min(w.iz * $NX + w.ix) // $NX AS INT) AS eiz,
                CAST(min(w.iz * $NX + w.ix) % $NX AS INT) AS eix
              FROM withv w JOIN pk p ON w.it = p.it AND w.comp = p.comp AND w.b1 = p.peak
              GROUP BY w.it, w.comp, p.peak ORDER BY w.it, w.comp""")),

    // ---- g19: the reference's MASTER pipeline `find_structures`
    // (vpicdataset.py:295-533) as ONE oracle-checked row set — the
    // end-to-end composition the component queries g03-g14 cover
    // piecewise: Gaussian smoothing (σ=1) of both field components and
    // jy -> flux function from the smoothed fields -> physical-spacing
    // gradients + Hessian determinant -> zero contours of both smoothed
    // components -> segment-intersection nulls -> X/O split by the
    // interpolated Hessian sign -> separatrices + O-structures around
    // the X points (per-xid level contours, CC8, distance-kept
    // components, rasterize + dilated X pixel, toroidal gap_fill,
    // border-free zero regions) -> current sheets on smoothed jy
    // (10x10 extremum filters, mean±3σ, region extrema, seeded grow).
    // Input is a g19-specific 24x24 refold of the events table
    // (event_id < 576, one time step, 0.5 spacing) with the fields
    // SHIFTED (b1 - 60, b2 - 50) so both smoothed components cross
    // zero and the pipeline finds real structures; 24x24 (vs the
    // 16x16 fixture) also gives the 10x10 current-sheet filters room
    // to leave the plateau, so the sheet mask is non-trivial. Output:
    // every cell with its three masks plus the X/O counts — the
    // "registered outputs" of the reference pipeline, canonically
    // ordered. The DuckDB twin recomputes all nine stages in SQL.
    //
    // Cost note: most of a g19 run is fixed per-run cost (planning +
    // codegen + scheduling), not a data-scaling term. Small grids run
    // AQE-off at a static shuffle width inside a child newSession, so
    // the returned masks also execute AQE-off, and single-tile CC
    // solves stay lazy (no eager checkpoint per solve).
    // What remains is the spine collect, the separatrix solve, and the
    // overlapped current-sheet chain — real work plus scheduling
    // quanta that amortize at cluster scale
    // (`sbt "runMain graft.JobAudit g19_find_structures"` lists them).
    Q("g19_find_structures",
      (s, d) => {
        val res = FindStructures(g19Input(s, d), smoothing = 1.0, deTol = 5.0)
        val dsv = res.dataset.variables
        def m(name: String, out: String) = dsv(name).df
          .select(col("it"), col("iz"), col("ix"), col("value").as(out))
        // sep and ostruct are projections of the SAME checkpointed
        // frame — read it once (Result.sepMasks) instead of re-joining
        // the two mask variables on the grid key (one join and two
        // exchanges fewer in the final assembly; values identical)
        res.sepMasks
          .join(m("current_sheets", "cs"), Seq("it", "iz", "ix"))
          .withColumn("n_x", lit(res.xCoords.size))
          .withColumn("n_o", lit(res.oCoords.size))
          .orderBy("it", "iz", "ix")
      },
      Some(g19OracleSql))
  )

  /** SQL: recursive min-label connected components over cell CTE
    * `cells(key?, iz, ix, id)` (id = linear cell id); produces CTE
    * `[out]` = (key?, iz, ix, comp) with comp = min id reachable —
    * the exact label rule of [[Topology.connectedComponents]].
    */
  private def ccSql(cells: String, out: String, key: String,
      dirs8: Boolean): String = {
    val adj = if (dirs8) "greatest(abs(a.iz - b.iz), abs(a.ix - b.ix)) = 1"
    else "abs(a.iz - b.iz) + abs(a.ix - b.ix) = 1"
    val kA = if (key.isEmpty) "" else s"a.$key = b.$key AND "
    val kASel = if (key.isEmpty) "" else s"a.$key AS $key, "
    val kSel = if (key.isEmpty) "" else s"$key, "
    val kE = if (key.isEmpty) "" else s"e.$key, "
    val kJoin = if (key.isEmpty) "" else s"e.$key = r.$key AND "
    val kC = if (key.isEmpty) "" else s"c.$key, "
    val kM = if (key.isEmpty) "" else s"c.$key = r.$key AND "
    s"""${out}_e AS MATERIALIZED (
       SELECT ${kASel}a.id AS s, b.id AS t
       FROM $cells a JOIN $cells b ON $kA$adj),
       ${out}_r AS (
       SELECT $kSel id, id AS comp FROM $cells
       UNION
       SELECT ${kE}e.s AS id, r.comp FROM ${out}_e e
       JOIN ${out}_r r ON ${kJoin}e.t = r.id),
       $out AS MATERIALIZED (
       SELECT ${kC}c.iz, c.ix, min(r.comp) AS comp
       FROM $cells c JOIN ${out}_r r ON ${kM}c.id = r.id
       GROUP BY ${kC}c.iz, c.ix)"""
  }

  /** g19 geometry: the events refold size and the field shifts that
    * put zero contours (and threshold exceedances) inside the data.
    */
  private val G19N = 24
  private val G19Shift1 = 60.0
  private val G19Shift2 = 50.0

  /** The g19 input dataset — the events-refold fixture the master
    * pipeline runs on.
    */
  private def g19Input(s: SparkSession, d: String): SimDataset = {
    val n2 = G19N * G19N
    val g0 = graft.Tables.events(s, d)
      .filter(col("event_id") < n2)
      .select(lit(0).as("it"),
        expr(s"CAST(event_id div $G19N AS INT)").as("iz"),
        expr(s"CAST(event_id % $G19N AS INT)").as("ix"),
        lit(0.0).as("t"),
        (col("value") - G19Shift1).as("b1v"),
        (expr("CAST((event_id * 31 + 7) % 101 AS DOUBLE)")
          - G19Shift2).as("b2v"))
    val axes = (0 until G19N).map(_ * GridQueries.Dz).toArray
    def v(label: String, c: org.apache.spark.sql.Column) =
      GridVar(label, Array(0.0),
        Seq(("iz", axes), ("ix", axes)),
        g0.select(col("it"), col("iz"), col("ix"), col("t"),
          c.as("value")))
    SimDataset(Map.empty, Map(
      "b1" -> v("b1", col("b1v")),
      "b2" -> v("b2", col("b2v")),
      "jy" -> v("jy", col("b2v"))))
  }

  /** DuckDB twin of g19 — all nine find_structures stages in SQL. */
  private lazy val g19OracleSql: String = {
    import GridQueries.{stencilPassSql, kern, boxOffs, Dz, Dx}
    val n = G19N
    val dPerDe = ((1 / Dz + 1 / Dx) / 2).toInt // vpicdataset.py:345-349
    val tol = dPerDe * 5.0 // deTol = 5.0
    // one-sided-edge central difference at physical spacing (g04 rule);
    // `h` is the spacing of the DIFFERENTIATED axis (Dz for iz, Dx for
    // ix — equal on this fixture, but the twin must not assume it)
    def grad(p: String, m: String, v: String, h: Double) =
      s"""CASE WHEN $m IS NULL THEN ($p - $v) / $h
              WHEN $p IS NULL THEN ($v - $m) / $h
              ELSE ($p - $m) / ${2 * h} END"""
    // 4-corner bilinear weight table (g09/g12 rule)
    def bilW(src: String, py: String, px: String, keep: String) =
      s"""SELECT $keep
         CAST(floor($py) AS BIGINT) + di AS ci,
         CAST(floor($px) AS BIGINT) + dj AS cj,
         (CASE WHEN di = 0 THEN 1 - ($py - floor($py))
               ELSE $py - floor($py) END) *
         (CASE WHEN dj = 0 THEN 1 - ($px - floor($px))
               ELSE $px - floor($px) END) AS w
         FROM $src CROSS JOIN bil"""
    // per-region extremum + grow branch of currentSheets (pos/neg)
    def sheetBranch(pfx: String, maskCond: String, isMax: Boolean,
        growFrac: Double): String = {
      val peakAgg = if (isMax) "max" else "min"
      val growOp = if (isMax) ">" else "<"
      s"""${pfx}c AS MATERIALIZED (
         SELECT iz, ix, CAST(iz * $n + ix AS BIGINT) AS id
         FROM jmm, jthr WHERE $maskCond),
         ${ccSql(s"${pfx}c", s"${pfx}lab", "", dirs8 = false)},
         ${pfx}v AS (SELECT l.comp, l.iz, l.ix, s.jys FROM ${pfx}lab l
                     JOIN sm s ON s.iz = l.iz AND s.ix = l.ix),
         ${pfx}pk AS (SELECT comp, $peakAgg(jys) AS peak
                      FROM ${pfx}v GROUP BY comp),
         ${pfx}ext AS MATERIALIZED (
         SELECT v.comp AS rid, k.peak,
                CAST(min(v.iz * $n + v.ix) // $n AS INT) AS eiz,
                CAST(min(v.iz * $n + v.ix) % $n AS INT) AS eix
         FROM ${pfx}v v JOIN ${pfx}pk k
           ON v.comp = k.comp AND v.jys = k.peak
         GROUP BY v.comp, k.peak),
         ${pfx}g AS MATERIALIZED (
         SELECT e.rid, s.iz, s.ix, CAST(s.iz * $n + s.ix AS BIGINT) AS id
         FROM sm s JOIN ${pfx}ext e ON s.jys $growOp e.peak * $growFrac),
         ${ccSql(s"${pfx}g", s"${pfx}glab", "rid", dirs8 = false)},
         ${pfx}seed AS (SELECT l.rid, l.comp FROM ${pfx}glab l
                        JOIN ${pfx}ext e ON l.rid = e.rid
                          AND l.iz = e.eiz AND l.ix = e.eix),
         ${pfx}sheet AS (SELECT DISTINCT g.iz, g.ix FROM ${pfx}glab g
                         JOIN ${pfx}seed s ON g.rid = s.rid
                           AND g.comp = s.comp)"""
    }
    s"""WITH RECURSIVE g0 AS MATERIALIZED (
       SELECT 0 AS it, CAST(event_id // $n AS INT) AS iz,
              CAST(event_id % $n AS INT) AS ix,
              value - $G19Shift1 AS b1v,
              CAST((event_id * 31 + 7) % 101 AS DOUBLE) - $G19Shift2 AS b2v,
              CAST((event_id * 31 + 7) % 101 AS DOUBLE) - $G19Shift2 AS jyv
       FROM events WHERE event_id < ${G19N * G19N}),
       ${stencilPassSql("g0", "b1v", "iz", n, kern, "sum", "b1z")},
       ${stencilPassSql("b1z", "b1z", "ix", n, kern, "sum", "b1s")},
       ${stencilPassSql("g0", "b2v", "iz", n, kern, "sum", "b2z")},
       ${stencilPassSql("b2z", "b2z", "ix", n, kern, "sum", "b2s")},
       ${stencilPassSql("g0", "jyv", "iz", n, kern, "sum", "jyz")},
       ${stencilPassSql("jyz", "jyz", "ix", n, kern, "sum", "jys")},
       sm AS MATERIALIZED (
       SELECT a.it, a.iz, a.ix, a.b1s, b.b2s, c.jys
       FROM b1s a
       JOIN b2s b ON b.it = a.it AND b.iz = a.iz AND b.ix = a.ix
       JOIN jys c ON c.it = a.it AND c.iz = a.iz AND c.ix = a.ix),
       ic19 AS (SELECT it, iz, sum(b2s * $Dz) OVER (PARTITION BY it
                  ORDER BY iz ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS ic
                FROM sm WHERE ix = 0),
       flux AS MATERIALIZED (
       SELECT c.it, c.iz, c.ix, c.cum + i.ic AS psi
       FROM (SELECT it, iz, ix, sum(-b1s * $Dx) OVER (PARTITION BY it, iz
               ORDER BY ix ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS cum FROM sm) c
       JOIN ic19 i ON c.it = i.it AND c.iz = i.iz),
       hz AS (SELECT it, iz, ix, b1s, b2s,
         lead(b1s) OVER wz AS b1p, lag(b1s) OVER wz AS b1m,
         lead(b2s) OVER wz AS b2p, lag(b2s) OVER wz AS b2m
         FROM sm WINDOW wz AS (PARTITION BY it, ix ORDER BY iz)),
       hd1 AS (SELECT it, iz, ix, b1s, b2s,
         ${grad("b1p", "b1m", "b1s", Dz)} AS db1_d1,
         ${grad("b2p", "b2m", "b2s", Dz)} AS db2_d1
         FROM hz),
       hx AS (SELECT it, iz, ix, db1_d1, db2_d1, b1s, b2s,
         lead(b1s) OVER wx AS b1p, lag(b1s) OVER wx AS b1m,
         lead(b2s) OVER wx AS b2p, lag(b2s) OVER wx AS b2m
         FROM hd1 WINDOW wx AS (PARTITION BY it, iz ORDER BY ix)),
       hess AS MATERIALIZED (SELECT it, iz, ix,
         (${grad("b1p", "b1m", "b1s", Dx)}) * (-db2_d1)
         - (-(${grad("b2p", "b2m", "b2s", Dx)})) * db1_d1 AS hd
         FROM hx),
       ${segsSqlGen("sm", "b1s", "0.0", "fa")},
       ${segsSqlGen("sm", "b2s", "0.0", "fb")},
       ${nullsSqlGen("fa", "fb", "nulls19")},
       bil(di, dj) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
       xow AS (${bilW("nulls19 n", "n.py", "n.px", "n.it, n.py, n.px,")}),
       xo AS MATERIALIZED (
       SELECT w.it, w.py, w.px, sum(w.w * h.hd) AS hdi
       FROM xow w JOIN hess h
         ON h.it = w.it AND h.iz = w.ci AND h.ix = w.cj
       GROUP BY w.it, w.py, w.px),
       xpts AS MATERIALIZED (
       SELECT row_number() OVER (ORDER BY py, px) AS xid, py, px
       FROM xo WHERE hdi < 0),
       lvw AS (${bilW("xpts x", "x.py", "x.px", "x.xid, x.py, x.px,")}),
       lev AS MATERIALIZED (
       SELECT w.xid, w.py, w.px, sum(w.w * f.psi) AS level
       FROM lvw w JOIN flux f ON f.iz = w.ci AND f.ix = w.cj
       GROUP BY w.xid, w.py, w.px),
       ${segsSqlGen("flux", "psi", "l.level", "lv",
          keyA = "l.xid,", keyB = "xid,", extraJoin = "CROSS JOIN lev l")},
       scell AS MATERIALIZED (
       SELECT DISTINCT xid, iz, ix, CAST(iz * $n + ix AS BIGINT) AS id
       FROM segs_lv),
       ${ccSql("scell", "scomp", "xid", dirs8 = true)},
       spt AS (SELECT g.xid, m.comp, g.y1 AS y, g.x1 AS x FROM segs_lv g
                 JOIN scomp m ON m.xid = g.xid AND m.iz = g.iz AND m.ix = g.ix
               UNION ALL
               SELECT g.xid, m.comp, g.y2 AS y, g.x2 AS x FROM segs_lv g
                 JOIN scomp m ON m.xid = g.xid AND m.iz = g.iz AND m.ix = g.ix),
       spd AS MATERIALIZED (
       SELECT p.xid, p.comp, p.y, p.x,
              sqrt((p.y - x.py) * (p.y - x.py)
                 + (p.x - x.px) * (p.x - x.px)) AS dist
       FROM spt p JOIN xpts x USING (xid)),
       keep19 AS (SELECT xid, comp FROM spd GROUP BY xid, comp
                  HAVING min(dist) <= $tol),
       raster AS (
       SELECT DISTINCT p.xid, CAST(floor(p.y) AS INT) AS iz,
              CAST(floor(p.x) AS INT) AS ix
       FROM spd p JOIN keep19 k ON p.xid = k.xid AND p.comp = k.comp
       WHERE floor(p.y) >= 0 AND floor(p.y) < $n
         AND floor(p.x) >= 0 AND floor(p.x) < $n),
       d5(di, dj) AS (VALUES (0, 0), (-1, 0), (1, 0), (0, -1), (0, 1)),
       xpix AS (
       SELECT x.xid, CAST(floor(x.py) AS INT) + di AS iz,
              CAST(floor(x.px) AS INT) + dj AS ix
       FROM xpts x CROSS JOIN d5
       WHERE CAST(floor(x.py) AS INT) + di BETWEEN 0 AND ${n - 1}
         AND CAST(floor(x.px) AS INT) + dj BETWEEN 0 AND ${n - 1}),
       lmask AS (SELECT DISTINCT xid, iz, ix FROM
         (SELECT xid, iz, ix FROM raster
          UNION ALL SELECT xid, iz, ix FROM xpix) u),
       fullm AS MATERIALIZED (
       SELECT c.xid, c.iz, c.ix,
              CASE WHEN l.xid IS NOT NULL THEN 1 ELSE 0 END AS m
       FROM (SELECT x.xid, g.iz, g.ix
             FROM (SELECT DISTINCT iz, ix FROM g0) g
             CROSS JOIN (SELECT xid FROM xpts) x) c
       LEFT JOIN lmask l ON l.xid = c.xid AND l.iz = c.iz AND l.ix = c.ix),
       gofs(dir, oi, oj) AS (VALUES ('C',0,0), ('U',-1,0), ('D',1,0),
         ('L',0,-1), ('R',0,1), ('UL',-1,-1), ('UR',-1,1),
         ('DL',1,-1), ('DR',1,1)),
       gsc AS (SELECT xid, (iz - oi + $n) % $n AS iz,
                 (ix - oj + $n) % $n AS ix, dir, m
               FROM fullm CROSS JOIN gofs),
       gnbr AS (SELECT xid, iz, ix,
         max(CASE WHEN dir='C' THEN m ELSE 0 END) AS c,
         max(CASE WHEN dir='U' THEN m ELSE 0 END) AS u,
         max(CASE WHEN dir='D' THEN m ELSE 0 END) AS d,
         max(CASE WHEN dir='L' THEN m ELSE 0 END) AS l,
         max(CASE WHEN dir='R' THEN m ELSE 0 END) AS r,
         max(CASE WHEN dir='UL' THEN m ELSE 0 END) AS ul,
         max(CASE WHEN dir='UR' THEN m ELSE 0 END) AS ur,
         max(CASE WHEN dir='DL' THEN m ELSE 0 END) AS dl,
         max(CASE WHEN dir='DR' THEN m ELSE 0 END) AS dr
         FROM gsc GROUP BY xid, iz, ix),
       filled AS MATERIALIZED (SELECT xid, iz, ix, CAST((c = 1
         OR (l = 1 AND (ur = 1 OR r = 1 OR dr = 1))
         OR (r = 1 AND (ul = 1 OR l = 1 OR dl = 1))
         OR (u = 1 AND (dl = 1 OR d = 1 OR dr = 1))
         OR (d = 1 AND (ul = 1 OR u = 1 OR ur = 1))
         OR (ul = 1 AND dr = 1) OR (ur = 1 AND dl = 1)) AS INT) AS filled
         FROM gnbr),
       sepm AS (SELECT iz, ix, max(filled) AS sep FROM filled
                GROUP BY iz, ix),
       zc AS MATERIALIZED (
       SELECT xid, iz, ix, CAST(iz * $n + ix AS BIGINT) AS id
       FROM filled WHERE filled = 0),
       ${ccSql("zc", "zlab", "xid", dirs8 = false)},
       zint AS (SELECT xid, comp FROM zlab GROUP BY xid, comp
         HAVING max(CASE WHEN iz = 0 OR iz = ${n - 1}
                    OR ix = 0 OR ix = ${n - 1} THEN 1 ELSE 0 END) = 0),
       ostm AS (SELECT z.iz, z.ix, 1 AS ostruct FROM zlab z
                JOIN zint i ON z.xid = i.xid AND z.comp = i.comp
                GROUP BY z.iz, z.ix),
       ${stencilPassSql("sm", "jys", "iz", n, boxOffs, "max", "jzmax")},
       ${stencilPassSql("jzmax", "jzmax", "ix", n, boxOffs, "max", "jmax")},
       ${stencilPassSql("sm", "jys", "iz", n, boxOffs, "min", "jzmin")},
       ${stencilPassSql("jzmin", "jzmin", "ix", n, boxOffs, "min", "jmin")},
       jmm AS MATERIALIZED (
       SELECT a.it, a.iz, a.ix, s.jys, a.jmax, b.jmin
       FROM jmax a
       JOIN jmin b ON b.it = a.it AND b.iz = a.iz AND b.ix = a.ix
       JOIN sm s ON s.it = a.it AND s.iz = a.iz AND s.ix = a.ix),
       jthr AS (SELECT avg(jmax) + 3 * stddev_pop(jmax) AS max_thr,
                       avg(jmin) - 3 * stddev_pop(jmin) AS min_thr
                FROM jmm),
       ${sheetBranch("p", "jmax > max_thr", isMax = true, growFrac = 0.5)},
       ${sheetBranch("q", "jmin < min_thr", isMax = false, growFrac = 0.5)},
       csm AS (SELECT iz, ix, sum(v) AS cs0 FROM
         (SELECT iz, ix, 1 AS v FROM psheet
          UNION ALL SELECT iz, ix, -1 AS v FROM qsheet) u
         GROUP BY iz, ix),
       nxno AS (SELECT (SELECT count(*) FROM xo WHERE hdi < 0) AS n_x,
                       (SELECT count(*) FROM xo WHERE hdi > 0) AS n_o)
       SELECT g.it, g.iz, g.ix,
              CAST(coalesce(s.sep, 0) AS INT) AS sep,
              CAST(coalesce(o.ostruct, 0) AS INT) AS ostruct,
              CAST(coalesce(c.cs0, 0) AS INT) AS cs,
              CAST(n.n_x AS INT) AS n_x, CAST(n.n_o AS INT) AS n_o
       FROM g0 g
       LEFT JOIN sepm s ON s.iz = g.iz AND s.ix = g.ix
       LEFT JOIN ostm o ON o.iz = g.iz AND o.ix = g.ix
       LEFT JOIN csm c ON c.iz = g.iz AND c.ix = g.ix
       CROSS JOIN nxno n
       ORDER BY g.it, g.iz, g.ix"""
  }
}
