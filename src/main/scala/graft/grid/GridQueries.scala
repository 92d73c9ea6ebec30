package graft.grid

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grid-engine operators (SURVEY.md §2A) exercised over a deterministic
  * long-format grid derived from the `events` table (the driver's data;
  * we don't synthesize our own): a dense (it, iz, ix) grid with NZ=NX=16,
  * nt = |events| / 256, carrying two fields:
  *   b1 = events.value, b2 = (event_id*31 + 7) % 101  (exact integer math).
  * Physical coords: t = it, z = iz*0.5, x = ix*0.5 (uniform mesh).
  * Each query runs the real GridOps operator; the DuckDB oracle rebuilds
  * the same grid and applies the same arithmetic in SQL.
  */
object GridQueries {
  val NZ = 16
  val NX = 16
  val Cells: Int = NZ * NX
  val Dz = 0.5
  val Dx = 0.5

  /** Grid DataFrames are memoized per (session, dir) for the session's
    * lifetime ([[graft.CacheScope.memo]]): every g-query starts from the
    * same scan, so one cache serves them all (the grid is tiny relative
    * to executor memory at any SF — it is a fixed 256-cell tiling of
    * events).
    *
    * The memo is hash-partitioned by `it` (AQE sizes the partition
    * count). A plane is always NZ x NX = 256 cells, so one plane per task
    * is bounded at any SF, and `HashPartitioning(it)` satisfies every
    * per-plane operator downstream — windows over (it, iz) / (it, ix),
    * `groupBy`/`Window.partitionBy("it")` — which then read the cache on
    * every core with no exchange. Never re-partition it downstream.
    */
  def grid(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, s"grid:$d") {
      val e = Tables.events(s, d).select("event_id", "value")
      // nCells as a broadcast scalar, not a driver-side e.count(): the
      // fixture builds without running a job, so declared queries stay
      // fully lazy until their own action. The memo's
      // persist is lazy too — the first consuming action materializes.
      val nCells = broadcast(
        e.agg((count(lit(1)) / Cells).cast("long").as("nc")))
      e.crossJoin(nCells)
        .filter(col("event_id") < col("nc") * Cells)
        .select(
          expr(s"CAST(event_id div $Cells AS INT)").as("it"),
          expr(s"CAST((event_id % $Cells) div $NX AS INT)").as("iz"),
          expr(s"CAST(event_id % $NX AS INT)").as("ix"),
          col("value").as("b1"),
          expr("CAST((event_id * 31 + 7) % 101 AS DOUBLE)").as("b2"))
        .withColumn("t", col("it").cast("double"))
        .withColumn("z", col("iz") * Dz)
        .withColumn("x", col("ix") * Dx)
        .repartition(col("it"))
    }

  /** DuckDB CTE mirroring [[grid]] exactly. */
  val gridCte: String =
    s"""grid AS MATERIALIZED (
       SELECT CAST(event_id // $Cells AS INT) AS it,
              CAST((event_id % $Cells) // $NX AS INT) AS iz,
              CAST(event_id % $NX AS INT) AS ix,
              value AS b1,
              CAST((event_id * 31 + 7) % 101 AS DOUBLE) AS b2,
              CAST(CAST(event_id // $Cells AS INT) AS DOUBLE) AS t,
              CAST((event_id % $Cells) // $NX AS INT) * $Dz AS z,
              CAST(event_id % $NX AS INT) * $Dx AS x
       FROM events
       WHERE event_id < (SELECT count(*) // $Cells * $Cells FROM events))"""

  /** SQL mirrored-index expression (scipy 'reflect'), matching GridOps.mirror. */
  private def mirrorSql(e: String, n: Int): String =
    s"CASE WHEN $e < 0 THEN -($e) - 1 WHEN $e >= $n THEN ${2 * n - 1} - ($e) ELSE $e END"

  /** One separable stencil pass in SQL (gather + join + aggregate),
    * equivalent to GridOps' ghost-window passes. `src`/`out` are
    * CTE/table names; `idx` lists ALL index columns of the grid (the
    * pass dimension plus the partition keys).
    */
  private[grid] def stencilPassSql(src: String, valueCol: String, dim: String,
      n: Int, offsets: Seq[(Int, Double)], aggFn: String, out: String,
      idx: Seq[String] = Seq("it", "iz", "ix")): String = {
    val others = idx.filterNot(_ == dim)
    val offRows = offsets.map { case (k, w) => s"($k, ${w.toString})" }.mkString(", ")
    val gIdx = idx.map(c => s"g.$c").mkString(", ")
    val onOthers = others.map(c => s"s.$c = g.$c").mkString(" AND ")
    s"""${out}_offs(k, w) AS (VALUES $offRows),
       $out AS MATERIALIZED (
         SELECT $gIdx, $aggFn(o.w * s.$valueCol) AS $out
         FROM $src g CROSS JOIN ${out}_offs o
         JOIN $src s ON $onOthers
           AND s.$dim = ${mirrorSql(s"g.$dim + o.k", n)}
         GROUP BY $gIdx)"""
  }

  private[grid] val kern: Seq[(Int, Double)] = GridOps.gaussianKernel(1.0)
  private[grid] val boxOffs: Seq[(Int, Double)] = (-5 to 4).map(_ -> 1.0)

  def defs: Seq[Q] = Seq(
    // ---- g01: ndslice = inclusive time + spatial range filters (reference
    // _timeslice + _zoom). Pure pushed-down predicates.
    Q("g01_grid_slice",
      (s, d) => {
        val g = grid(s, d)
        val sliced = GridOps.zoom(
          GridOps.timeslice(g, "t", 1.0, 2.0),
          Seq(("z", 1.0, 6.0), ("x", 2.5, 0.5))) // zoom auto-sorts reversed bounds
        sliced.select("it", "iz", "ix", "b1").orderBy("it", "iz", "ix")
      },
      Some(s"""WITH $gridCte
              SELECT it, iz, ix, b1 FROM grid
              WHERE t BETWEEN 1.0 AND 2.0 AND z BETWEEN 1.0 AND 6.0
                AND x BETWEEN 0.5 AND 2.5
              ORDER BY it, iz, ix""")),

    // ---- g02: dataset bounds, union ("most inclusive") semantics across
    // two variables — implementing the reference docstring, not its
    // min/min bug (dataset.py:178-179; divergence documented in SURVEY §2A).
    Q("g02_grid_bounds",
      (s, d) => {
        val g = grid(s, d)
        def b(c: String, thr: Double) = g.filter(col(c) > thr)
          .agg(min("z").as("z_lo"), max("z").as("z_hi"),
            min("x").as("x_lo"), max("x").as("x_hi"))
        b("b1", 100).unionAll(b("b2", 50))
          .agg(min("z_lo").as("z_lo"), max("z_hi").as("z_hi"),
            min("x_lo").as("x_lo"), max("x_hi").as("x_hi"))
      },
      Some(s"""WITH $gridCte
              SELECT min(z_lo) AS z_lo, max(z_hi) AS z_hi,
                     min(x_lo) AS x_lo, max(x_hi) AS x_hi FROM (
                SELECT min(z) AS z_lo, max(z) AS z_hi, min(x) AS x_lo, max(x) AS x_hi
                FROM grid WHERE b1 > 100
                UNION ALL
                SELECT min(z), max(z), min(x), max(x) FROM grid WHERE b2 > 50) t""")),

    // ---- g03: flux function (cumulative line integrals, reference
    // calc_fluxfn vpicdataset.py:247-293).
    Q("g03_fluxfn",
      (s, d) =>
        GridOps.fluxfn(grid(s, d), "b1", "b2", Dz, Dx)
          .select(col("it"), col("iz"), col("ix"), round(col("psi"), 6).as("psi"))
          .orderBy("it", "iz", "ix"),
      Some(s"""WITH $gridCte,
              ic AS (SELECT it, iz, sum(b2 * $Dz) OVER (PARTITION BY it ORDER BY iz
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ic
                     FROM grid WHERE ix = 0),
              cum AS (SELECT it, iz, ix, sum(-b1 * $Dx) OVER (PARTITION BY it, iz ORDER BY ix
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                      FROM grid)
              SELECT c.it, c.iz, c.ix, round(c.cum + i.ic, 6) AS psi
              FROM cum c JOIN ic i ON c.it = i.it AND c.iz = i.iz
              ORDER BY c.it, c.iz, c.ix""")),

    // ---- g04: np.gradient-style central differences with one-sided edges
    // (reference vpicdataset.py:378-380), both spatial dims.
    Q("g04_gradient",
      (s, d) => {
        val g1 = GridOps.gradient(grid(s, d), "b1", "iz", Dz, "db1_dz")
        val g2 = GridOps.gradient(g1, "b1", "ix", Dx, "db1_dx")
        g2.select(col("it"), col("iz"), col("ix"),
            round(col("db1_dz"), 6).as("db1_dz"),
            round(col("db1_dx"), 6).as("db1_dx"))
          .orderBy("it", "iz", "ix")
      },
      Some(s"""WITH $gridCte,
              gz AS (SELECT it, iz, ix, b1,
                lead(b1) OVER (PARTITION BY it, ix ORDER BY iz) AS fp,
                lag(b1)  OVER (PARTITION BY it, ix ORDER BY iz) AS fm
                FROM grid),
              g1 AS (SELECT it, iz, ix, b1,
                CASE WHEN fm IS NULL THEN (fp - b1) / $Dz
                     WHEN fp IS NULL THEN (b1 - fm) / $Dz
                     ELSE (fp - fm) / (2 * $Dz) END AS db1_dz
                FROM gz),
              gx AS (SELECT it, iz, ix, db1_dz, b1,
                lead(b1) OVER (PARTITION BY it, iz ORDER BY ix) AS fp,
                lag(b1)  OVER (PARTITION BY it, iz ORDER BY ix) AS fm
                FROM g1)
              SELECT it, iz, ix, round(db1_dz, 6) AS db1_dz,
                round(CASE WHEN fm IS NULL THEN (fp - b1) / $Dx
                           WHEN fp IS NULL THEN (b1 - fm) / $Dx
                           ELSE (fp - fm) / (2 * $Dx) END, 6) AS db1_dx
              FROM gx ORDER BY it, iz, ix""")),

    // ---- g05: separable Gaussian smoothing, sigma=1, reflect boundary
    // (reference nd.gaussian_filter, vpicdataset.py:363-369). Kernel
    // weights are the SAME Scala doubles embedded in both plans.
    Q("g05_gaussian_smooth",
      (s, d) =>
        GridOps.gaussianSmooth(grid(s, d), "b1", 1.0, NZ, NX, "b1_smooth")
          .select(col("it"), col("iz"), col("ix"),
            round(col("b1_smooth"), 6).as("b1_smooth"))
          .orderBy("it", "iz", "ix"),
      Some(s"""WITH $gridCte,
              ${stencilPassSql("grid", "b1", "iz", NZ, kern, "sum", "zp")},
              ${stencilPassSql("zp", "zp", "ix", NX, kern, "sum", "xp")}
              SELECT it, iz, ix, round(xp, 6) AS b1_smooth
              FROM xp ORDER BY it, iz, ix""")),

    // ---- g06: 10x10 max/min filters, offsets -5..+4, reflect boundary
    // (reference nd.maximum_filter/minimum_filter, vpicdataset.py:484-485).
    Q("g06_minmax_filter",
      (s, d) =>
        GridOps.minmaxFilter(grid(s, d), "b1", NZ, NX, "b1_max", "b1_min")
          .select("it", "iz", "ix", "b1_max", "b1_min")
          .orderBy("it", "iz", "ix"),
      Some(s"""WITH $gridCte,
              ${stencilPassSql("grid", "b1", "iz", NZ, boxOffs, "max", "zmax")},
              ${stencilPassSql("zmax", "zmax", "ix", NX, boxOffs, "max", "xmax")},
              ${stencilPassSql("grid", "b1", "iz", NZ, boxOffs, "min", "zmin")},
              ${stencilPassSql("zmin", "zmin", "ix", NX, boxOffs, "min", "xmin")}
              SELECT a.it, a.iz, a.ix, a.xmax AS b1_max, b.xmin AS b1_min
              FROM xmax a JOIN xmin b ON a.it = b.it AND a.iz = b.iz AND a.ix = b.ix
              ORDER BY a.it, a.iz, a.ix""")),

    // ---- g07: gap_fill with toroidal wraparound (reference
    // vpicdataset.py:71-113); mask = b1 > 200.
    Q("g07_gap_fill",
      (s, d) => {
        val g = grid(s, d).withColumn("m", (col("b1") > 200).cast("int"))
        GridOps.gapFill(g, "m", NZ, NX, "filled")
          .orderBy("it", "iz", "ix")
      },
      Some(s"""WITH $gridCte,
              m AS (SELECT it, iz, ix, CASE WHEN b1 > 200 THEN 1 ELSE 0 END AS m FROM grid),
              offs(dir, oi, oj) AS (VALUES ('C',0,0), ('U',-1,0), ('D',1,0),
                ('L',0,-1), ('R',0,1), ('UL',-1,-1), ('UR',-1,1),
                ('DL',1,-1), ('DR',1,1)),
              sc AS (SELECT it, (iz - oi + $NZ) % $NZ AS iz, (ix - oj + $NX) % $NX AS ix,
                     dir, m FROM m CROSS JOIN offs),
              nbr AS (SELECT it, iz, ix,
                max(CASE WHEN dir='C' THEN m ELSE 0 END) AS c,
                max(CASE WHEN dir='U' THEN m ELSE 0 END) AS u,
                max(CASE WHEN dir='D' THEN m ELSE 0 END) AS d,
                max(CASE WHEN dir='L' THEN m ELSE 0 END) AS l,
                max(CASE WHEN dir='R' THEN m ELSE 0 END) AS r,
                max(CASE WHEN dir='UL' THEN m ELSE 0 END) AS ul,
                max(CASE WHEN dir='UR' THEN m ELSE 0 END) AS ur,
                max(CASE WHEN dir='DL' THEN m ELSE 0 END) AS dl,
                max(CASE WHEN dir='DR' THEN m ELSE 0 END) AS dr
                FROM sc GROUP BY it, iz, ix)
              SELECT it, iz, ix, CAST((c = 1
                OR (l = 1 AND (ur = 1 OR r = 1 OR dr = 1))
                OR (r = 1 AND (ul = 1 OR l = 1 OR dl = 1))
                OR (u = 1 AND (dl = 1 OR d = 1 OR dr = 1))
                OR (d = 1 AND (ul = 1 OR u = 1 OR ur = 1))
                OR (ul = 1 AND dr = 1) OR (ur = 1 AND dl = 1)) AS INT) AS filled
              FROM nbr ORDER BY it, iz, ix""")),

    // ---- g08: current-sheet thresholding, mean ± 3*stddev_pop per time
    // step (reference vpicdataset.py:486-487 — np.std is population std).
    Q("g08_threshold_stats",
      (s, d) => {
        val g = grid(s, d)
        val stats = g.groupBy(col("it").as("s_it"))
          .agg(avg("b1").as("mu"), stddev_pop("b1").as("sd"))
        g.join(stats, col("it") === col("s_it"))
          .groupBy("it")
          .agg(count(when(col("b1") > col("mu") + lit(3) * col("sd"), 1)).as("n_hot"),
            count(when(col("b1") < col("mu") - lit(3) * col("sd"), 1)).as("n_cold"),
            round(first("mu"), 6).as("mu"))
          .orderBy("it")
      },
      Some(s"""WITH $gridCte,
              stats AS (SELECT it, avg(b1) AS mu, stddev_pop(b1) AS sd
                        FROM grid GROUP BY it)
              SELECT g.it, count(CASE WHEN b1 > mu + 3*sd THEN 1 END) AS n_hot,
                     count(CASE WHEN b1 < mu - 3*sd THEN 1 END) AS n_cold,
                     round(any_value(mu), 6) AS mu
              FROM grid g JOIN stats USING (it) GROUP BY g.it ORDER BY g.it""")),

    // ---- g09: interpolating line slice (reference _spaceslice,
    // statmeshvar.py:111-200): bilinear sampling along a parametrized
    // line in index space at it=0, as a corner-join + weighted sum.
    Q("g09_line_interp",
      (s, d) => {
        val g = grid(s, d).filter(col("it") === 0)
          .select(col("iz"), col("ix"), col("b1"))
        val samples = s.range(51)
          .select(col("id").as("sid"),
            (lit(0.8) + col("id") * 0.268).as("pz"),
            (lit(1.2) + col("id") * 0.204).as("px"))
        val corners = samples
          .select(col("sid"), col("pz"), col("px"),
            explode(array(
              struct(lit(0).as("di"), lit(0).as("dj")),
              struct(lit(0).as("di"), lit(1).as("dj")),
              struct(lit(1).as("di"), lit(0).as("dj")),
              struct(lit(1).as("di"), lit(1).as("dj")))).as("c"))
          .withColumn("ci", floor(col("pz")) + col("c.di"))
          .withColumn("cj", floor(col("px")) + col("c.dj"))
          .withColumn("w",
            (when(col("c.di") === 0, lit(1) - (col("pz") - floor(col("pz"))))
              .otherwise(col("pz") - floor(col("pz")))) *
              (when(col("c.dj") === 0, lit(1) - (col("px") - floor(col("px"))))
                .otherwise(col("px") - floor(col("px")))))
        corners.join(g, col("ci") === col("iz") && col("cj") === col("ix"))
          .groupBy("sid")
          .agg(round(sum(col("w") * col("b1")), 6).as("interp"))
          .orderBy("sid")
      },
      Some(s"""WITH $gridCte,
              samples AS (SELECT s AS sid, 0.8 + s * 0.268 AS pz, 1.2 + s * 0.204 AS px
                          FROM (SELECT unnest(range(51)) AS s) t),
              corners(di, dj) AS (VALUES (0,0), (0,1), (1,0), (1,1)),
              w AS (SELECT sid, CAST(floor(pz) AS BIGINT) + di AS ci,
                    CAST(floor(px) AS BIGINT) + dj AS cj,
                    (CASE WHEN di = 0 THEN 1 - (pz - floor(pz)) ELSE pz - floor(pz) END) *
                    (CASE WHEN dj = 0 THEN 1 - (px - floor(px)) ELSE px - floor(px) END) AS w
                    FROM samples CROSS JOIN corners)
              SELECT sid, round(sum(w.w * g.b1), 6) AS interp
              FROM w JOIN grid g ON g.it = 0 AND g.iz = w.ci AND g.ix = w.cj
              GROUP BY sid ORDER BY sid""")),

    // ---- g15: full reference _spaceslice via LineSlice (ray-box clip,
    // dx/3 shrink, arange sampling, bilinear corners) over every time
    // step. The sampling geometry is a pure function of the (static) axes,
    // so the SAME driver-side corner table is embedded in the oracle as a
    // VALUES list — the data-dependent join+sum runs in both engines.
    Q("g15_line_slice",
      (s, d) => {
        val g = grid(s, d)
        val v = GridVar("b1",
          Array.emptyDoubleArray, // time axis unused by slice
          Seq(("iz", lineAxes), ("ix", lineAxes)),
          g.withColumn("value", col("b1")))
        LineSlice.slice(v, lineSetPts).df
          .select(col("it"), col("i0"),
            round(col("s"), 6).as("s"), round(col("value"), 6).as("value"))
          .orderBy("it", "i0")
      },
      Some {
        val corners = LineSlice.sampleCorners(Seq(lineAxes, lineAxes),
          lineSetPts, "linear")
        val rows = corners.map(c =>
          s"(${c.sampleIdx}, ${c.s}, ${c.w}, ${c.idxs.head}, ${c.idxs(1)})")
          .mkString(", ")
        s"""WITH $gridCte,
           corners(i0, s, w, ci, cj) AS (VALUES $rows)
           SELECT g.it, c.i0, round(c.s, 6) AS s,
                  round(sum(c.w * g.b1), 6) AS value
           FROM corners c JOIN grid g ON g.iz = c.ci AND g.ix = c.cj
           GROUP BY g.it, c.i0, c.s ORDER BY g.it, c.i0"""
      }),

    // ---- g16: the 3-D (z,y,x) pipeline — separable Gaussian smoothing
    // over ALL THREE spatial axes (one ghost-padded window pass per
    // axis, GridOps.gaussianSmoothAxes) followed by a 3-D zoom with
    // auto-sorted bounds (reference _zoom is per-dimension n-d,
    // statmeshvar.py:102-109; smoothing is nd.gaussian_filter on the
    // full-rank mesh, vpicdataset.py:363-369). The oracle rebuilds the
    // volume and runs the same three stencil passes in SQL.
    Q("g16_grid3d_smooth",
      (s, d) => {
        val sm = GridOps.gaussianSmoothAxes(grid3(s, d), "b1", 1.0,
          Seq("iz" -> N3, "iy" -> N3, "ix" -> N3), "b1_smooth")
          .withColumn("z", col("iz") * Dz)
          .withColumn("y", col("iy") * Dz)
          .withColumn("x", col("ix") * Dz)
        GridOps.zoom(sm,
            Seq(("z", 1.0, 3.0), ("y", 2.5, 0.5), ("x", 0.5, 3.0)))
          .select(col("it"), col("iz"), col("iy"), col("ix"),
            round(col("b1_smooth"), 6).as("b1_smooth"))
          .orderBy("it", "iz", "iy", "ix")
      },
      Some(s"""WITH $grid3Cte,
              ${stencilPassSql("grid3", "b1", "iz", N3, kern, "sum", "zp", idx3)},
              ${stencilPassSql("zp", "zp", "iy", N3, kern, "sum", "yp", idx3)},
              ${stencilPassSql("yp", "yp", "ix", N3, kern, "sum", "xp", idx3)}
              SELECT it, iz, iy, ix, round(xp, 6) AS b1_smooth
              FROM xp
              WHERE iz * $Dz BETWEEN 1.0 AND 3.0
                AND iy * $Dz BETWEEN 0.5 AND 2.5
                AND ix * $Dz BETWEEN 0.5 AND 3.0
              ORDER BY it, iz, iy, ix""")),

    // ---- g17: the interpolating line slice through a 3-D volume —
    // LineSlice/sampleCorners are dimension-generic (2^ndim corners,
    // statmeshvar.py's n-d RegularGridInterpolator semantics incl. the
    // signed-argmax step axis and dx/3 clip), so the 3-D case is the
    // same operator with TRILINEAR (8-corner) weights. Geometry is a
    // pure function of the static axes, embedded in the oracle as a
    // VALUES list; the data-dependent join+sum runs in both engines.
    Q("g17_line_slice_3d",
      (s, d) => {
        val g = grid3(s, d)
          .withColumn("t", col("it").cast("double"))
          .withColumn("value", col("b1"))
        val v = GridVar("b1", Array.emptyDoubleArray,
          Seq(("iz", axes3), ("iy", axes3), ("ix", axes3)), g)
        LineSlice.slice(v, line3SetPts).df
          .select(col("it"), col("i0"),
            round(col("s"), 6).as("s"), round(col("value"), 6).as("value"))
          .orderBy("it", "i0")
      },
      Some {
        val corners = LineSlice.sampleCorners(Seq(axes3, axes3, axes3),
          line3SetPts, "linear")
        val rows = corners.map(c =>
          s"(${c.sampleIdx}, ${c.s}, ${c.w}, " +
            s"${c.idxs.head}, ${c.idxs(1)}, ${c.idxs(2)})")
          .mkString(", ")
        s"""WITH $grid3Cte,
           corners(i0, s, w, ci, cj, ck) AS (VALUES $rows)
           SELECT g.it, c.i0, round(c.s, 6) AS s,
                  round(sum(c.w * g.b1), 6) AS value
           FROM corners c JOIN grid3 g
             ON g.iz = c.ci AND g.iy = c.cj AND g.ix = c.ck
           GROUP BY g.it, c.i0, c.s ORDER BY g.it, c.i0"""
      }),

    // ---- g18: np.gradient on the 3-D volume — one-sided edges +
    // central interior along EVERY spatial axis via gradientAxes (the
    // reference's np.gradient(..., axis=(1,2)) generalized to the full
    // z,y,x rank it would take on a 3-D run). One window per axis,
    // partitioned by time + the other two axes.
    Q("g18_gradient_3d",
      (s, d) => {
        val g = grid3(s, d)
        val gz = GridOps.gradientAxes(g, "b1", "iz",
          Seq("it", "iy", "ix"), Dz, "db1_dz")
        val gy = GridOps.gradientAxes(gz, "b1", "iy",
          Seq("it", "iz", "ix"), Dz, "db1_dy")
        val gx = GridOps.gradientAxes(gy, "b1", "ix",
          Seq("it", "iz", "iy"), Dz, "db1_dx")
        gx.select(col("it"), col("iz"), col("iy"), col("ix"),
            round(col("db1_dz"), 6).as("db1_dz"),
            round(col("db1_dy"), 6).as("db1_dy"),
            round(col("db1_dx"), 6).as("db1_dx"))
          .orderBy("it", "iz", "iy", "ix")
      },
      Some {
        def passSql(src: String, dim: String, others: Seq[String],
            out: String): String =
          s"""${out}_w AS (SELECT *,
               lead(b1) OVER (PARTITION BY ${others.mkString(", ")}
                 ORDER BY $dim) AS fp_$out,
               lag(b1) OVER (PARTITION BY ${others.mkString(", ")}
                 ORDER BY $dim) AS fm_$out
             FROM $src),
             $out AS (SELECT it, iz, iy, ix, b1,
               ${if (src == "grid3") "" else
                 s"db1_dz${if (src == "gy") ", db1_dy" else ""},"}
               CASE WHEN fm_$out IS NULL THEN (fp_$out - b1) / $Dz
                    WHEN fp_$out IS NULL THEN (b1 - fm_$out) / $Dz
                    ELSE (fp_$out - fm_$out) / (2 * $Dz) END AS db1_d${dim.stripPrefix("i")}
             FROM ${out}_w)"""
        s"""WITH $grid3Cte,
           ${passSql("grid3", "iz", Seq("it", "iy", "ix"), "gz")},
           ${passSql("gz", "iy", Seq("it", "iz", "ix"), "gy")},
           ${passSql("gy", "ix", Seq("it", "iz", "iy"), "gx")}
           SELECT it, iz, iy, ix, round(db1_dz, 6) AS db1_dz,
                  round(db1_dy, 6) AS db1_dy, round(db1_dx, 6) AS db1_dx
           FROM gx ORDER BY it, iz, iy, ix"""
      }),

    // ---- q73: Z-order (Morton) layout key — the data-layout primitive
    // for multi-dimensional clustering: interleaving (iz, ix) bits makes
    // 1-D key ranges cover 2-D tiles, so range pruning on the sort key
    // prunes spatially (the idea behind Delta/Iceberg Z-ORDER
    // clustering). Bit-spread is pure integer arithmetic, mirrored
    // exactly in the oracle; per-(it, tile) stats prove each morton>>4
    // range is a contiguous 4x4 spatial block.
    Q("q73_zorder_layout",
      (s, d) => {
        val g = grid(s, d)
        def spread(c: org.apache.spark.sql.Column) = {
          val c1 = (c.cast("long").bitwiseOR(shiftleft(c.cast("long"), 8)))
            .bitwiseAND(0x00FF00FFL)
          val c2 = (c1.bitwiseOR(shiftleft(c1, 4))).bitwiseAND(0x0F0F0F0FL)
          val c3 = (c2.bitwiseOR(shiftleft(c2, 2))).bitwiseAND(0x33333333L)
          (c3.bitwiseOR(shiftleft(c3, 1))).bitwiseAND(0x55555555L)
        }
        g.withColumn("morton",
            shiftleft(spread(col("iz")), 1).bitwiseOR(spread(col("ix"))))
          .withColumn("tile", shiftright(col("morton"), 4))
          .groupBy("it", "tile")
          .agg(count(lit(1)).as("n_cells"),
            min("iz").as("z_lo"), max("iz").as("z_hi"),
            min("ix").as("x_lo"), max("ix").as("x_hi"),
            round(sum("b1"), 4).as("sum_b1"))
          .orderBy("it", "tile")
      },
      Some {
        def spreadSql(e: String): String = {
          val c1 = s"((($e) | (($e) << 8)) & 16711935)"
          val c2 = s"((($c1) | (($c1) << 4)) & 252645135)"
          val c3 = s"((($c2) | (($c2) << 2)) & 858993459)"
          s"((($c3) | (($c3) << 1)) & 1431655765)"
        }
        val morton =
          s"((${spreadSql("CAST(iz AS BIGINT)")} << 1) | ${spreadSql("CAST(ix AS BIGINT)")})"
        s"""WITH $gridCte
           SELECT it, ($morton >> 4) AS tile, count(*) AS n_cells,
                  min(iz) AS z_lo, max(iz) AS z_hi,
                  min(ix) AS x_lo, max(ix) AS x_hi,
                  round(sum(b1), 4) AS sum_b1
           FROM grid GROUP BY 1, 2 ORDER BY it, tile"""
      }),

    // ---- g20: spacetime slice along a MOVING measure point — the
    // spacecraft-path sampler the reference names as a TODO
    // (statmeshvar.py:8-10) and reserves DynMeshVar for
    // (dynmeshvar.py:9-35; constructor raises). A probe flies a
    // deterministic path (position is exact integer phase arithmetic
    // times one constant; the engines' evaluation may differ by an ulp
    // — DuckDB folds the literals through DECIMAL — but positions never
    // approach a knot, so brackets agree and 6-dp rounding absorbs the
    // rest) and LineSlice.pathSlice bilinearly samples b1 at the
    // probe's position at the probe's own time: distributed searchsorted
    // bracketing + a time-dependent corner equi-join. The oracle
    // replays the identical bracket (count of axis knots <= p) and
    // corner-weight arithmetic in SQL.
    Q("g20_spacecraft_path",
      (s, d) => {
        val g = grid(s, d).withColumn("value", col("b1"))
        val v = GridVar("b1", Array.emptyDoubleArray,
          Seq(("iz", lineAxes), ("ix", lineAxes)), g)
        val path = g.select(col("it")).distinct()
          .withColumn("z", lit(0.3) + (col("it") % 20) * lit(0.36))
          .withColumn("x", lit(0.2) + ((col("it") * 7) % 20) * lit(0.35))
        LineSlice.pathSlice(v, path).df
          .select(col("it"), round(col("z"), 6).as("z"),
            round(col("x"), 6).as("x"), round(col("value"), 6).as("value"))
          .orderBy("it")
      },
      Some {
        val axisVals = lineAxes.map(a => s"($a)").mkString(", ")
        s"""WITH $gridCte,
           times AS (SELECT DISTINCT it FROM grid),
           path AS (SELECT it, 0.3 + (it % 20) * 0.36 AS z,
                           0.2 + ((it * 7) % 20) * 0.35 AS x
                    FROM times),
           axis(a) AS (VALUES $axisVals),
           ax AS (SELECT list(a ORDER BY a) AS l FROM axis),
           br AS (SELECT p.it, p.z, p.x,
             least(greatest(CAST((SELECT count(*) FROM axis WHERE a <= p.z) AS INT) - 1, 0), ${NZ - 2}) AS zi0,
             least(greatest(CAST((SELECT count(*) FROM axis WHERE a <= p.x) AS INT) - 1, 0), ${NX - 2}) AS xi0
             FROM path p),
           brf AS (SELECT br.*,
             (z - l[zi0 + 1]) / (l[zi0 + 2] - l[zi0 + 1]) AS zf,
             (x - l[xi0 + 1]) / (l[xi0 + 2] - l[xi0 + 1]) AS xf
             FROM br CROSS JOIN ax),
           corners(dz, dx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
           w AS (SELECT it, z, x, zi0 + dz AS ci, xi0 + dx AS cj,
             (CASE WHEN dz = 0 THEN 1 - zf ELSE zf END) *
             (CASE WHEN dx = 0 THEN 1 - xf ELSE xf END) AS w
             FROM brf CROSS JOIN corners)
           SELECT w.it, round(w.z, 6) AS z, round(w.x, 6) AS x,
                  round(sum(w.w * g.b1), 6) AS value
           FROM w JOIN grid g
             ON g.it = w.it AND g.iz = w.ci AND g.ix = w.cj
           GROUP BY w.it, w.z, w.x ORDER BY w.it"""
      }),

    // ---- g21: the CONTINUOUS spacetime slice — g20's probe, but
    // sampling BETWEEN simulation outputs: every path time is a
    // timestep + 0.25, so each sample blends the 2^3 surrounding
    // (t, z, x) corners (timeInterp bracket on the time axis; the last
    // timestep's sample extrapolates past the final knot, exercising
    // the clamp in time). The time axis is driver-side GridVar metadata
    // — at 100 TB it comes from the catalog; here one max(it) on the
    // MEMOIZED, persisted grid fixture (not a raw-events rescan) — the
    // documented laziness exception for this query.
    Q("g21_spacetime_path",
      (s, d) => {
        val g = grid(s, d).withColumn("value", col("b1"))
        val nt = g.agg(max("it")).head().getInt(0) + 1
        val v = GridVar("b1", Array.tabulate(nt)(_.toDouble),
          Seq(("iz", lineAxes), ("ix", lineAxes)), g)
        val path = g.select(col("it")).distinct()
          .select((col("it") + lit(0.25)).as("t"),
            (lit(0.15) + (col("it") % 18) * lit(0.4)).as("z"),
            (lit(0.35) + ((col("it") * 11) % 18) * lit(0.38)).as("x"))
        LineSlice.pathSlice(v, path, timeInterp = true).df
          .select(round(col("t"), 6).as("t"), round(col("z"), 6).as("z"),
            round(col("x"), 6).as("x"), round(col("value"), 6).as("value"))
          .orderBy("t")
      },
      Some {
        val axisVals = lineAxes.map(a => s"($a)").mkString(", ")
        s"""WITH $gridCte,
           times AS (SELECT DISTINCT it FROM grid),
           taxis AS (SELECT list(it ORDER BY it) AS lt,
                            CAST(count(*) AS INT) AS nt FROM times),
           path AS (SELECT it + 0.25 AS t,
                           0.15 + (it % 18) * 0.4 AS z,
                           0.35 + ((it * 11) % 18) * 0.38 AS x
                    FROM times),
           axis(a) AS (VALUES $axisVals),
           ax AS (SELECT list(a ORDER BY a) AS l FROM axis),
           br AS (SELECT p.t, p.z, p.x,
             least(greatest(CAST((SELECT count(*) FROM times tm
                                  WHERE tm.it <= p.t) AS INT) - 1, 0),
                   (SELECT nt FROM taxis) - 2) AS ti0,
             least(greatest(CAST((SELECT count(*) FROM axis ax2
                                  WHERE ax2.a <= p.z) AS INT) - 1, 0), ${NZ - 2}) AS zi0,
             least(greatest(CAST((SELECT count(*) FROM axis ax3
                                  WHERE ax3.a <= p.x) AS INT) - 1, 0), ${NX - 2}) AS xi0
             FROM path p),
           brf AS (SELECT br.*,
             (t - lt[ti0 + 1]) / (lt[ti0 + 2] - lt[ti0 + 1]) AS tf,
             (z - l[zi0 + 1]) / (l[zi0 + 2] - l[zi0 + 1]) AS zf,
             (x - l[xi0 + 1]) / (l[xi0 + 2] - l[xi0 + 1]) AS xf
             FROM br CROSS JOIN ax CROSS JOIN taxis),
           corners(dt, dz, dx) AS (VALUES (0,0,0), (0,0,1), (0,1,0), (0,1,1),
                                          (1,0,0), (1,0,1), (1,1,0), (1,1,1)),
           w AS (SELECT t, z, x, ti0 + dt AS ct, zi0 + dz AS ci, xi0 + dx AS cj,
             (CASE WHEN dt = 0 THEN 1 - tf ELSE tf END) *
             (CASE WHEN dz = 0 THEN 1 - zf ELSE zf END) *
             (CASE WHEN dx = 0 THEN 1 - xf ELSE xf END) AS w
             FROM brf CROSS JOIN corners)
           SELECT round(w.t, 6) AS t, round(w.z, 6) AS z, round(w.x, 6) AS x,
                  round(sum(w.w * g.b1), 6) AS value
           FROM w JOIN grid g
             ON g.it = w.ct AND g.iz = w.ci AND g.ix = w.cj
           GROUP BY w.t, w.z, w.x ORDER BY t"""
      })
  )

  /** Line-slice fixture shared by g15's Spark side and oracle. */
  private val lineAxes: Array[Double] = (0 until NZ).map(_ * Dz).toArray
  private val lineSetPts: Seq[Array[Double]] =
    Seq(Array(0.4, 0.3), Array(6.9, 7.2))

  /** 3-D grid (g16): the same 256-cell-per-step events tiling refolded
    * as an 8x8x8 (z,y,x) volume — the reference's full-rank data plane
    * (vpicdataset.py:197-204), 0.5 spacing on every axis.
    */
  val N3 = 8
  val Cells3: Int = N3 * N3 * N3
  private def grid3(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("event_id", "value")
    // lazy broadcast-scalar cell count, as in [[grid]]
    val nCells = broadcast(
      e.agg((count(lit(1)) / Cells3).cast("long").as("nc")))
    e.crossJoin(nCells)
      .filter(col("event_id") < col("nc") * Cells3)
      .select(
        expr(s"CAST(event_id div $Cells3 AS INT)").as("it"),
        expr(s"CAST((event_id % $Cells3) div ${N3 * N3} AS INT)").as("iz"),
        expr(s"CAST((event_id % ${N3 * N3}) div $N3 AS INT)").as("iy"),
        expr(s"CAST(event_id % $N3 AS INT)").as("ix"),
        col("value").as("b1"))
  }
  private val grid3Cte: String =
    s"""grid3 AS MATERIALIZED (
       SELECT CAST(event_id // $Cells3 AS INT) AS it,
              CAST((event_id % $Cells3) // ${N3 * N3} AS INT) AS iz,
              CAST((event_id % ${N3 * N3}) // $N3 AS INT) AS iy,
              CAST(event_id % $N3 AS INT) AS ix,
              value AS b1
       FROM events
       WHERE event_id < (SELECT count(*) // $Cells3 * $Cells3 FROM events))"""
  private val idx3 = Seq("it", "iz", "iy", "ix")

  /** 3-D line-slice fixture (g17): uniform 0.5-spaced axes, a line that
    * crosses all three dimensions.
    */
  private val axes3: Array[Double] = (0 until N3).map(_ * Dz).toArray
  private val line3SetPts: Seq[Array[Double]] =
    Seq(Array(0.3, 0.4, 0.2), Array(3.3, 2.9, 3.1))
}
