package graft.grid

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's master analytic pipeline `find_structures`
  * (/root/reference/src/datasets/vpicdataset.py:295-533), recomposed from
  * the set-based operators: smoothing -> flux function -> gradients /
  * Hessian -> zero contours -> segment-intersection nulls -> X/O
  * classification -> separatrices + O-structures -> current sheets.
  *
  * Deliberate differences from the reference, all documented in SURVEY:
  *  - pure API: returns a NEW SimDataset instead of mutating (the
  *    reference mutates self, asymmetric with its own ndslice);
  *  - smoothing/flux/gradient/contour/null stages run for ALL time steps
  *    in one plan (partitioned by `it`), fulfilling the reference's TODO
  *    at vpicdataset.py:337; the per-X-point stages take `timeIdx` like
  *    the reference;
  *  - flux function is recomputed from the given fields instead of
  *    reusing a possibly-stale cached one (the ref warns but reuses,
  *    vpicdataset.py:371-376).
  * Preserved quirks: hardcoded current-sheet source variable name 'jy'
  * (:482), hardcoded 0.5 on the negative sheet branch (:516),
  * d_per_de = int(mean(1/dz, 1/dx)) (:345-349).
  */
object FindStructures {
  /** `sepMasks` is the ONE frame both mask variables project from —
    * (it, iz, ix, sep, ostruct) — exposed so a consumer needing both
    * masks reads it once instead of re-joining the separatrices and
    * o_structures variables on the grid key (they are projections of
    * this same checkpointed result; the join costs two exchanges and
    * buys nothing).
    */
  final case class Result(dataset: SimDataset,
      xCoords: Seq[(Double, Double)], oCoords: Seq[(Double, Double)],
      sepMasks: DataFrame)

  /** Dedicated EC for the concurrent current-sheet chain: a NAMED
    * daemon thread so a wedged chain is diagnosable in a stack dump
    * (and never holds a slot of the global pool that other libraries
    * share). Cached pool: idle between queries costs nothing.
    */
  private lazy val csEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-current-sheets")
        t.setDaemon(true); t
      }))

  /** Spark local properties that must follow the chain onto its thread:
    * job-group cancellation and scheduler-pool assignment are
    * thread-local, so without this the concurrent jobs would escape
    * both.
    */
  private val PropagatedProps = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel",
    "spark.scheduler.pool")

  /** Upper bound on the current-sheet await: generous enough for any
    * real plan (the chain is minutes at most), finite so a wedged
    * chain fails with a diagnostic instead of hanging the query.
    */
  private val CsTimeout = scala.concurrent.duration.Duration(1, "hour")

  /** Below this cell count the pipeline's eager legs run with AQE OFF
    * and a narrow static shuffle width (8).
    *
    * Why: under AQE every exchange materializes as its own query-stage
    * job, and a per-site job audit of g19 with AQE on attributed 47
    * of its 65 jobs to exactly that, on stages whose payloads are
    * KILOBYTES (the whole sf0.1 grid is ~10k cells). On a small
    * fixed-topology uniform grid AQE has nothing to re-plan (no skew,
    * nothing worth coalescing beyond a sane static width), so its
    * per-stage job quanta are pure overhead. At or above the floor —
    * where stage payloads reach real size, per-job quanta amortize,
    * and runtime coalescing/skew handling earn their keep — AQE stays
    * on. The floor is deliberately conservative: 10M cells ≈ 80 MB of
    * doubles, still small for a cluster but far past where the quanta
    * dominate.
    *
    * Measured (g19 bench, sf0.1, local[32], isolated min-of-3):
    * AQE on 11.30 s / 57 jobs / 753 tasks per run; AQE off alone
    * 12.25 s (SLOWER — coalescing lost, tasks 4x to 1382/run); AQE
    * off + width 8: 10.01 s / 33 jobs / 398 tasks / task-GC 8.9 s ->
    * 2.9 s per window. Width 4 gains nothing further (10.24 s) — past
    * the task-count knee the floor is per-action planning plus the
    * eager legs' irreducible work, not scheduling quanta.
    */
  private val AqeCellFloor = 10L * 1000 * 1000

  def apply(ds: SimDataset, b1Name: String = "b1", b2Name: String = "b2",
      smoothing: Double = 3.0, timeIdx: Int = 0, deTol: Double = 5.0,
      csLimit: Double = 0.5, jyName: String = "jy"): Result = {
    val b1 = ds.variables(b1Name)
    val b2 = ds.variables(b2Name)
    require(b1.spaceAxes.length == 2,
      "Flux function can only be calculated on 2-dimensional meshes")
    require(b1.spaceAxes.zip(b2.spaceAxes).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    }, s"Given magnetic field components $b1Name and $b2Name do not have the same mesh")
    val zAxis = b1.spaceAxes(0)._2; val xAxis = b1.spaceAxes(1)._2
    require(LineSlice.uniform(zAxis) && LineSlice.uniform(xAxis),
      "inputted variables are not on uniform mesh")
    val dz = zAxis(1) - zAxis(0); val dx = xAxis(1) - xAxis(0)
    val nz = zAxis.length; val nx = xAxis.length
    val dPerDe = ((1 / dz + 1 / dx) / 2).toInt // vpicdataset.py:345-349

    // Scope AQE off for small grids (see [[AqeCellFloor]]) through a
    // CHILD session: `newSession()` shares the SparkContext, cache and
    // data, but isolates SQL confs — a concurrent query on the
    // caller's session can never inherit the flip (a mutate-and-restore
    // on the caller's session would be session-global for the window's
    // duration). Every dataframe of this pipeline — including the
    // RETURNED variables — is rebound to the child, so the consumer's
    // final joins over these toy-scale masks also skip AQE's per-stage
    // job quanta (~16 of them otherwise).
    val session = b1.df.sparkSession
    val aqeScoped =
      b1.timeAxis.length.toLong * nz * nx < AqeCellFloor
    val (b1Df, b2Df, jyDfOpt) = if (aqeScoped) {
      val child = session.newSession()
      child.conf.set("spark.sql.adaptive.enabled", "false")
      // AQE-off loses runtime coalescing, so pin the static shuffle
      // width to what AQE would have coalesced these KB-scale stages
      // to anyway — without this the task count quadruples and eats
      // the job-count win (measured: AQE-off alone is SLOWER)
      child.conf.set("spark.sql.shuffle.partitions", "8")
      import org.apache.spark.sql.graftbridge.Bridge
      (Bridge.withSession(child, b1.df), Bridge.withSession(child, b2.df),
        ds.variables.get(jyName).map(v => Bridge.withSession(child, v.df)))
    } else (b1.df, b2.df, ds.variables.get(jyName).map(_.df))

    // join the two fields on the grid once
    val joined = b1Df.select(col("it"), col("iz"), col("ix"), col("t"),
        col("value").as("b1v"))
      .join(b2Df.select(col("it").as("it2"), col("iz").as("iz2"),
        col("ix").as("ix2"), col("value").as("b2v")),
        col("it") === col("it2") && col("iz") === col("iz2") && col("ix") === col("ix2"))
      .drop("it2", "iz2", "ix2")

    // Gaussian smoothing (sigma_t = 0: the reference default never
    // smooths time, vpicdataset.py:351-361). Both field components ride
    // the SAME separable passes (one grid read, two shuffles — not two
    // smooths + a join); per-column math is bit-equal to the
    // single-column operator.
    // scoped persists throughout: each stage feeds several consumers;
    // CacheScope bounds the block lifetime to the harness query scope.
    val smoothed = graft.CacheScope.retain(
      GridOps.gaussianSmoothAxesMulti(joined,
        Seq("b1v" -> "b1_smooth", "b2v" -> "b2_smooth"), smoothing,
        Seq("iz" -> nz, "ix" -> nx)))

    // current sheets need only smoothed jy — a chain fully independent
    // of the flux/gradient/null/separatrix spine. Build it on another
    // thread: the solver's eager points (the region/grow CC labelings)
    // overlap the spine's collect instead of queueing behind it, and at
    // cluster scale the two plans' stages interleave across executors.
    // (Concurrent job submission from one SparkSession is a supported
    // Spark pattern; a retain on this thread outside a scope goes to the
    // session's concurrent flush list.)
    val sc = session.sparkContext
    val callerProps = PropagatedProps.map(k => k -> sc.getLocalProperty(k))
    val csFut = jyDfOpt.map { jyDf =>
      scala.concurrent.Future {
        // local properties are thread-local: re-set the caller's so
        // job-group cancellation / pool assignment reach these jobs
        callerProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        val jySm = GridOps.gaussianSmooth(
          jyDf.select(col("it"), col("iz"), col("ix"), col("value")),
          "value", smoothing, nz, nx, "jy_smooth")
        val jySel =
          jySm.select(col("it"), col("iz"), col("ix"), col("jy_smooth"))
        // small grids: materialize the (tiny) mask HERE, on the chain's
        // thread, overlapped with the spine — the consumer then reads a
        // checkpointed local table instead of re-planning the chain's
        // tail joins as post-return query stages. The chain's internal
        // retains are scoped to this thread and freed the moment the
        // checkpoint lands (grid-sized intermediates whose consumers
        // all finish inside this Future would otherwise stay resident
        // until the harness flush, stacking cache pressure under every
        // later stage); big grids return a lazy plan, so no scope is
        // opened and the retains live until the flush.
        if (aqeScoped) graft.CacheScope.scoped(
          Topology.currentSheets(jySel, "jy_smooth", nz, nx, csLimit)
            .localCheckpoint(true))
        else Topology.currentSheets(jySel, "jy_smooth", nz, nx, csLimit)
      }(csEc)
    }

    // flux function from the SMOOTHED fields (vpicdataset.py:372)
    val flux = graft.CacheScope.retain(
      GridOps.fluxfn(smoothed, "b1_smooth", "b2_smooth", dz, dx)
        .withColumnRenamed("psi", "flux_fn"))

    // gradients + Hessian determinant (index-agnostic physical spacing).
    // Same-axis gradients are adjacent so Catalyst's CollapseWindow
    // merges each pair into ONE window pass: two shuffles, not four.
    val g1 = GridOps.gradient(flux, "b1_smooth", "iz", dz, "db1_d1")
    val g3 = GridOps.gradient(g1, "b2_smooth", "iz", dz, "db2_d1")
    val g2 = GridOps.gradient(g3, "b1_smooth", "ix", dx, "db1_d2")
    val g4 = GridOps.gradient(g2, "b2_smooth", "ix", dx, "db2_d2")
    val hess = graft.CacheScope.retain(g4.withColumn("fluxfn_hessian_det",
      col("db1_d2") * (-col("db2_d1")) - (-col("db2_d2")) * col("db1_d1")))

    // zero contours -> nulls (all time steps at once)
    val nulls = Topology.segmentIntersections(
      Topology.contourSegments(hess, "b1_smooth", 0.0),
      Topology.contourSegments(hess, "b2_smooth", 0.0))

    // X/O split by the sign of the interpolated Hessian det (:431-439).
    // The flux level each X point's separatrix contour needs is sampled
    // in the SAME pass (multi-field bilinear sample) and collected with
    // the classification — one action instead of two sampling sub-plans,
    // and the separatrix stage receives its level table as a local
    // relation instead of re-deriving it distributed.
    val classified = Topology.bilinearSampleMulti(hess,
        Seq("fluxfn_hessian_det" -> "hdi", "flux_fn" -> "level"),
        nulls.select(col("it"), col("py"), col("px")))
      .filter(col("it") === timeIdx)
      .collect()
      .map(r => (r.getAs[Double]("py"), r.getAs[Double]("px"),
        math.signum(r.getAs[Double]("hdi")), r.getAs[Double]("level")))
    val xCoords = classified.filter(_._3 == -1.0).map(c => (c._1, c._2)).toSeq
    val oCoords = classified.filter(_._3 == 1.0).map(c => (c._1, c._2)).toSeq

    // separatrices + O-structures around the X points (:441-479)
    // hess still carries flux_fn (the gradient chain started from `flux`)
    val xLevels =
      classified.filter(_._3 == -1.0).map(c => (c._1, c._2, c._4)).toSeq
    // the sep/ostruct masks are read TWICE downstream (one variable
    // each): small grids checkpoint the tiny result eagerly (one
    // in-window job replaces the consumer's re-derivation) inside a
    // scope that frees the body's grid-sized retains as soon as it
    // lands; big grids retain the lazy result until the flush (the
    // internals must survive until the consumer evaluates it)
    val seps =
      if (aqeScoped) graft.CacheScope.scoped(
        Topology.separatricesWithLevels(hess, "flux_fn",
            timeIdx, xLevels, nz, nx, dPerDe * deTol)
          .localCheckpoint(true))
      else graft.CacheScope.retain(Topology.separatricesWithLevels(
        hess, "flux_fn", timeIdx, xLevels, nz, nx, dPerDe * deTol))

    // current sheets on smoothed jy (hardcoded name, :482; chain built
    // concurrently above). Explicit 2-D projection note: a VPIC-loaded
    // variable still carries its (singleton, squeezed-from-mesh) iy
    // index column, which the n-d window guard rightly rejects as an
    // unlisted dimension — hence the jy.df.select in the Future.
    val csOpt = csFut.map { f =>
      try scala.concurrent.Await.result(f, CsTimeout)
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            "current-sheet chain did not complete within " + CsTimeout +
              " — inspect thread 'graft-current-sheets'", e)
      }
    }

    def asVar(label: String, df: DataFrame, valueCol: String): GridVar =
      GridVar(label, b1.timeAxis, b1.spaceAxes,
        df.withColumnRenamed(valueCol, "value"))

    var out = ds
      .addVar(asVar(s"${b1Name}_smooth",
        smoothed.select("it", "iz", "ix", "b1_smooth"), "b1_smooth"))
      .addVar(asVar(s"${b2Name}_smooth",
        smoothed.select("it", "iz", "ix", "b2_smooth"), "b2_smooth"))
      .addVar(asVar("flux_fn", flux.select("it", "iz", "ix", "flux_fn"), "flux_fn"))
      .addVar(asVar("fluxfn_hessian_det",
        hess.select("it", "iz", "ix", "fluxfn_hessian_det"), "fluxfn_hessian_det"))
      .addVar(asVar("separatrices", seps.select("it", "iz", "ix", "sep"), "sep"))
      .addVar(asVar("o_structures", seps.select("it", "iz", "ix", "ostruct"), "ostruct"))
      .addParam("d_per_de", dPerDe.toString)
      .addParam("x_coords", xCoords.map(c => s"${c._1}:${c._2}").mkString(";"))
      .addParam("o_coords", oCoords.map(c => s"${c._1}:${c._2}").mkString(";"))
    csOpt.foreach { cs =>
      out = out.addVar(asVar("current_sheets",
        cs.select("it", "iz", "ix", "cs"), "cs"))
    }
    Result(out, xCoords, oCoords,
      seps.select("it", "iz", "ix", "sep", "ostruct"))
  }
}
