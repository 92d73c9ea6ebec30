package graft.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One grid variable in long format: `df` has columns `it`, one integer
  * index column per spatial dim (e.g. iz, ix), matching coordinate
  * columns (t, z, x), and `value`.
  *
  * Mirrors the reference Variable (label/timeseries/mesh/data,
  * /root/reference/src/variables/variable.py:27-32): the small 1-D axes
  * stay driver-side (`timeAxis`/`spaceAxes`), the dense tensor becomes a
  * distributed long-format DataFrame keyed by grid indices.
  */
final case class GridVar(
    label: String,
    timeAxis: Array[Double],
    spaceAxes: Seq[(String, Array[Double])], // (index col name, coords); Z,Y,X order
    df: DataFrame) {

  def indexCols: Seq[String] = "it" +: spaceAxes.map(_._1)
  /** Coordinate column for an index column ("iz" -> "z"). */
  def coordCol(idx: String): String = idx.stripPrefix("i")

  /** Inclusive [min,max] of time (row 0) then each mesh axis — reference
    * StatMeshVar.bounds (statmeshvar.py:35-59). Axes are driver-side.
    */
  def bounds: Seq[(Double, Double)] =
    (timeAxis.min, timeAxis.max) +:
      spaceAxes.map { case (_, a) => (a.min, a.max) }
}

/** A moving-measure-point variable — the reference's `DynMeshVar`
  * surface (spacecraft-like data: constructor raises,
  * /root/reference/src/variables/dynmeshvar.py:26; slice methods are
  * `pass`, dynmeshvar.py:28-35). In long format the "dynamic mesh" needs
  * no separate machinery: coordinates are ordinary columns that vary
  * with `it`, so `df` is rows (it, t, <coords>..., value) and the SAME
  * timeslice/zoom operators apply unchanged — they filter on coordinate
  * columns, not on a static mesh table (DynMeshSpec). There are no
  * driver-side axes: the mesh IS the data, which is exactly why the
  * reference's array-shaped model couldn't express it.
  */
final case class DynVar(label: String, df: DataFrame) {
  /** Inclusive [min,max] of every coordinate column (t first when
    * present, then the spatial coords in column order) — the
    * Variable.bounds contract extended to moving meshes. Unlike
    * [[GridVar.bounds]], which reads driver-side axis metadata, here
    * the mesh IS the data: bounds is one distributed aggregation (a
    * Spark job). Deliberately NOT folded into [[SimDataset.bounds]],
    * which stays a metadata-only call.
    */
  def bounds: Seq[(Double, Double)] = {
    val rest = df.columns.filter(c => c != "it" && c != "value" && c != "t")
    val cols = (if (df.columns.contains("t")) Seq("t") else Nil) ++ rest
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // contract: an EMPTY trajectory (every aggregate null) has no
    // bounds; a PARTIALLY-null coordinate set (some column all-null
    // while another is not) is refused — per-column NaN bounds would
    // poison downstream min/max silently, and such a trajectory is a
    // data bug, not a boundary case
    val nullCols = cols.indices.filter(i => r.isNullAt(2 * i))
    if (nullCols.size == cols.size) Seq.empty
    else {
      require(nullCols.isEmpty,
        s"DynVar '$label': coordinate column(s) " +
          s"${nullCols.map(cols).mkString(", ")} are all-null while " +
          "others are not — bounds undefined")
      cols.indices.map(i => (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
    }
  }
}

/** Dataset of named grid variables + open params map — the reference
  * Dataset (dataset.py:8). Pure/immutable: every transform returns a new
  * SimDataset (the reference's ndslice contract; its find_structures
  * mutation asymmetry is deliberately not reproduced).
  */
final case class SimDataset(
    params: Map[String, String],
    variables: Map[String, GridVar],
    dynVars: Map[String, DynVar] = Map.empty) {

  def addParam(k: String, v: String): SimDataset =
    copy(params = params + (k -> v))

  /** Add-variable dispatch — the reference inspects the mesh argument's
    * SHAPE at runtime (`hasattr(var_mesh[0][0],'__len__')`,
    * dataset.py:103-108: a nested per-time mesh dispatches to
    * DynMeshVar, a flat one to StatMeshVar). In a typed language the
    * same dispatch is overload resolution: a static-mesh [[GridVar]]
    * and a moving-point [[DynVar]] are distinct types, so the choice
    * the reference makes by duck-typing is made here by the compiler.
    */
  def addVar(v: GridVar): SimDataset =
    copy(variables = variables + (v.label -> v))

  def addVar(v: DynVar): SimDataset =
    copy(dynVars = dynVars + (v.label -> v))

  /** Dataset-wide bounds with "most inclusive" (union) semantics across
    * variables — implementing the reference DOCSTRING (dataset.py:163-166),
    * not the np.minimum/np.minimum bug at dataset.py:178-179 (divergence
    * recorded in SURVEY §2A row 6).
    */
  def bounds: Seq[(Double, Double)] = {
    // metadata-only by contract: DynVars (whose bounds are a data scan,
    // DynVar.bounds) are deliberately excluded; a dataset with no
    // static-mesh variables has no metadata bounds
    val all = variables.values.map(_.bounds).toSeq
    if (all.isEmpty) Seq.empty
    else all.reduce { (a, b) =>
      a.zip(b).map { case ((lo1, hi1), (lo2, hi2)) =>
        (math.min(lo1, lo2), math.max(hi1, hi2))
      }
    }
  }

  /** Variable selection — the reference's `get_vars` ingest projection
    * (vpicdataset.py:206-213): case-sensitive substring match, first
    * match wins per requested pattern.
    */
  def selectVars(patterns: Seq[String]): SimDataset = {
    val names = variables.keys.toSeq.sorted
    val keep = patterns.flatMap(p => names.find(_.contains(p))).distinct
    // same projection over the moving-point variables (their names sort
    // and match independently — a pattern can select from either pool)
    val dynNames = dynVars.keys.toSeq.sorted
    val keepDyn = patterns.flatMap(p => dynNames.find(_.contains(p))).distinct
    copy(variables = variables.filter { case (k, _) => keep.contains(k) },
      dynVars = dynVars.filter { case (k, _) => keepDyn.contains(k) })
  }

  /** Slice every variable: inclusive time filter, per-dim inclusive
    * zooms, then the optional interpolating line section (reference
    * Dataset.ndslice -> Variable.ndslice pipeline order,
    * variable.py:69-78). All lazy transforms — no data copy, the
    * reference's deepcopy (variable.py:69) has no analogue under
    * immutability. Axes are filtered driver-side to stay consistent.
    *
    * `interpOverrides`: per-variable-label interpolation override — the
    * reference's `<label>interp` kwargs (statmeshvar.py:121-126).
    * With setPts, records `unit_vec` and `zero_pt` params
    * (dataset.py:240-243).
    */
  def ndslice(
      timelims: Option[(Double, Double)] = None,
      zooms: Map[String, (Double, Double)] = Map.empty,
      setPts: Option[Seq[Array[Double]]] = None,
      interp: String = "linear",
      interpOverrides: Map[String, String] = Map.empty): SimDataset = {
    val newVars = variables.map { case (name, v) =>
      var df = v.df
      var tAxis = v.timeAxis
      timelims.foreach { case (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        df = df.filter(col("t").between(lo, hi))
        // Rebase `it` so index values stay positions into the filtered
        // time axis (the reference rebases implicitly via numpy slicing,
        // statmeshvar.py:100).
        val firstKept = tAxis.count(_ < lo)
        if (firstKept > 0) df = df.withColumn("it", col("it") - firstKept)
        tAxis = tAxis.filter(t => t >= lo && t <= hi)
      }
      val newAxes = v.spaceAxes.map { case (idx, coords) =>
        zooms.get(v.coordCol(idx)) match {
          case Some((a, b)) =>
            val (lo, hi) = if (a <= b) (a, b) else (b, a)
            df = df.filter(col(v.coordCol(idx)).between(lo, hi))
            // Rebase the index column to match the filtered axis array:
            // LineSlice.sampleCorners indexes into the filtered axes and
            // equi-joins on these columns (reference numpy slicing rebases
            // implicitly, statmeshvar.py:109).
            val firstKept = coords.count(_ < lo)
            if (firstKept > 0) df = df.withColumn(idx, col(idx) - firstKept)
            (idx, coords.filter(c => c >= lo && c <= hi))
          case None => (idx, coords)
        }
      }
      val zoomed = v.copy(timeAxis = tAxis, spaceAxes = newAxes, df = df)
      name -> (setPts match {
        case Some(pts) =>
          LineSlice.slice(zoomed, pts, interpOverrides.getOrElse(name, interp))
        case None => zoomed
      })
    }
    val withParams = setPts match {
      case Some(pts) =>
        val vec = pts(1).zip(pts.head).map { case (b, a) => b - a }
        val n = math.sqrt(vec.map(x => x * x).sum)
        params +
          ("unit_vec" -> vec.map(_ / n).mkString(",")) +
          ("zero_pt" -> pts.head.mkString(","))
      case None => params
    }
    // Moving-point variables slice by the SAME coordinate filters — the
    // semantics the reference declares but stubs (DynMeshVar._timeslice/
    // _zoom are `pass`, dynmeshvar.py:28-35). Filters apply to whichever
    // coordinate columns the trajectory carries; the line section does
    // not apply (no static mesh to section).
    //
    // `it` REBASE (closes the mixed-dataset foot-gun of absolute dyn
    // `it` next to rebased grid `it`): when the dataset's static-mesh
    // variables agree on how
    // the timeslice maps into index space (one distinct (offset, kept)
    // across their time axes — the universal case: variables of one
    // simulation share the time axis), DynVar `it` is filtered to the
    // kept index range and shifted by the SAME offset as every
    // GridVar, so dyn and grid `it` stay congruent after slicing.
    // With no static variables (or disagreeing axes — a mixed-source
    // dataset where "the" index map is undefined) `it` stays absolute
    // and only physical `t` filters, as before.
    val dynItRebase: Option[(Int, Int)] = timelims.flatMap { case (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val maps = variables.values.map(v =>
        (v.timeAxis.count(_ < lo),
          v.timeAxis.count(t => t >= lo && t <= hi))).toSet
      if (maps.size == 1) Some(maps.head) else None
    }
    val newDyn = dynVars.map { case (name, dv) =>
      var df = dv.df
      timelims.foreach { case (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        if (df.columns.contains("t")) df = df.filter(col("t").between(lo, hi))
        dynItRebase.foreach { case (firstKept, kept) =>
          if (df.columns.contains("it")) {
            df = df.filter(col("it") >= firstKept
              && col("it") < firstKept + kept)
            if (firstKept > 0) df = df.withColumn("it", col("it") - firstKept)
          }
        }
      }
      zooms.foreach { case (c, (a, b)) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        if (df.columns.contains(c)) df = df.filter(col(c).between(lo, hi))
      }
      name -> dv.copy(df = df)
    }
    copy(params = withParams, variables = newVars, dynVars = newDyn)
  }

  /** Spacetime slice of a static-mesh variable along a moving probe
    * path — the feature the reference's StatMeshVar TODO names
    * ("a spacetime-slice which is e.g. a spacecraft path",
    * statmeshvar.py:8-10) and DynMeshVar exists to hold. Returns the
    * sampled [[DynVar]]; see [[LineSlice.pathSlice]] for semantics.
    */
  def pathSlice(varName: String, path: DataFrame,
      interp: String = "linear", timeInterp: Boolean = false): DynVar =
    LineSlice.pathSlice(variables(varName), path, interp, timeInterp)

  /** Export: parquet per variable + JSON sidecar for params/axes — the
    * declared-but-unimplemented reference surface (dataset.py:183-193
    * raises; we define the format, as SURVEY §2A row 7 requires).
    */
  def export(dir: String): Unit = {
    variables.values.foreach { v =>
      v.df.write.mode("overwrite").parquet(s"$dir/${v.label}.parquet")
    }
    // moving-point variables: data-only parquet (coords ride in the
    // rows; there are no axes to sidecar). dyn_ prefix keeps a DynVar
    // and a GridVar with the same label from clobbering each other —
    // and a GridVar literally named "dyn_<x>" colliding with DynVar
    // "<x>" is refused rather than silently overwritten.
    dynVars.keys.foreach { k =>
      require(!variables.contains(s"dyn_$k"),
        s"export collision: static variable 'dyn_$k' and moving variable '$k' " +
          "would write the same file")
    }
    dynVars.values.foreach { v =>
      v.df.write.mode("overwrite").parquet(s"$dir/dyn_${v.label}.parquet")
    }
    val meta = SimDataset.metaJson(this)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_graft_meta.json"), meta)
  }
}

object SimDataset {
  /** Key-value param ingest — the declared-but-stubbed `_get_params`
    * (vpicdataset.py:232-245; SURVEY §2A row 20). Format we define:
    * `key = value` or `key value` lines; '#' comments.
    */
  def paramsFromFile(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines()
      .map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty)
      .flatMap { line =>
        val parts =
          if (line.contains('=')) line.split("=", 2)
          else line.split("\\s+", 2)
        if (parts.length == 2) Some(parts(0).trim -> parts(1).trim) else None
      }.toMap

  private def jarr(a: Array[Double]): String = a.mkString("[", ",", "]")
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metaJson(ds: SimDataset): String = {
    val params = ds.params.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val vars = ds.variables.values.map { v =>
      val axes = v.spaceAxes.map { case (n, a) => s"${jstr(n)}:${jarr(a)}" }
        .mkString("{", ",", "}")
      s"${jstr(v.label)}:{\"time\":${jarr(v.timeAxis)},\"axes\":$axes}"
    }.mkString("{", ",", "}")
    val dyn = ds.dynVars.keys.map(jstr).mkString("[", ",", "]")
    s"""{"params":$params,"variables":$vars,"dynvars":$dyn}"""
  }

  /** Load an exported dataset (the reference's unimplemented `_init_file`,
    * dataset.py:66-70). Minimal JSON parsing of our own sidecar format.
    */
  def load(spark: SparkSession, dir: String): SimDataset = {
    val meta = ujsonLite.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/_graft_meta.json")))
    val params = meta.obj("params").obj.map { case (k, v) => k -> v.str }
    val vars = meta.obj("variables").obj.map { case (name, m) =>
      val time = m.obj("time").arr.map(_.num).toArray
      val axes = m.obj("axes").obj.map { case (an, av) =>
        (an, av.arr.map(_.num).toArray)
      }.toSeq
      name -> GridVar(name, time, axes,
        spark.read.parquet(s"$dir/$name.parquet"))
    }
    // dynvars absent from pre-DynVar sidecars: default to none
    val dyn = meta.obj.get("dynvars").map(_.arr.map(_.str)).getOrElse(Vector.empty)
      .map(name => name ->
        DynVar(name, spark.read.parquet(s"$dir/dyn_$name.parquet")))
    SimDataset(params.toMap, vars.toMap, dyn.toMap)
  }
}

/** Tiny recursive-descent JSON reader for the sidecar (no external deps;
  * build.sbt only allows Spark + scalatest).
  */
private[graft] object ujsonLite {
  sealed trait V {
    def obj: collection.mutable.LinkedHashMap[String, V] =
      this.asInstanceOf[O].m
    def arr: Vector[V] = this.asInstanceOf[A].v
    def num: Double = this.asInstanceOf[N].d
    def str: String = this.asInstanceOf[S].s
  }
  final case class O(m: collection.mutable.LinkedHashMap[String, V]) extends V
  final case class A(v: Vector[V]) extends V
  final case class N(d: Double) extends V
  final case class S(s: String) extends V

  def parse(s: String): V = new P(s).value()

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): V = { ws(); s(i) match {
      case '{' => obj()
      case '[' => arr()
      case '"' => S(string())
      case _ => number()
    }}
    private def obj(): V = {
      i += 1; ws()
      val m = collection.mutable.LinkedHashMap.empty[String, V]
      if (s(i) == '}') { i += 1; return O(m) }
      while (true) {
        ws(); val k = string(); ws(); require(s(i) == ':'); i += 1
        m(k) = value(); ws()
        if (s(i) == ',') i += 1 else { require(s(i) == '}'); i += 1; return O(m) }
      }
      O(m)
    }
    private def arr(): V = {
      i += 1; ws()
      var v = Vector.empty[V]
      if (s(i) == ']') { i += 1; return A(v) }
      while (true) {
        v :+= value(); ws()
        if (s(i) == ',') i += 1 else { require(s(i) == ']'); i += 1; return A(v) }
      }
      A(v)
    }
    private def string(): String = {
      require(s(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def number(): V = {
      val st = i
      while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
      N(s.substring(st, i).toDouble)
    }
  }
}
