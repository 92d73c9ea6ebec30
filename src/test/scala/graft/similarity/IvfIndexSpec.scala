package graft.similarity

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF-index artifact (the ANN-side twin of the dedup
  * index): the artifact-read recall query (q118) must agree
  * frame-for-frame with the recompute path (q89), and the parquet
  * round-trip of the centroid/assignment tables must be exact.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("q118 (artifact-read) equals q89 (recompute) row for row") {
    val a = graft.QueryRegistry.queries("q89_ivf_recall")(spark, sf)
      .collect().toSeq
    graft.CacheScope.flush(spark)
    val b = graft.QueryRegistry.queries("q118_indexed_ann")(spark, sf)
      .collect().toSeq
    graft.CacheScope.flush(spark)
    assert(a.nonEmpty && a == b)
  }

  test("q150: drift over budget publishes v2 (serve ≡ full rebuild); " +
      "a huge budget keeps v1 live (serve ≡ the q130 advanced index)") {
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val fired = SimilarityQueries.indexRebuildFlow(spark, f,
      SimilarityQueries.AnnAdvanceSplit, SimilarityQueries.DriftBudget)
      .collect().head
    assert(fired.getString(0) == "v2" && fired.getBoolean(1))
    graft.CacheScope.flush(spark)
    val held = SimilarityQueries.indexRebuildFlow(spark, f,
      SimilarityQueries.AnnAdvanceSplit, 1e9).collect().head
    assert(held.getString(0) == "v1" && !held.getBoolean(1))
    graft.CacheScope.flush(spark)
    // the non-firing serve is the advanced-v1 geometry: q130's output
    val q130 = graft.QueryRegistry.queries("q130_advance_ann")(spark, sf)
      .collect().head
    assert(held.getLong(3) == q130.getLong(0)
      && held.getLong(4) == q130.getLong(1))
    graft.CacheScope.flush(spark)
    // the post-publish serve is the fresh full-corpus geometry: q118's
    val q118 = graft.QueryRegistry.queries("q118_indexed_ann")(spark, sf)
      .collect().head
    assert(fired.getLong(3) == q118.getLong(0)
      && fired.getLong(4) == q118.getLong(1))
    graft.CacheScope.flush(spark)
  }

  test("trained quantizer round-trips through save/load: identical " +
      "centers, identical q46-shaped search output") {
    import org.apache.spark.ml.functions.array_to_vector
    val emb = graft.Tables.embeddings(spark, sf)
      .withColumn("features",
        array_to_vector(transform(col("embedding"), x => x.cast("double"))))
    val fitted = SimilarityQueries.fitIvfQuantizer(emb)
    val dir = graft.TempArtifacts.dir("graft_ivf_model_spec")
    SimilarityQueries.saveIvfQuantizer(fitted, dir)
    val loaded = SimilarityQueries.loadIvfQuantizer(spark, dir)
    assert(fitted.clusterCenters.map(_.toArray.toSeq).toSeq
      == loaded.clusterCenters.map(_.toArray.toSeq).toSeq)
    val a = SimilarityQueries.annIvfWith(emb, fitted, probeId = 0, k = 10)
      .collect().toSeq
    val b = SimilarityQueries.annIvfWith(emb, loaded, probeId = 0, k = 10)
      .collect().toSeq
    assert(a.nonEmpty && a == b)
    graft.CacheScope.flush(spark)
  }

  test("index round-trip: assignments cover every vector exactly once " +
      "and centroids carry one row per (label, dim)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val f = emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val idx = graft.TempArtifacts.dir("graft_ivf_spec")
    SimilarityQueries.buildIvfIndex(f, idx)
    val n = emb.count()
    val assign = SimilarityQueries.indexAssignments(spark, idx)
    assert(assign.count() == n)
    assert(assign.select("vec_id").distinct().count() == n)
    val cent = SimilarityQueries.indexCentroids(spark, idx)
    val labels = emb.select("label").distinct().count()
    val dims = f.select("i").distinct().count()
    assert(cent.count() == labels * dims)
    // assignments reference only labels that exist in the centroid table
    assert(assign.join(cent.select(col("clabel").as("lst")).distinct(),
      Seq("lst"), "left_anti").isEmpty)
    graft.CacheScope.flush(spark)
  }

  test("compactIvfIndex: assignments and centroids identical across " +
      "the flip, unfenced-replay duplicates collapse, post-flip " +
      "advances land in the live version") {
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val split = SimilarityQueries.AnnAdvanceSplit
    val idx = graft.TempArtifacts.dir("graft_ivf_cmp_spec")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), idx)
    val arr = f.filter(col("vec_id") >= split).localCheckpoint(true)
    // two UNfenced advances — the modelled at-least-once duplicates
    SimilarityQueries.advanceIvfIndex(arr, idx)
    SimilarityQueries.advanceIvfIndex(arr, idx)
    val n = f.select("vec_id").distinct().count()
    val nArr = arr.select("vec_id").distinct().count()
    assert(SimilarityQueries.indexAssignments(spark, idx).count()
      == n + nArr)
    val wantAssign = SimilarityQueries.indexAssignments(spark, idx)
      .dropDuplicates("vec_id").collect().toSet
    val wantCent = SimilarityQueries.indexCentroids(spark, idx)
      .collect().toSet
    SimilarityQueries.compactIvfIndex(spark, idx)
    assert(SimilarityQueries.indexAssignments(spark, idx).count() == n)
    assert(SimilarityQueries.indexAssignments(spark, idx).collect().toSet
      == wantAssign)
    // the frozen centroid table rides into the new version unchanged
    assert(SimilarityQueries.indexCentroids(spark, idx).collect().toSet
      == wantCent)
    val live = graft.sources.ArtifactVersions.live(idx)
    assert(live != idx)
    // a post-flip advance lands inside the live version
    SimilarityQueries.advanceIvfIndex(arr, idx)
    assert(SimilarityQueries.indexAssignments(spark, idx).count()
      == n + nArr)
    graft.CacheScope.flush(spark)
  }

  test("advance ≡ assigning the full corpus against the frozen base " +
      "centroids; q130 serves base + advanced lists") {
    val f = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val split = SimilarityQueries.AnnAdvanceSplit
    // build from the base half, advance the arrivals in
    val adv = graft.TempArtifacts.dir("graft_ivf_adv_spec")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), adv)
    SimilarityQueries.advanceIvfIndex(
      f.filter(col("vec_id") >= split), adv)
    // reference: one shot, every vector against the SAME base centroids
    val ref = graft.TempArtifacts.dir("graft_ivf_ref_spec")
    SimilarityQueries.buildIvfIndex(f.filter(col("vec_id") < split), ref)
    val refAssign = SimilarityQueries.indexCentroids(spark, ref)
    val allToBase = f.join(broadcast(refAssign), col("i") === col("ci"))
      .groupBy("vec_id", "clabel")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("lst"))
    val advanced = SimilarityQueries.indexAssignments(spark, adv)
    assert(advanced.count() == f.select("vec_id").distinct().count())
    assert(advanced.join(allToBase, Seq("vec_id", "lst"), "left_anti")
      .isEmpty, "advanced artifact diverges from frozen-centroid rule")
    // the query itself runs and emits the one recall row
    val rows = graft.QueryRegistry.queries("q130_advance_ann")(spark, sf)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_candidates") > 0)
    graft.CacheScope.flush(spark)
  }

  test("q187/q188 semantic split governance: both branches fire, the " +
    "audit is val x train only, and the heal's one-pass post-condition " +
    "holds — zero detected leaks survive the drop") {
    val pairs = graft.QueryRegistry
      .queries("q187_semantic_split_leakage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    graft.CacheScope.flush(spark)
    assert(pairs.nonEmpty, "the leak audit must fire on this corpus")
    assert(pairs.forall(_._3 >= SimilarityQueries.SemLeakT))
    val heal = graft.QueryRegistry
      .queries("q188_semantic_split_heal")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getString(3))).toMap
    graft.CacheScope.flush(spark)
    // every embedding row is dispositioned; both splits and both leak
    // flags occur
    assert(heal.values.map(_._1).toSet == Set("train", "val"))
    assert(heal.values.exists(_._2) && heal.values.exists(!_._2))
    pairs.foreach { case (tr, vl, _) =>
      assert(heal(tr) == (("train", true, "train")),
        s"train side $tr must stay, flagged")
      assert(heal(vl) == (("val", true, "dropped")),
        s"leaked val side $vl must drop")
    }
    // the one-pass post-condition: no detected pair's val side survives
    val survivingVal = heal.collect {
      case (id, ("val", _, "val")) => id }.toSet
    assert(pairs.forall(p => !survivingVal.contains(p._2)),
      "a detected leak survived the heal")
    // non-leaked rows are untouched
    heal.foreach { case (id, (split, leaked, fin)) =>
      if (!leaked) assert(fin == split, s"untouched row $id moved") }
  }
}
