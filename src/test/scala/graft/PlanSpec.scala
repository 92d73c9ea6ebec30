package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB —
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * of dimension tables, whole-stage codegen presence.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = QueryRegistry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    df.queryExecution.executedPlan.toString
  }

  test("q06 pushes its filters into the parquet scan") {
    val p = plan("q06_filtered_revenue")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("l_shipdate") && p.contains("l_discount"),
      "expected shipdate/discount predicates pushed")
  }

  test("q06 prunes columns: scan reads only what the query needs") {
    val p = plan("q06_filtered_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_returnflag"),
      s"scan reads unneeded column: $readSchema")
  }

  test("q02 star join broadcasts the dimension tables") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "no broadcast join in star query")
  }

  test("q01 aggregates with whole-stage codegen and partial aggregation") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("*(1)"), "no whole-stage-codegen stage markers")
    assert(p.contains("partial_sum"), "expected map-side partial aggregation")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("g01 grid slice pushes the event_id range filter to the scan") {
    val p = plan("g01_grid_slice")
    // the grid is cached, so either the cache scan or (pre-cache) the
    // parquet filter must constrain rows; assert filters exist at all
    assert(p.contains("Filter"), "no filter in sliced plan")
  }

  test("q48 as-of join is a window, not a join: one hash shuffle, no Join op") {
    val p = plan("q48_asof_click")
    assert(!p.contains("Join"), "as-of should compile to a window, not a join")
    assert(p.contains("Window"), "expected the running-last window")
    // event_type predicates reach the parquet scan on both branches
    assert(p.contains("EqualTo(event_type,click)")
      && p.contains("EqualTo(event_type,purchase)"),
      "event_type filters not pushed to scan")
    // AQE prints Final and Initial sections; count the final one only
    val finalPlan = p.split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    // one for the right-side dedup aggregate + ONE for the as-of window
    assert(shuffles <= 2, s"as-of join shuffles $shuffles times:\n${p.take(1200)}")
  }

  test("q59 interval join plans as an equi-join, never a nested loop") {
    val p = plan("q59_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n${p.take(2000)}")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"),
      "expected a hash-joinable bin key")
  }

  test("no declared query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin over a single-row build side (count
    // scalars, probe vectors) is fine; an unpruned cartesian is never
    // fine at 100 TB. Planning only — no execution.
    QueryRegistry.all.foreach { q =>
      val p = q.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.name} plans a cartesian product:\n${p.take(1500)}")
    }
  }

  test("q71 bloom pre-filter sits below the semi-join") {
    val p = plan("q71_bloom_semijoin")
    // the UDF filter must appear (pre-filter ran) AND the exact
    // semi-join must remain (false positives removed)
    assert(p.contains("LeftSemi"), "exact semi-join missing")
    assert(p.toLowerCase.contains("filter"), "bloom pre-filter missing")
  }

  test("q72 bounded top-k aggregates partially map-side") {
    val p = plan("q72_topk_agg")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "expected typed aggregation for the TopK buffer")
    assert(p.contains("partial_topk") || p.contains("partial"),
      "TopK buffer must partial-aggregate before the exchange")
  }

  test("q67 prefix-filter join broadcasts the frequency table, no cartesian") {
    val p = plan("q67_setsim_prefix_join")
    assert(p.contains("BroadcastHashJoin"), "df table should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q75 hash split is a single narrow pass (no exchange before sort)") {
    val df = QueryRegistry.queries("q75_hash_split")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles == 0, s"hash split should not hash-shuffle:\n$finalPlan")
  }

  test("q45 native dot_product stays inside whole-stage codegen, no shuffle") {
    val p = plan("q45_cosine_topk_native")
    assert(!p.contains("Exchange hashpartitioning"),
      "vector top-k should not shuffle")
    assert(p.contains("*(1)"), "native expression fell out of codegen")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k should plan as TakeOrderedAndProject")
  }

  test("g16 3-D smoothing shuffles once per axis, nothing more") {
    val df = QueryRegistry.queries("g16_grid3d_smooth")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    // at most one window repartitioning per spatial axis; the output
    // ORDER BY adds a range exchange, which is not counted here. Upper
    // bound (not equality): AQE/coalescing or plan changes may merge
    // exchanges, which is fine — only MORE shuffles would be a bug.
    assert(hashShuffles <= 3 && hashShuffles > 0,
      s"3-D smoothing should shuffle at most 3 times, got $hashShuffles")
  }

  test("g04 and g14 read the it-partitioned grid memo with no hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    // counted on the final adaptive plan's nodes, not its string: the
    // cached relation's own repartition by `it` prints inline there
    for (q <- Seq("g04_gradient", "g14_region_extrema")) {
      val df = QueryRegistry.queries(q)(spark, sf)
      df.collect()
      val hash = Plans.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hash.isEmpty,
        s"$q shuffles the grid again: ${hash.map(_.outputPartitioning)}")
    }
  }

  test("g13 and g14 build with no Spark job: the single-tile CC stays lazy") {
    import org.apache.spark.sql.graftbridge.ListenerBus
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    for (q <- Seq("g13_connected_components", "g14_region_extrema")) {
      val jobs = ListenerBus.jobsDuring(spark.sparkContext)(
        QueryRegistry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q started $jobs job(s) at construction")
    }
  }

  test("globalRank never re-shuffles: no window, no join, no hash exchange") {
    import org.apache.spark.sql.functions._
    val df = graft.relational.Ranking.globalRank(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "rnk", col("o_totalprice").desc, col("o_orderkey"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the rank is a narrow pass over the range partitioning with
    // driver-side prefix offsets broadcast in — no Window operator
    // (the old Window.partitionBy(__pid) form re-shuffled the full
    // rows), no join of any kind (the old counts-table self-join is
    // gone), and no hash exchange at all
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("find_structures gradient chain collapses to one window per axis") {
    import org.apache.spark.sql.functions._
    // same wiring as FindStructures: iz-pair then ix-pair, adjacent so
    // CollapseWindow merges each pair into ONE Window operator
    val g = grid.GridQueries.grid(spark, sf)
      .select("it", "iz", "ix", "b1", "b2")
    val g1 = grid.GridOps.gradient(g, "b1", "iz", 0.5, "db1_d1")
    val g3 = grid.GridOps.gradient(g1, "b2", "iz", 0.5, "db2_d1")
    val g2 = grid.GridOps.gradient(g3, "b1", "ix", 0.5, "db1_d2")
    val g4 = grid.GridOps.gradient(g2, "b2", "ix", 0.5, "db2_d2")
    val wins = g4.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.length == 2, s"expected 2 collapsed windows, got ${wins.length}")
  }

  test("q101 spreads the MinHash kernel by doc_id: its only hash exchanges " +
      "are doc_id's, and the distinct adds none") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = QueryRegistry.queries("q101_neardup_arrivals")(spark, sf)
    df.collect()
    // the final adaptive plan's exchange nodes; range and broadcast
    // exchanges (the ORDER BY, the corpus-side probe) are not counted
    val hash = Plans.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h }
    def keys(h: HashPartitioning): Seq[String] = h.expressions.map {
      case a: AttributeReference => a.name
      case e => e.sql
    }
    assert(hash.nonEmpty, "the documents scan feeds the kernel unshuffled")
    assert(!hash.exists(keys(_) == Seq("doc_id", "corpus_doc", "band")),
      s"the distinct re-shuffles: ${hash.mkString(", ")}")
    assert(hash.forall(h => keys(h) == Seq("doc_id") && h.numPartitions == n),
      s"expected only hashpartitioning(doc_id, $n): ${hash.mkString(", ")}")
  }

  test("q119's index build and q51's shingle-index build sign with one " +
      "fused kernel: no Generate, no aggregate on doc_id") {
    import graft.dedup.DedupQueries
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    import org.apache.spark.sql.functions.col
    CacheScope.flush(spark) // a retained twin would plan as its cache
    val docs = Tables.documents(spark, sf)
    // the frames buildDedupIndex and the served shingle index write
    for ((label, sig) <- Seq(
        "q119 build" -> DedupQueries.signaturesOf(
          docs.filter(col("doc_id") < DedupQueries.NeardupArrivalSplit), 1),
        "q51 build" -> DedupQueries.signaturesOf(docs, DedupQueries.ShingleW))) {
      val p = sig.queryExecution.optimizedPlan
      val kernels = p.collect { case n => n.expressions.flatMap(_.collect {
        case k: graft.functions.MinHashSigs => k }) }.flatten
      assert(kernels.size == 1, s"$label: ${kernels.size} minhashsigs\n$p")
      assert(p.collect { case g: Generate => g }.isEmpty, s"$label:\n$p")
      assert(p.collect { case a: Aggregate if a.groupingExpressions
          .exists(_.references.exists(_.name == "doc_id")) => a }.isEmpty,
        s"$label:\n$p")
    }
  }

  test("q110 incremental ingest keeps the anti-join and reuses cached signatures") {
    val p = plan("q110_incremental_ingest")
    assert(p.contains("LeftAnti"), "survivor selection must be an anti-join")
    assert(p.contains("InMemoryTableScan"),
      "per-row signatures should be computed once and reused from cache")
    assert(!p.contains("CartesianProduct"))
  }

  test("q97 dup-ngram scan partial-aggregates before every exchange") {
    val p = plan("q97_dup_ngram_stats")
    // the (doc, hash) pre-aggregation must combine map-side so the
    // shuffle carries distinct hashes, never raw window occurrences
    assert(p.contains("partial_count") || p.contains("partial"),
      "expected map-side combine on the (doc, hash) aggregation")
    assert(!p.contains("CartesianProduct"))
  }

  test("q98 column profile prunes each scan to its single profiled column") {
    val df = QueryRegistry.queries("q98_column_profile")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    // no scan reads more than one column: struct<...> holds no comma
    readSchemas.foreach { rs =>
      val schema = rs.substring(rs.indexOf("struct<"))
      assert(!schema.takeWhile(_ != '>').contains(","),
        s"profile scan reads more than its own column: $rs")
    }
  }

  test("q116 kNN graph scores pairs with the native dot product, " +
      "partitioned window, no UDF") {
    val p = plan("q116_knn_graph")
    // pair cosines must run through the codegen'd DotProduct expression
    // at vector level — the component-level explode+aggregate shape
    // shuffled the pair-by-dimension blowup (measured 179 MB at sf0.1)
    assert(p.toLowerCase.contains("dotproduct"),
      "expected native dot-product scoring in the pair join")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "vector scoring must be expression-level, not a UDF")
    // per-vector top-k is a hash-partitioned window, never global
    assert(p.contains("Window"), "expected a window for per-vector top-k")
  }

  test("q124 segment dedup: window keyed on segment text, no pair join") {
    val p = plan("q124_segment_dedup")
    // the survivor decision is a row_number window hash-partitioned on
    // the segment text — corpus dedup must never become a self-join
    assert(p.contains("Window"), "expected the keep-first window")
    assert(p.contains("hashpartitioning(seg"),
      "window must partition on segment text")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "segment dedup must not plan any join")
  }

  test("q152 span removal: map-side-combined firsts agg, no cartesian") {
    val p = plan("q152_dup_span_removal")
    // the corpus-first decision must be a partial-aggregated min on the
    // window hash (mega-duplicated boilerplate collapses in the
    // mapper), never a sort-per-hash-group window over raw occurrences
    assert(p.contains("partial_min"),
      "expected map-side partial min for the firsts agg")
    assert(!p.contains("CartesianProduct"), "span removal planned a cross")
  }

  test("q154 ingest scrub reads the gram artifact, never rebuilds it") {
    val p = plan("q154_ingest_span_scrub")
    // the index side must be the ARTIFACT's columnar scan — its temp-dir
    // prefix shows up in the scan location ('Scan parquet' alone would
    // be vacuously true of the documents.parquet scan)
    assert(p.contains("graft_ngram_index"),
      "expected a scan of the persisted gram artifact")
    assert(p.contains("LeftSemi"), "expected the set-membership semi join")
  }

  test("q126 rerank stage broadcasts the bounded candidate set") {
    val p = plan("q126_retrieve_rerank")
    // stage 2's per-pair intersection joins the full posting relation
    // against queries x RetrK candidate rows — that side must broadcast
    assert(p.contains("BroadcastHashJoin"),
      "expected the candidate set broadcast into the rerank join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q140 trainer adopts each merge via a broadcast, never a cartesian") {
    val p = plan("q140_bpe_trainer")
    // each iteration's single winning pair joins the vocab table as a
    // one-row broadcast build side (BroadcastNestedLoopJoin over
    // limit(1) is the intended shape; a CartesianProduct never is)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the winning merge broadcast into the re-segmentation")
    assert(!p.contains("CartesianProduct"))
  }

  test("q129 phrase search filters postings before the adjacency join") {
    val p = plan("q129_phrase_search")
    // both legs must reduce to the phrase terms' postings pre-shuffle:
    // the moved bytes are the terms' df, never the full corpus
    assert(p.contains(text.TextQueries.PhraseA)
      && p.contains(text.TextQueries.PhraseB),
      "expected per-term posting filters in the plan")
    assert(!p.contains("CartesianProduct"),
      "adjacency must be an equi-join on (doc_id, position)")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("q131 SCD2: both windows ride ONE hash exchange on user_id") {
    // count only the FINAL adaptive plan: executedPlan.toString echoes
    // the initial plan below it, which would double-count the exchange
    val p = plan("q131_scd2_history")
    val finalP = p.split("== Initial Plan ==").head
    val hashEx = finalP.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"lag and lead must reuse one (user_id) partitioning, saw $hashEx")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q132 quality filter is one narrow pass: no exchange before sort") {
    val p = plan("q132_quality_filter")
    // per-row HOF stats: the only exchange allowed is the presentation
    // sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      "quality stats must compute per-row, not via explode+groupBy")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("g20 path slice is one equi-join; the bracket math stays codegen'd") {
    val p = plan("g20_spacecraft_path")
    // the time-dependent corner resolution must plan as a hash equi-join
    // on (it, corner indices) — never a cartesian (a path of a billion
    // rows times a grid would be fatal). The one BroadcastNestedLoopJoin
    // in the tree is the cached grid FIXTURE's one-row scalar crossJoin
    // (broadcast nCells), not the path join.
    assert(!p.contains("CartesianProduct"),
      "path-to-grid corner resolution must be an equi-join")
    assert(p.contains("HashJoin"), "expected a hash equi-join")
    // distributed searchsorted bracketing is HOF/arithmetic only — no
    // Scala UDF black box breaking whole-stage codegen
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "bracketing must be expression-level, not a UDF")
    assert(p.contains("*(") , "no whole-stage-codegen span in path slice")
  }

  test("q133 pagerank: equi-joins only, edge generation never cartesian") {
    val p = plan("q133_copurchase_pagerank")
    // the per-order pair self-join and every iteration's rank join must
    // be hash/sort-merge equi-joins — a cartesian anywhere would be
    // baskets x corpus at scale
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop join allowed is the single-row teleport-term
    // literal, which is folded at the driver — it never appears at all
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("q135 sweep rides the range exchange, not a global window") {
    val df = QueryRegistry.queries("q135_peak_concurrency")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the timeline cumsum is Ranking.globalCumSum (range exchange +
    // narrow accumulation); the only Windows in the tree are the
    // per-user sessionization ones, so every window spec must be
    // PARTITIONED — an empty partitionBy would serialize the timeline
    // through one task
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("user_id"),
        s"unpartitioned window in the sweep plan: $l")
    }
    assert(!p.contains("CartesianProduct"))
  }

  test("q189 markup extraction is one narrow pass: no hash exchange, " +
    "no UDF — the regexp chain stays codegen'd") {
    val p = plan("q189_markup_extract")
    assert(!p.contains("Exchange hashpartitioning"),
      "extraction must be per-row; only the presentation sort may " +
        "exchange")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    assert(p.contains("*(1)"), "regexp chain fell out of codegen")
  }

  test("media decode gates are map-only: q185's plan carries no " +
    "exchange before the presentation sort") {
    val p = plan("q185_mjpeg_static_gate")
    assert(!p.contains("Exchange hashpartitioning"),
      "the decode gate must ride the arrival partitions")
  }

  test("q190 web-ingest composition is map-only until the per-source " +
    "aggregate: exactly one hash exchange, no UDF") {
    val p = plan("q190_web_ingest_pipeline")
    // AdaptiveSparkPlan prints the final AND the initial plan — count
    // the final section only, or the one exchange appears twice
    val finalPlan = p.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"expected ONE exchange (the source aggregate), got $hashEx")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
  }

  test("q186's gate stage shuffles only metadata: no exchange carries " +
    "the bytes column") {
    val p = plan("q186_image_curation_neardup")
    // every exchange in the composed plan moves (ids, hashes, flags) —
    // the raw payload column must die at the mapPartitions gate
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("bytes"), s"payload crossed a shuffle: $l")
    }
  }

  test("q191 MJPEG cut detection is map-only: decode rides the " +
    "arrival partitions, no exchange before the presentation sort") {
    val p = plan("q191_mjpeg_shot_keyframes")
    assert(!p.contains("Exchange hashpartitioning"),
      "cut detection must be per-video, per-partition work")
    assert(!p.contains("CartesianProduct"))
  }

  test("q193 URL frontier dedup: the canonicalization is narrow " +
    "per-row work and only the url-set aggregate + domain window " +
    "shuffle — at most two hash exchanges, no UDF") {
    val p = plan("q193_url_canonical_dedup")
    val finalPlan = p.split("== Initial Plan ==").head
    val hashEx = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2,
      s"expected <=2 exchanges (canonical groupBy + domain window), " +
        s"got $hashEx")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q194 frontier decisions: seen-set joins broadcast (the " +
    "frontier is metadata-width), consumed-slots side is one row per " +
    "domain, no UDF, no sort-merge join, no cartesian") {
    // plan ONE batch body against a NON-empty frontier (batch 0
    // committed first, so the seen-set joins are real, not
    // empty-relation-optimized)
    import org.apache.spark.sql.functions._
    val frontier = graft.TempArtifacts.dir("graft_urlf_plan_f")
    val audit = graft.TempArtifacts.dir("graft_urlf_plan_a")
    val arrivals = graft.Tables.documents(spark, sf)
      .select(col("doc_id"))
      .withColumn("url", concat(lit("https://s"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com/p-"), (col("doc_id") % 11).cast("string")))
    graft.streaming.Streams.urlFrontierBatch(
      arrivals.filter(col("doc_id") % 2 === 0), 0L, frontier, audit)
    val df = graft.text.TextQueries.urlFrontierDecisions(
      arrivals.filter(col("doc_id") % 2 === 1), frontier)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "the frontier seen set must broadcast, not sort-merge")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q192's served audit read is a plain columnar scan: serving " +
    "the committed leak pairs costs no join and no window") {
    // the AUDIT side of the streaming gate: once batches commit, the
    // dashboard read must be scan+sort — all candidate work happened
    // at arrival time inside the fenced batches
    val df = QueryRegistry.queries("q192_semantic_leak_stream")(spark, sf)
    df.collect()
    val served = df.queryExecution.executedPlan.toString
    assert(!served.contains("SortMergeJoin")
      && !served.contains("windowspecdefinition"),
      "the served read re-derived pair work that belongs to the batches")
  }
}
