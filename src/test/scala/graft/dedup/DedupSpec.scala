package graft.dedup

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("windowHashesOf: duplicate doc_id rows each window their OWN " +
      "tokens — never interleave across copies") {
    val w = 3
    // two rows share doc_id 7 with DIFFERENT texts (an upstream data
    // error / at-least-once double-delivery): a doc_id-keyed window
    // would tie on pos and interleave tokens across the copies
    val dup = Seq(
      (7L, "a b c d"),
      (7L, "x y z q"),
      (8L, "m n o p")).toDF("doc_id", "text")
    val got = DedupQueries.windowHashesOf(dup, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sorted
    // reference: each ROW computed alone, union of its windows
    val want = Seq((7L, "a b c d"), (7L, "x y z q"), (8L, "m n o p"))
      .flatMap { case (id, t) =>
        DedupQueries.windowHashesOf(Seq((id, t)).toDF("doc_id", "text"), w)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      }.sorted
    assert(got == want,
      s"duplicate-doc_id windows diverged from per-row evaluation")
    assert(got.count(_._1 == 7L) == 4, "two 4-token copies -> 2+2 windows")
    graft.CacheScope.flush(spark)
  }

  test("simhash: permuting token order leaves the signature unchanged") {
    val sig = DedupQueries.simhash(spark, sf)
      .limit(5).as[(Long, Long)].collect().toMap
    // recompute from reversed-token documents: token SET is identical,
    // run through the SAME production code path
    val docs = graft.Tables.documents(spark, sf)
      .withColumn("text", array_join(reverse(split(col("text"), " ")), " "))
    val permuted = DedupQueries.simhashOf(docs)
      .filter(col("doc_id") < 5).as[(Long, Long)].collect().toMap
    sig.foreach { case (id, s0) => assert(permuted(id) == s0, s"doc $id") }
  }

  test("minhash estimate correlates with exact jaccard on candidate pairs") {
    val pairs = DedupQueries.minhashPairs(spark, sf).limit(50)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    // exact jaccard for those pairs
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token")).distinct()
    val sets = toks.as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var totalErr = 0.0
    pairs.foreach { case (a, b, est) =>
      val (sa, sb) = (sets(a), sets(b))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      totalErr += math.abs(est - exact)
    }
    val mae = totalErr / pairs.length
    // 16 permutations -> standard error ~0.125 for mid jaccard
    assert(mae < 0.2, s"mean abs error $mae too high")
  }

  test("setSimJoin equals the brute-force pair scan at another threshold") {
    val docs = graft.Tables.documents(spark, sf).filter(col("doc_id") < 80)
    val fast = DedupQueries.setSimJoin(docs, 0.5)
      .collect().map(_.toSeq).toSet
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct().as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = (for {
      a <- toks.keys; b <- toks.keys if a < b
      ni = toks(a).intersect(toks(b)).size
      j = ni.toDouble / (toks(a).size + toks(b).size - ni) if j >= 0.5
    } yield Seq(a, b, math.rint(j * 1e6) / 1e6)).toSet
    assert(fast == brute && fast.nonEmpty,
      s"setsim mismatch: fast=${fast.size} brute=${brute.size}")
  }

  test("simhashHammingPairs equals the brute-force quadratic scan") {
    val docs = graft.Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val fast = DedupQueries.simhashHammingPairs(docs)
      .collect().map(_.toSeq).toSet
    val sigs = DedupQueries.simhashOf(docs).as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= DedupQueries.HammingMax
    } yield Seq(a, b, hd.toLong)).toSet
    assert(fast == brute && fast.nonEmpty,
      s"hamming mismatch: fast=${fast.size} brute=${brute.size}")
  }

  test("star contraction preserves candidate-graph connectivity exactly") {
    // CC over the linear star-edge graph must equal CC over the full
    // O(bucket²) pairwise candidate expansion (no est filter on either
    // side — the contraction claim is about connectivity).
    val docs = graft.Tables.documents(spark, sf)
    val sig = DedupQueries.signaturesOf(docs, 1).localCheckpoint()
    val starComp = graft.grid.Topology.graphComponents(
        DedupQueries.starEdges(sig))
      .as[(Long, Long)].collect().toMap
    val pairComp = graft.grid.Topology.graphComponents(
        DedupQueries.candidatesFromBands(DedupQueries.bandsOf(sig))
          .select(col("doc_a").as("s"), col("doc_b").as("t")))
      .as[(Long, Long)].collect().toMap
    assert(starComp.nonEmpty && starComp == pairComp,
      s"star=${starComp.size} pair=${pairComp.size}")
  }

  test("dupNgramStats: unique corpus has zero dup, doubled doc is fully dup") {
    val w = 3
    // 3 docs of globally-unique tokens + one exact copy of doc 0
    val docs = Seq(
      (0L, "a b c d e f"), (1L, "g h i j k l"), (2L, "m n o p q r"),
      (3L, "a b c d e f"),
      (4L, "s t")) // shorter than w: zero windows
      .toDF("doc_id", "text")
    val rows = DedupQueries.dupNgramStats(docs, w).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1) == ((4L, 0L, 0.0)) && rows(2) == ((4L, 0L, 0.0)))
    assert(rows(0) == ((4L, 4L, 1.0)) && rows(3) == ((4L, 4L, 1.0)),
      "every window of a doc with an exact twin is duplicated")
    assert(rows(4) == ((0L, 0L, 0.0)), "sub-window doc has no windows")
  }

  test("dupSpanRemoval: first copy survives, later copies cut as one span") {
    val w = 3
    // doc 0 carries the original block; doc 1 embeds the same 5-token
    // block inside otherwise-unique text; doc 2 is fully unique; doc 3
    // is shorter than w; doc 4 is an exact twin of doc 2 (fully removed)
    val docs = Seq(
      (0L, "a b c d e"),
      (1L, "u1 u2 a b c d e u3 u4"),
      (2L, "m n o p q r"),
      (3L, "s t"),
      (4L, "m n o p q r"))
      .toDF("doc_id", "text")
    val rows = DedupQueries.dupSpanRemoval(docs, w).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(rows(0) == ((5L, 0L, 0L, "a b c d e")), "first copy untouched")
    // doc 1: windows at pos 2..4 duplicate doc 0's -> one island [2, 7)
    assert(rows(1) == ((9L, 1L, 5L, "u1 u2 u3 u4")),
      "embedded block excised as one merged span")
    assert(rows(2) == ((6L, 0L, 0L, "m n o p q r")))
    assert(rows(3) == ((2L, 0L, 0L, "s t")), "sub-window doc untouched")
    assert(rows(4) == ((6L, 1L, 6L, "")), "exact twin fully removed")
  }

  test("q154 ingest scrub + index advance: corpus spans cut on arrival; " +
      "admitted novelty scrubs the NEXT batch") {
    val w = 3
    val dir = graft.TempArtifacts.dir("ngram_idx_test")
    val corpus = Seq((0L, "a b c d e")).toDF("doc_id", "text")
    DedupQueries.buildNgramIndex(corpus, w, dir)
    // batch 1: the corpus block is scrubbed even though it is this
    // batch's FIRST occurrence (contrast q152); novelty survives
    val b1 = Seq((10L, "p q a b c d e r s"), (11L, "x y z w v"))
      .toDF("doc_id", "text")
    val out1 = DedupQueries.spanScrubAgainstIndex(spark, b1, dir, w)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out1 == Map(10L -> "p q r s", 11L -> "x y z w v"), s"$out1")
    // advance with the admitted novel text; batch 2 embedding it is cut
    DedupQueries.advanceNgramIndex(
      Seq((11L, "x y z w v")).toDF("doc_id", "text"), w, dir)
    val out2 = DedupQueries.spanScrubAgainstIndex(spark,
        Seq((20L, "k1 k2 x y z w v k3 k4")).toDF("doc_id", "text"), dir, w)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out2 == Map(20L -> "k1 k2 k3 k4"), s"$out2")
  }

  test("q156 compaction: scrub frames identical across the version flip; " +
      "replayed advances shrink away") {
    val w = 3
    val root = graft.TempArtifacts.dir("ngram_compact_test")
    val corpus = Seq((0L, "a b c d e"), (1L, "m n o p q"))
      .toDF("doc_id", "text")
    DedupQueries.buildNgramIndex(corpus, w, root)
    val arrivals = Seq((10L, "x y a b c d e z"), (11L, "f g h i j"))
      .toDF("doc_id", "text")
    // materialize the admitted batch so the replay re-delivers the
    // SAME payload (a lazy scrub plan re-materializes against the
    // already-advanced index and appends nothing — the flow comment
    // at indexCompactionFlow explains)
    DedupQueries.spanScrubAgainstIndex(spark, arrivals, root, w)
      .select(col("doc_id"), col("clean_text").as("text"))
      .write.parquet(root + "/admitted")
    val admitted = spark.read.parquet(root + "/admitted")
    DedupQueries.advanceNgramIndex(admitted, w, root)
    DedupQueries.advanceNgramIndex(admitted, w, root) // at-least-once replay
    def scrub() = DedupQueries
      .spanScrubAgainstIndex(spark, arrivals, root, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    def grams() = DedupQueries.liveGrams(spark, root).count()
    val (before, nBefore) = (scrub(), grams())
    graft.sources.ArtifactVersions.compact(spark, root)
    assert(graft.sources.ArtifactVersions.live(root).endsWith("v2"),
      "compaction must publish the next version")
    assert(grams() < nBefore, "the replayed duplicate rows must be gone")
    assert(scrub() == before, "compaction changed scrub results")
  }

  test("q155 decontamination scrub removes tokens exactly from the docs " +
      "q78 flags as contaminated") {
    val flagged = graft.QueryRegistry.queries("q78_decontamination")(spark, sf)
      .filter(col("contaminated")
        && col("doc_id") >= graft.text.TextQueries.DecontamBench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scrubbed = graft.QueryRegistry
      .queries("q155_decontamination_scrub")(spark, sf)
      .filter(col("n_removed") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(scrubbed == flagged, s"scrubbed=$scrubbed flagged=$flagged")
  }

  test("dupSpanRemoval conserves tokens: kept + removed = total (sf0.001)") {
    val rows = graft.QueryRegistry
      .queries("q152_dup_span_removal")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tot, rem) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))
      val clean = r.getAs[String]("clean_text")
      val kept = if (clean.isEmpty) 0L else clean.split(" ").length.toLong
      assert(kept == tot - rem, s"doc ${r.get(0)}: $kept != $tot - $rem")
      assert(r.getAs[Long]("n_spans") <= rem, s"doc ${r.get(0)} span count")
    }
  }

  test("per-row HOF simhash is bit-identical to the explode+groupBy path") {
    val docs = graft.Tables.documents(spark, sf)
    val agg = DedupQueries.simhashOf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRow = DedupQueries.simhashPerRow(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == agg)
  }

  /** The explode+groupBy form of the signature table over a (doc_id,
    * token) unit table: the shape of the oracles' `tok`/`hb`/`sig` CTEs
    * in Spark, the reference `signaturesOf` must match bit for bit.
    */
  private def explodeSignatures(units: DataFrame): DataFrame = {
    import DedupQueries.{P, permA, permB, permC}
    val md = md5(col("token"))
    val hs = units
      .withColumn("x1", conv(substring(md, 1, 15), 16, 10).cast("long") % P)
      .withColumn("x2", conv(substring(md, 17, 15), 16, 10).cast("long") % P)
    val aggs = (0 until DedupQueries.NumHashes).map(i =>
      min((col("x1") * permA(i) % P + col("x2") * permB(i) % P + permC(i)) % P)
        .as(s"h$i"))
    hs.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  test("per-row HOF signatures are bit-identical to the explode+groupBy path") {
    val docs = graft.Tables.documents(spark, sf)
    def bySig(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    for ((w, units) <- Seq(1 -> tokens,
        DedupQueries.ShingleW -> DedupQueries.shingleSets(docs,
          DedupQueries.ShingleW))) {
      val agg = bySig(explodeSignatures(units))
      val perRow = bySig(DedupQueries.signaturesOf(docs, w))
      assert(perRow.nonEmpty && perRow.keySet == agg.keySet, s"w=$w")
      perRow.foreach { case (id, sig) =>
        assert(sig == agg(id), s"w=$w: doc $id signature diverges")
      }
    }
  }

  test("NULL text and short documents make no signature and no pair") {
    // two NULL texts once shared bucket "" of every band (all-NULL
    // slots) and a simhash of 0; doc 4 has fewer than ShingleW tokens
    val docs = Seq[(Long, String)]((1L, null), (2L, null),
      (3L, "a b c d"), (4L, "x y")).toDF("doc_id", "text")
    val ids = (df: DataFrame) =>
      df.select("doc_id").as[Long].collect().toSet
    assert(ids(DedupQueries.signaturesOf(docs, 1)) == Set(3L, 4L))
    assert(ids(DedupQueries.signaturesOf(docs, DedupQueries.ShingleW)) ==
      Set(3L))
    assert(DedupQueries.candidatesFromBands(DedupQueries.bandsOf(
      DedupQueries.signaturesOf(docs, 1))).count() == 0)
    assert(ids(DedupQueries.simhashPerRow(docs)) == Set(3L, 4L))
    assert(DedupQueries.simhashHammingPairs(docs).count() == 0)
  }

  test("q179 split leakage: exactly the cross-split subset of the q30 " +
    "pair graph, sides normalized to their splits") {
    val byName = DedupQueries.defs.map(q => q.name -> q).toMap
    val pairs = byName("q30_minhash_lsh_pairs").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the split rule comes from the declared q75 query itself
    val split = graft.QueryRegistry.queries("q75_hash_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val want = pairs.filter { case (a, b, _) => split(a) != split(b) }
      .map { case (a, b, j) =>
        if (split(a) == "train") (a, b, j) else (b, a, j)
      }.sortBy(r => (r._1, r._2))
    val got = byName("q179_split_leakage").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want.toSeq)
    assert(got.nonEmpty, "no cross-split leakage found on this corpus")
    got.foreach { case (t, v, _) =>
      assert(split(t) == "train" && split(v) == "val",
        s"mis-normalized leak pair ($t, $v)")
    }
  }

  test("q182 split heal: dropped set is exactly the leaked val docs, " +
    "and ZERO cross-split near-dup pairs survive the heal") {
    val byName = DedupQueries.defs.map(q => q.name -> q).toMap
    val heal = byName("q182_split_heal").fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getString(3))).toMap
    val leaks = byName("q179_split_leakage").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(leaks.nonEmpty)
    // dropped == exactly the leaked val sides; train sides keep their
    // split but carry the leak flag
    val leakedVal = leaks.map(_._2).toSet
    assert(heal.filter(_._2._3 == "dropped").keySet == leakedVal)
    leaks.foreach { case (t, v) =>
      assert(heal(t)._2 && heal(t)._3 == "train", s"train side $t wrong")
      assert(heal(v)._2, s"val side $v not flagged")
    }
    // the post-condition the drop policy guarantees: no near-dup pair
    // straddles the healed boundary (pairs with a dropped side vanish)
    val pairs = byName("q30_minhash_lsh_pairs").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = pairs.filter { case (a, b) =>
      heal(a)._3 != "dropped" && heal(b)._3 != "dropped"
    }
    survivors.foreach { case (a, b) =>
      assert(heal(a)._3 == heal(b)._3,
        s"cross-split pair ($a, $b) survived the heal")
    }
    // and the heal is minimal on the val side: every non-leaked val
    // doc ships
    heal.foreach { case (id, (sp, lk, fin)) =>
      if (sp == "val" && !lk) assert(fin == "val")
      if (sp == "train") assert(fin == "train")
    }
  }

  test("fused band verify (first-agreeing-band dedup) equals the " +
      "distinct-candidates + verify path, row for row") {
    // exact twins share ALL four bands (the multi-band duplicate case
    // the map-side dedup must collapse to one row), the mutated pair
    // shares only some bands, the unique shares none
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"), // exact twin of 0
      (2L, "alpha beta gamma delta epsilon eta"), // near twin
      (3L, "totally different text with no overlap at all"),
      (4L, "alpha beta gamma delta epsilon zeta") // third copy
    ).toDF("doc_id", "text")
    val sig = graft.CacheScope.retain(
      DedupQueries.signaturesOf(docs, 1))
    val fused = DedupQueries
      .verifiedPairsFromBands(DedupQueries.bandsOf(sig), sig)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    val reference = DedupQueries.verifiedPairsFrom(
        DedupQueries.candidatesFromBands(DedupQueries.bandsOf(sig)), sig)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(fused == reference)
    // one row per pair — the property the old distinct() enforced
    assert(fused.map(p => (p._1, p._2)).distinct.size == fused.size)
    // the three-way twin family must be fully paired (exact copies
    // agree on every band, est_jaccard 1.0)
    val pairSet = fused.map(p => (p._1, p._2)).toSet
    assert(Set((0L, 1L), (0L, 4L), (1L, 4L)).subsetOf(pairSet), fused)
    graft.CacheScope.flush(spark)
  }

  test("band verify: a forged bucket collision cannot emit a pair twice") {
    val n = DedupQueries.NumHashes
    val br = DedupQueries.BandRows
    // doc 2 disagrees with doc 1 on every band-0 slot and agrees on the
    // rest (12 of 16 slots: est_jaccard 0.75)
    val sigA = (0 until n).map(_.toLong)
    val sigB = sigA.zipWithIndex.map { case (h, i) =>
      if (i < br) h + 100L else h }
    val sig = Seq((1L, sigA), (2L, sigB)).toDF("doc_id", "h")
      .select(col("doc_id") +: (0 until n).map(i => col("h")(i).as(s"h$i")): _*)
    // band 0's buckets collide although its slots differ; band 1 truly
    // agrees; bands 2 and 3 stay in per-doc buckets
    val bands = Seq((1L, 0, "forged"), (2L, 0, "forged"),
      (1L, 1, "4,5,6,7"), (2L, 1, "4,5,6,7"),
      (1L, 2, "a2"), (2L, 2, "b2"), (1L, 3, "a3"), (2L, 3, "b3"))
      .toDF("doc_id", "band", "bucket")
    val got = DedupQueries.verifiedPairsFromBands(bands, sig)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 0.75)), got)
  }
}
