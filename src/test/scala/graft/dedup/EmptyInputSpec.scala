package graft.dedup

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input behavior: every dedup operator must return an empty
  * (or all-singleton) result on an empty corpus without erroring — the
  * guard for pipeline stages that filter a partition down to nothing.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def empty = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("signatures, bands, and pair join are empty on an empty corpus") {
    assert(DedupQueries.signaturesOf(empty, 1).count() == 0)
    assert(DedupQueries.bandsOf(DedupQueries.signaturesOf(empty, 1)).count() == 0)
    assert(DedupQueries.minhashPairsOf(empty).count() == 0)
  }

  test("clustering on an empty corpus is empty; no edges means singletons") {
    assert(DedupQueries.dedupClustersStarOf(empty).count() == 0)
    // a corpus with no near-dup pairs: every doc is its own canonical
    val disjoint = Seq((0L, "aa bb cc"), (1L, "dd ee ff"), (2L, "gg hh ii"))
      .toDF("doc_id", "text")
    val cl = DedupQueries.dedupClustersStarOf(disjoint).collect()
    assert(cl.length == 3 && cl.forall(_.getAs[Boolean]("is_canonical")))
  }

  test("dup-ngram stats and set-sim join handle empty and sub-window docs") {
    assert(DedupQueries.dupNgramStats(empty, 3).count() == 0)
    assert(DedupQueries.setSimJoin(empty, 0.85).count() == 0)
    val short = Seq((0L, "only two")).toDF("doc_id", "text")
    val row = DedupQueries.dupNgramStats(short, 5).head()
    assert(row.getLong(1) == 0L && row.getDouble(3) == 0.0)
  }

  test("sparse cosine and shingle set-sim handle empty and sub-window corpora") {
    assert(DedupQueries.sparseCosinePairs(empty, 0.5).count() == 0)
    assert(DedupQueries.shingleOccurrences(empty, 3).count() == 0)
    assert(DedupQueries.setSimJoinOf(
      DedupQueries.shingleSets(empty, 3), 0.7).count() == 0)
    // docs shorter than the shingle window contribute no units at all
    val short = Seq((0L, "only two"), (1L, "only two")).toDF("doc_id", "text")
    assert(DedupQueries.shingleOccurrences(short, 3).count() == 0)
    assert(DedupQueries.sparseCosinePairsOf(
      DedupQueries.shingleOccurrences(short, 3),
      short.agg(count(lit(1)).as("n_docs")), 0.5).count() == 0)
    // identical docs above the window: exactly one pair at cosine 1.
    // A third distinct doc keeps the twin shingles' idf positive — with
    // ONLY the twins, every shingle is corpus-universal (idf = 0) and
    // the zero-norm guard correctly drops both docs.
    val twins = Seq((0L, "aa bb cc dd"), (1L, "aa bb cc dd"),
      (2L, "ee ff gg hh")).toDF("doc_id", "text")
    val pairs = DedupQueries.sparseCosinePairsOf(
      DedupQueries.shingleOccurrences(twins, 3),
      twins.agg(count(lit(1)).as("n_docs")), 0.5).collect()
    assert(pairs.length == 1 && pairs.head.getAs[Double]("cos_sim") == 1.0)
    assert(pairs.head.getAs[Long]("doc_a") == 0L
      && pairs.head.getAs[Long]("doc_b") == 1L)
  }

  test("segment dedup: empty corpus empty; twins keep one copy of each seg") {
    assert(DedupQueries.segmentDedupOf(empty).count() == 0)
    // two identical docs, each longer than one segment: the first doc
    // keeps everything, the twin keeps nothing
    val long = (1 to 25).map(i => s"w$i").mkString(" ")
    val twins = Seq((0L, long), (1L, long)).toDF("doc_id", "text")
    val out = DedupQueries.segmentDedupOf(twins).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_kept") == out(0).getAs[Long]("n_segments"))
    assert(out(0).getAs[String]("text_kept") == long)
    assert(out(1).getAs[Long]("n_kept") == 0L
      && out(1).getAs[String]("text_kept").isEmpty)
  }

  test("containment: empty corpus empty; strict-subset doc fires one way") {
    assert(DedupQueries.containmentPairsOf(
      DedupQueries.shingleSets(empty, 3), 0.5).count() == 0)
    // doc 1's shingles are a strict subset of doc 0's: containment(1->0)
    // is 1.0, the reverse is below threshold — exactly one ordered pair
    val sub = Seq((0L, "aa bb cc dd ee ff gg hh"), (1L, "aa bb cc dd"))
      .toDF("doc_id", "text")
    val rows = DedupQueries.containmentPairsOf(
      DedupQueries.shingleSets(sub, 3), 0.9).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("doc_a") == 1L
      && rows.head.getAs[Long]("doc_b") == 0L
      && rows.head.getAs[Double]("containment") == 1.0)
  }

  test("span removal family handles empty corpora and empty indexes") {
    assert(DedupQueries.dupSpanRemoval(empty, 3).count() == 0)
    assert(DedupQueries.decontaminationSpanScrub(empty, 3).count() == 0)
    // an index built from an EMPTY corpus serves as a no-op scrub (the
    // grams artifact is a schema-only parquet; the semi join keeps
    // nothing, the doc passes through intact)
    val dir = graft.TempArtifacts.dir("ngram_idx_empty")
    DedupQueries.buildNgramIndex(empty, 3, dir)
    val out = DedupQueries.spanScrubAgainstIndex(spark,
      Seq((7L, "a b c d")).toDF("doc_id", "text"), dir, 3).head()
    assert(out.getAs[Long]("n_removed") == 0L
      && out.getAs[String]("clean_text") == "a b c d")
    // scrubbing an EMPTY arrival batch against a real index is empty
    DedupQueries.advanceNgramIndex(
      Seq((0L, "a b c d")).toDF("doc_id", "text"), 3, dir)
    assert(DedupQueries.spanScrubAgainstIndex(spark, empty, dir, 3)
      .count() == 0)
  }

  test("BPE trainer/encode survive empty and single-char corpora") {
    import graft.text.BpeTrainer
    // empty corpus: no merges, no encoded docs — and no error
    assert(BpeTrainer.bpeTrainerOf(empty).count() == 0)
    assert(BpeTrainer.bpeEncodeOf(empty).count() == 0)
    // single-char words only: nothing enters the vocab (len >= 2), so
    // no pairs and no merges; the encoder still prices every word at
    // one symbol
    val chars = Seq((0L, "a b c a")).toDF("doc_id", "text")
    assert(BpeTrainer.bpeTrainerOf(chars).count() == 0)
    val enc = BpeTrainer.bpeEncodeOf(chars).head()
    assert(enc.getAs[Long]("n_words") == 4L
      && enc.getAs[Long]("n_tokens") == 4L
      && enc.getAs[Double]("chars_per_token") == 1.0)
    graft.CacheScope.flush(spark)
  }
}
