package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input and invariant coverage for the round-6 composed
  * flows (q104–q112). The flows are declared inline in the query
  * registry, so the crafted-corpus tests exercise the REAL query
  * functions end to end: each writes a tiny documents/embeddings
  * parquet pair into a temp dir shaped like a driver SF dir and runs
  * `QueryRegistry.queries(name)` against it.
  */
class ComposedFlowsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String, dir: String = sf) =
    QueryRegistry.queries(name)(spark, dir)

  /** Write a documents table (full driver schema) into a temp SF dir. */
  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = graft.TempArtifacts.dir("graft_sf")
    rows.map { case (id, text, src) =>
      (id, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = graft.TempArtifacts.dir("graft_sf")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // two twins + two loners; ids offset into the arrival range on demand
  private def corpus(base: Long): Seq[(Long, String, String)] = Seq(
    (base, "aa bb cc dd ee ff gg hh", "srcA"),
    (base + 1, "aa bb cc dd ee ff gg hh", "srcA"),
    (base + 2, "ii jj kk ll mm nn oo pp", "srcA"),
    (base + 3, "qq rr ss tt uu vv ww xx", "srcA"))

  test("q110: an empty arrival batch leaves the corpus unchanged") {
    val dir = docsDir(corpus(base = 0)) // all ids < NeardupArrivalSplit
    val out = run("q110_incremental_ingest", dir).collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[String]("status") == "existing"))
  }

  test("q110: an empty corpus dedups the batch against itself (greedy)") {
    val dir = docsDir(corpus(base = 250)) // all ids >= split: no corpus
    val out = run("q110_incremental_ingest", dir).collect()
    val kept = out.map(_.getAs[Long]("doc_id")).toSet
    // lower-id twin survives, its copy drops, loners survive
    assert(kept == Set(250L, 252L, 253L), s"kept $kept")
    assert(out.forall(_.getAs[String]("status") == "added"))
  }

  test("q110: a twin arriving against its corpus copy is dropped") {
    // twins straddle the split: 249 is corpus, its copy 250 arrives
    val dir = docsDir(corpus(base = 249))
    val out = run("q110_incremental_ingest", dir).collect()
    val status = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("status")).toMap
    assert(status == Map(249L -> "existing", 251L -> "added",
      252L -> "added"), s"got $status")
  }

  test("q112: a single-source corpus reports only the diagonal cell") {
    val dir = docsDir(corpus(base = 0))
    val out = run("q112_source_overlap", dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("source_a") == "srcA"
      && r.getAs[String]("source_b") == "srcA"
      && r.getAs[Long]("n_pairs") == 1L) // the one twin pair
  }

  test("q111: all-identical embeddings collapse to one kept representative") {
    val vec = Array.fill(8)(0.5f)
    val dir = embDir((0L until 6L).map(i => (i, vec, (i % 3).toInt)))
    val out = run("q111_semantic_dedup", dir).collect()
    assert(out.length == 6)
    // single stride seed (vec 0) -> one cluster; cosine 1 everywhere ->
    // one component; kept = the component minimum only
    assert(out.forall(_.getAs[Long]("cluster") == 0L))
    assert(out.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSeq == Seq(0L))
  }

  test("q104: star contraction never merges what exact clustering splits") {
    val r = run("q104_cluster_policy_compare").head()
    // star edges are a subset-connectivity of the same verified
    // relation: pairs_star <= pairs_exact, merged_pairs identically 0
    assert(r.getAs[Long]("merged_pairs") == 0L)
    assert(r.getAs[Long]("pairs_exact")
      == r.getAs[Long]("pairs_both") + r.getAs[Long]("split_pairs"))
  }

  test("q105/q106: full-corpus joins honor threshold and pair order") {
    run("q105_setsim_full").collect().foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.7)
    }
    run("q106_sparse_cosine_full").collect().foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("cos_sim") >= 0.6)
    }
  }

  test("q107: every conversion pairs a purchase after its click") {
    run("q107_click_to_purchase").collect().foreach { r =>
      val click = r.getAs[java.time.LocalDateTime]("click_ts")
      val purchase = r.getAs[java.time.LocalDateTime]("purchase_ts")
      assert(!purchase.isBefore(click),
        s"purchase $purchase before click $click")
    }
  }

  test("q108: RRF output is internally consistent and rank-sane") {
    val rows = run("q108_hybrid_rrf").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val rd = r.getAs[Long]("r_dense"); val rs = r.getAs[Long]("r_sparse")
      assert(rd >= 1 && rs >= 1)
      val expect = BigDecimal(1.0 / (60 + rd) + 1.0 / (60 + rs))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("rrf") == expect, s"rrf mismatch at $r")
    }
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b },
      "rrf not descending")
    // exact global ranks: no two docs share a rank within a leg
    assert(rows.map(_.getAs[Long]("r_dense")).distinct.length == 20)
    assert(rows.map(_.getAs[Long]("r_sparse")).distinct.length == 20)
  }

  test("q109: matryoshka recall is a valid fraction of the top-10") {
    val r = run("q109_matryoshka_recall").head()
    val hits = r.getAs[Long]("hits")
    assert(hits >= 0 && hits <= 10)
    assert(r.getAs[Double]("recall_at_10") == hits / 10.0)
  }
}
