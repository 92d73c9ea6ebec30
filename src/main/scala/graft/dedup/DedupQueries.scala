package graft.dedup

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (exact, n-gram Jaccard,
  * MinHash-LSH, SimHash). ALL are oracle-checked: the probabilistic ops
  * use a 60-bit md5-prefix token hash that DuckDB can compute
  * identically, so even MinHash/SimHash outputs hash-match the oracle.
  */
object DedupQueries {
  /** Distinct (doc_id, token) pairs — the set representation of each doc. */
  private def tokenSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
  private def tokenSets(s: SparkSession, d: String): DataFrame =
    tokenSetsOf(Tables.documents(s, d))

  /** 60-bit token hash with an exact cross-engine twin — see
    * [[graft.functions.Hashing]].
    */
  /** Signature-agreement count between two aliased signature tables —
    * the single Scala twin of the SQL `agreeSql` (three consumers:
    * pairwise est, star-edge verify, q110 ingest verify).
    */
  private def agreeExpr(a: String, b: String): Column =
    (0 until NumHashes)
      .map(i => when(col(s"$a.h$i") === col(s"$b.h$i"), 1).otherwise(0))
      .reduce(_ + _)

  private def h60(c: Column): Column = graft.functions.Hashing.h60(c)
  private def h60Sql(e: String): String = graft.functions.Hashing.h60Sql(e)

  /** Shared DuckDB CTE: the distinct (doc_id, token) sets, optionally
    * over a bounded doc subset.
    */
  private def tokCteWhere(where: String): String =
    s"""tok AS (SELECT DISTINCT doc_id, token FROM
      (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       FROM documents $where) x)"""
  private val tokCte = tokCteWhere("")

  /** Number of MinHash permutations; 4 bands x 4 rows (collision prob
    * J^4 per band keeps the candidate set near-dup-only on corpora with a
    * heavily shared vocabulary).
    */
  val NumHashes = 16
  val BandRows = 4
  // q149 collects band evidence as bit_or(shiftleft(1L, band)): one bit
  // per band in a long, and shiftleft wraps mod 64 past the 64th band.
  require(NumHashes / BandRows <= 64,
    s"${NumHashes / BandRows} bands do not fit q149's 64-bit band mask")
  val SimHashBits = 60

  /** Strongly-universal permutation family over Z_p (p = 2^31-1):
    * h_i(x1, x2) = (a_i*x1 + b_i*x2 + c_i) mod p, where (x1, x2) are two
    * independent 60-bit halves of ONE md5 per token (vs hashing 16
    * times). Each product term is reduced mod p before summing, so
    * signed-64 math never overflows and Spark and DuckDB agree exactly.
    * Constants are golden-ratio multiples — scattered, not linearly
    * correlated across i (a correlated family measurably degrades the
    * Jaccard estimate).
    */
  private[dedup] val P = graft.functions.Hashing.P
  private def scatter(k: BigInt): Long = (k mod BigInt(P)).toLong
  private[dedup] def permA(i: Int): Long =
    scatter(BigInt(i + 1) * BigInt("9E3779B97F4A7C15", 16)) | 1L
  private[dedup] def permB(i: Int): Long =
    scatter(BigInt(i + 1) * BigInt("C2B2AE3D27D4EB4F", 16)) | 1L
  private[dedup] def permC(i: Int): Long =
    scatter(BigInt(i) * BigInt("D6E8FEB86659FD93", 16) + 12345)

  /** w-token shingle sets: sliding windows of `w` consecutive tokens.
    * Shingles carry positional context (token SETS cannot tell permuted
    * documents apart) and make the similarity graph sparse on natural
    * corpora — the unit the MinHash literature actually banded.
    */
  def shingleSets(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $w
           THEN array_distinct(transform(sequence(0, size(toks) - $w),
                          i -> concat_ws(' ', slice(toks, i + 1, $w))))
           ELSE array() END""")).as("token"))

  /** Per-doc MinHash signatures (doc_id, h0..h15) over the `w`-token
    * shingles of each document's text (`w` = 1: its tokens): h_i is the
    * min over the shingle set of permutation i. The ONLY place
    * signatures are computed: every token- and shingle-unit query, the
    * persisted indexes, the ingest flows and the Streams sinks call it,
    * and the oracles' explode+groupBy CTEs ([[sigBandCtes]]) are its
    * reference.
    *
    * One fused [[graft.functions.MinHashSigs]] pass per row computes
    * every slot (no explode, no aggregate on doc_id), so this is a
    * stateless projection that also runs on a stream. Documents with
    * NULL text or fewer than `w` tokens get no row, as in the CTEs; the
    * filter tests the text before the kernel (a filter on the kernel's
    * output would be pushed below it and run it twice). The array is
    * materialized in its own projection and h0..h15 read its elements;
    * CollapseProject keeps a non-cheap expression referenced many times
    * un-inlined, so the digest pass runs once per row.
    *
    * The input is hash-partitioned by doc_id before the kernel: a scan
    * of a parquet file with one row group (every test table, and
    * documents.parquet at sf0.1) is ONE task, which would run the whole
    * kernel on one core. The partition count is explicit
    * (spark.sql.shuffle.partitions, the core count under GraftSession)
    * because AQE coalesces a sub-MB shuffle like this one back into a
    * single partition. The output is partitioned by doc_id, so a
    * downstream distinct/groupBy keyed on doc_id adds no exchange.
    */
  def signaturesOf(docs: DataFrame, w: Int): DataFrame = {
    val sigArr = graft.functions.MinHashOps.minhashSigs(
      split(col("text"), " "), w, P,
      (0 until NumHashes).map(permA),
      (0 until NumHashes).map(permB),
      (0 until NumHashes).map(permC))
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // split with limit w yields min(tokens, w) pieces; NULL text fails too
    docs.filter(col("text").isNotNull && size(split(col("text"), " ", w)) >= w)
      .repartition(parts, col("doc_id"))
      .withColumn("__sigs", sigArr)
      .select(col("doc_id") +:
        (0 until NumHashes).map(i => col("__sigs")(i).as(s"h$i")): _*)
  }

  /** (doc_id, band, bucket) LSH band entries of a signature table.
    * ONE posexplode over the per-band bucket array, not a per-band
    * unionAll: the union shape re-evaluates the whole signature
    * lineage once per band — 4x the md5/min work on every unpersisted
    * per-row path (the streaming/arrival side). Rows are identical:
    * pos IS the band index.
    */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val buckets = (0 until NumHashes / BandRows).map { b =>
      val cols = (b * BandRows until (b + 1) * BandRows).map(i => col(s"h$i"))
      concat_ws(",", cols: _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(buckets: _*)).as(Seq("band", "bucket")))
  }

  /** LSH candidate pairs from an already-materialized (doc_id, band,
    * bucket) table — the serve-side entry: the persisted index's band
    * parquet joins itself directly, no re-derivation from signatures.
    */
  private[dedup] def candidatesFromBands(bands: DataFrame): DataFrame = {
    val l = bands.as("l"); val r = bands.as("r")
    l.join(r, col("l.band") === col("r.band")
        && col("l.bucket") === col("r.bucket")
        && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Estimated Jaccard from signature agreement for candidate pairs.
    * Signatures are persisted: they feed the band buckets AND both sides
    * of the pair join — without the persist the signature build over
    * all tokens runs three times.
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(Tables.documents(s, d))

  def minhashPairsOf(docs: DataFrame): DataFrame =
    pairsFromSignatures(signaturesOf(docs, 1))

  private def pairsFromSignatures(signatures: DataFrame): DataFrame =
    pairsFromSignaturesUnsorted(signatures).orderBy("doc_a", "doc_b")

  /** Same pair list without the final global sort — the clustering
    * consumer feeds a CC solver for which order is irrelevant.
    */
  private[dedup] def pairsFromSignaturesUnsorted(signatures: DataFrame): DataFrame = {
    // scoped persist: it feeds the band buckets AND both sides of the
    // pair join; CacheScope bounds the lifetime (harness flushes between
    // queries) without localCheckpoint's extra materialization job.
    val sig = graft.CacheScope.retain(signatures)
    verifiedPairsFromBands(bandsOf(sig), sig)
  }

  /** The fused candidates+verify leg: band-bucket join, dedup of
    * multi-band pairs, and signature verification in ONE map-side pass
    * with NO pair exchange. candidatesFromBands pays a full distinct()
    * shuffle of the raw candidate list ((doc_a, doc_b) for every shared
    * band — 37 MB/run on q112 at sf0.1, the ONLY non-metadata exchange
    * in that plan) just to collapse pairs sharing several bands. The
    * signatures are already broadcast into the verify join, and a
    * band's bucket string (comma-joined decimal h slots) is equal IFF
    * its slots agree — so "this row's band is the pair's FIRST
    * agreeing band" is a per-row predicate over the joined signature
    * columns, and keeping exactly those rows yields one row per
    * distinct pair with no exchange at all (guide §2.4 "remove
    * shuffles outright"). The predicate checks the row's own band
    * slots too, so a bucket collision can never emit a pair twice.
    * Row set and est_jaccard are identical to
    * verifiedPairsFrom(candidatesFromBands(bands), sig).
    *
    * PRECONDITION (shared with [[verifiedPairsFrom]]): the signature
    * table must be duplicate-ROW-free, and the band table derives from
    * it. Every serving flow satisfies it: the served band table is
    * `bandsOf` of the served signatures, and the signature component
    * is built once (memoized builds) or advanced through FENCED batch
    * commits, with compaction restoring it otherwise. Duplicate
    * signature rows fan the verify join out (and their band rows each
    * pass the first-band predicate), so a duplicated artifact has no
    * correct reader on either path.
    */
  private[dedup] def verifiedPairsFromBands(bands: DataFrame,
      sig: DataFrame): DataFrame = {
    val l = bands.as("l"); val r = bands.as("r")
    val cand = l.join(r, col("l.band") === col("r.band")
        && col("l.bucket") === col("r.bucket")
        && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.band").as("band"))
    val a = sig.as("a"); val b = sig.as("b")
    val bandAgrees = (0 until NumHashes / BandRows).map { j =>
      (j * BandRows until (j + 1) * BandRows)
        .map(i => col(s"a.h$i") === col(s"b.h$i")).reduce(_ && _)
    }
    // true iff this row's own band agrees on every slot and no earlier
    // band does; rows failing it are the duplicate candidates the old
    // distinct() removed, or bucket collisions
    val isFirstAgreeingBand = coalesce(bandAgrees.indices.map { j =>
      when(col("band") === j,
        bandAgrees.take(j).map(e => !e).foldLeft(bandAgrees(j))(_ && _))
    }: _*)
    cand.join(a, col("doc_a") === col("a.doc_id"))
      .join(b, col("doc_b") === col("b.doc_id"))
      .filter(isFirstAgreeingBand)
      .select(col("doc_a"), col("doc_b"),
        round(agreeExpr("a", "b").cast("double") / NumHashes, 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** The verify leg shared by the recompute and the artifact-served
    * pair pipelines: estimated Jaccard from signature agreement over a
    * candidate list, thresholded at 0.5. `sig` should already be
    * retained by the caller — it feeds both sides of the join.
    */
  private[dedup] def verifiedPairsFrom(cand: DataFrame, sig: DataFrame): DataFrame = {
    val a = sig.as("a"); val b = sig.as("b")
    val agree = agreeExpr("a", "b")
    cand.join(a, col("doc_a") === col("a.doc_id"))
      .join(b, col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / NumHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Verified near-dup pairs SERVED FROM the persisted index at `path`
    * — the q117 discipline applied to the pair-graph dashboards
    * (q112/q149): signatures are a columnar parquet read, never
    * re-derived from corpus text, and the band buckets are a per-row
    * projection of them. Hash-identical to
    * [[minhashPairsOf]] over the same corpus (DedupIndexSpec pins the
    * parity); what changes is the suite's resident footprint — the
    * tokenize+hash lineage runs once at build time instead of being
    * recomputed and re-retained by every dashboard query.
    */
  private[dedup] def pairsFromIndexUnsorted(s: SparkSession,
      path: String): DataFrame =
    pairsFromSignaturesUnsorted(indexSignatures(s, path))

  def defs: Seq[Q] = Seq(
    // ---- exact dedup groups keyed by content hash. At scale: one shuffle
    // on the 128-bit hash, never on the full text.
    Q("q28_exact_dup_groups",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("fp", md5(col("text")))
          .groupBy("fp")
          .agg(count(lit(1)).as("n"), min("doc_id").as("canonical"))
          .orderBy("fp"),
      Some("""SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS canonical
             FROM documents GROUP BY 1 ORDER BY fp""")),

    // ---- exact token-set Jaccard of every doc vs doc 0 (the brute-force
    // ground truth the MinHash estimate is validated against in tests).
    Q("q29_jaccard_vs_doc0",
      (s, d) => {
        val toks = tokenSets(s, d)
        val t0 = toks.filter(col("doc_id") === 0).select(col("token").as("token0"))
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = toks.join(broadcast(t0), col("token") === col("token0"))
          .groupBy("doc_id").agg(count(lit(1)).as("ni"))
        val n0 = sizes.filter(col("doc_id") === 0).select(col("n").as("n0"))
        sizes.join(inter, Seq("doc_id"), "left")
          .crossJoin(broadcast(n0))
          .select(col("doc_id"),
            round(coalesce(col("ni"), lit(0L)).cast("double")
              / (col("n") + col("n0") - coalesce(col("ni"), lit(0L))), 6).as("jaccard"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT DISTINCT doc_id, token FROM
               (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) x),
             sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
             t0 AS (SELECT token FROM tok WHERE doc_id = 0),
             inter AS (SELECT tok.doc_id, count(*) AS ni FROM tok
                       JOIN t0 USING (token) GROUP BY tok.doc_id)
             SELECT s.doc_id,
             round(CAST(coalesce(ni, 0) AS DOUBLE) /
                   (s.n + (SELECT count(*) FROM t0) - coalesce(ni, 0)), 6) AS jaccard
             FROM sizes s LEFT JOIN inter USING (doc_id) ORDER BY doc_id""")),

    // ---- MinHash+LSH near-dup candidates. The h60 hash is computable in
    // DuckDB, so the full banded-LSH pipeline (signatures -> band buckets
    // -> candidate join -> estimate filter) is oracle-checked exactly.
    Q("q30_minhash_lsh_pairs", (s, d) => minhashPairs(s, d),
      Some(minhashOracleSql)),

    // ---- q120: fuzzy dedup with EDIT-DISTANCE verification — the
    // RefinedWeb/Gopher-style decision, as a staged CASCADE of
    // verifiers ordered by unit cost over STAR-CONTRACTED candidates:
    // each doc pairs only with the lowest-id member of its band
    // buckets (<= 4 edges per doc — LINEAR, the q50/q110 policy; an
    // all-pairs formulation is quadratic in twin-family size and
    // measured 6.5-7.5 s on this twin-heavy corpus where the verified
    // pair graph alone is 6.1M edges), signature agreement (16 int
    // compares) filters first, and only survivors pay exact
    // Levenshtein, accepted when the distance clears BOTH an absolute
    // cap and a relative bar (<= [[FuzzyEditFrac]] of the longer
    // text). The Spark side uses the THRESHOLDED levenshtein
    // (early-exit at [[FuzzyEditCap]]: O(cap·min(len)) per pair, not
    // O(len²)); -1 marks "exceeded" and is filtered. Output: every
    // doc with its keep flag — corpus-sized, never pair-sized.
    Q("q120_fuzzy_dedup",
      (s, d) => fuzzyDedupOf(Tables.documents(s, d)).orderBy("doc_id"),
      Some(fuzzyDedupOracleSql)),

    // ---- SimHash signatures (h60 per token, sign-sum per bit) —
    // oracle-checked bit-for-bit via the same cross-engine hash.
    Q("q36_simhash", (s, d) => simhash(s, d), Some(simhashOracleSql)),

    // ---- 3-token-shingle MinHash pairs over the FULL corpus: shingles
    // make the similarity graph sparse (shared vocabulary no longer
    // collides — only shared phrases do), so no doc bound is needed.
    // The shingle -> minhash -> band pipeline runs ONCE into the
    // persisted shingle index ([[servedShingleDedupIndex]]); the
    // declared query serves the bucket-join + verify legs from its
    // columnar signature table (the q112/q149 discipline).
    Q("q51_shingle_minhash_pairs",
      (s, d) => pairsFromIndexUnsorted(s,
          servedShingleDedupIndex(s, Tables.documents(s, d), d))
        .orderBy("doc_a", "doc_b"),
      Some(shingleOracleSql)),

    // ---- end-to-end near-dup clustering over the FULL corpus:
    // star-contracted LSH candidate edges + per-edge signature
    // verification + connected components (the topology CC solver);
    // cluster id = min doc_id, canonical = the kept representative. The
    // CC input is linear in corpus size by construction — no doc bound.
    // Oracle: the identical contraction + a recursive CTE.
    Q("q50_dedup_clusters", (s, d) => dedupClusters(s, d),
      Some(starClustersOracleSql)),

    // ---- q95: EXACT pairwise-threshold clustering (CC over the est>=0.5
    // pair graph) on the full corpus, built on shingle signatures — the
    // unit whose threshold graph is sparse on natural text, so the
    // quadratic-per-bucket pair expansion (and the oracle's recursive
    // CTE) stays feasible without any doc bound. Pair edges come from
    // the SAME persisted shingle index q51 serves from.
    Q("q95_shingle_dedup_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        dedupClustersFromIndex(docs,
          servedShingleDedupIndex(s, docs, d))
          .orderBy("doc_id")
      },
      Some(shingleClustersOracleSql)),

    // ---- q99: keep-best dedup — clusters + quality score, per-cluster
    // argmax: the production reducer where the highest-quality copy
    // survives and min-doc_id is only the tiebreak.
    Q("q99_dedup_keep_best", (s, d) => dedupKeepBest(s, d),
      Some(keepBestOracleSql)),

    // ---- exact set-similarity join with prefix filtering (PPJoin
    // family): the oracle is the brute-force O(n²) pair scan — the
    // prefix-candidate path must reproduce it exactly.
    Q("q67_setsim_prefix_join",
      (s, d) => setSimJoinFromSets(
          graft.CacheScope.retain(tokenSetArraysOf(
            Tables.documents(s, d).filter(col("doc_id") < SetSimDocLimit))),
          SetSimT)
        .orderBy("doc_a", "doc_b"),
      Some(setSimOracleSql)),

    // ---- SimHash near-dup pairs: 4x15-bit band buckets + exact hamming
    // verify (pigeonhole-exact for distance <= 3); oracle is the
    // brute-force quadratic scan over the same subset.
    Q("q68_simhash_hamming_pairs",
      (s, d) => simhashHammingPairs(
          Tables.documents(s, d).filter(col("doc_id") < HamDocLimit))
        .orderBy("doc_a", "doc_b"),
      Some(hammingOracleSql)),

    // ---- embedding-cosine near-dup: top-20 most-similar pairs within a
    // bounded id range (the corpus has no true near-dups; max cos ~0.47).
    // Exact arithmetic mirrored in DuckDB; rank on the rounded value.
    Q("q37_embedding_dup_pairs",
      (s, d) => {
        val flat = graft.Tables.embeddings(s, d)
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
          .withColumn("v", col("v").cast("double"))
        val norms = flat.groupBy("vec_id").agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
        val b = flat.select(col("vec_id").as("vb"), col("i").as("ib"), col("v").as("wv"))
        val dots = flat.join(b, col("i") === col("ib") && col("vec_id") < col("vb"))
          .groupBy(col("vec_id").as("va"), col("vb"))
          .agg(sum(col("v") * col("wv")).as("dot"))
        val na = norms.select(col("vec_id").as("va"), col("nrm").as("na"))
        val nb = norms.select(col("vec_id").as("vb"), col("nrm").as("nb"))
        dots.join(na, "va").join(nb, "vb")
          .select(col("va"), col("vb"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("va"), col("vb"))
          .limit(20)
      },
      Some("""WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
               SELECT vec_id, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id < 300) x),
             norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
             dots AS (SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v*b.v) AS dot
                      FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
                      GROUP BY 1, 2)
             SELECT va, vb, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
             FROM dots JOIN norms na ON va = na.vec_id
             JOIN norms nb ON vb = nb.vec_id
             ORDER BY cos_sim DESC, va, vb LIMIT 20""")),

    // ---- q100: WEIGHTED sparse cosine pairs via inverted-index join —
    // the missing tier of the similarity ladder (dense exact = q31, set
    // exact = q67, set approx = q30): tf-idf-weighted token vectors,
    // doc pairs scored through the shared-token posting join, never an
    // all-pairs scan. The df table is the only corpus-wide data; the
    // pair join is bounded by shared-term postings. Bounded to doc_id <
    // 400 because the synthetic corpus's shared vocabulary makes the
    // posting join quadratic-dense there (a natural corpus prunes it) —
    // same rationale as q67's bound. Ranking/threshold on the ROUNDED
    // cosine (suite convention) so cross-engine ulps cannot flip rows.
    Q("q100_sparse_cosine_pairs",
      (s, d) => sparseCosinePairs(
          Tables.documents(s, d).filter(col("doc_id") < SparseCosDocLimit),
          SparseCosT)
        .orderBy("doc_a", "doc_b"),
      Some(sparseCosOracleSql(s"WHERE doc_id < $SparseCosDocLimit", SparseCosT))),

    // ---- q106: tf-idf cosine pairs with NO doc bound, on SHINGLE
    // units. q100's bound exists because the corpus's 31-token shared
    // vocabulary makes EVERY doc dense over every token dimension —
    // no inverted-index method (not even All-Pairs prefix filtering)
    // can prune a space with no rare features, in either engine. The
    // scale answer is the same one q95 uses for exact clustering:
    // change the unit to w-token shingles, whose vocabulary is large
    // and postings sparse (max df 25 at sf0.1 vs 3.9k for tokens), so
    // the full corpus runs unbounded in both engines and the twin
    // pairs separate cleanly (twins >= 0.8, noise < 0.5 cosine).
    // Caveat shared by every exact pair ENUMERATOR (q95's note): on a
    // k-fold twin-replicated corpus the qualifying OUTPUT itself grows
    // k² — heavy duplication belongs to the clustering reducers (q50),
    // which stay linear by contraction; the pair list is the audit
    // view for corpora where near-dups are the exception.
    Q("q106_sparse_cosine_full",
      (s, d) => {
        val docs = Tables.documents(s, d)
        sparseCosinePairsOf(shingleOccurrences(docs, ShingleW),
            docs.agg(count(lit(1)).as("n_docs")), SparseCosFullT)
          .orderBy("doc_a", "doc_b")
      },
      Some(sparseCosShingleOracleSql)),

    // ---- q105: the exact prefix-filtered set-similarity join (q67's
    // operator) with NO doc bound, on SHINGLE sets. Token sets cannot
    // be un-bounded on this corpus in ANY engine: the 31-token
    // vocabulary makes token sets near-complete, so the >= t OUTPUT is
    // itself quadratic (35k identical-set pairs at sf0.1) — an
    // ill-posed unit, not a plan problem. Shingle sets discriminate
    // (twins >= 0.8 jaccard, noise < 0.5), so both the prefix-filtered
    // plan and the brute-force oracle run the full corpus.
    Q("q105_setsim_full",
      (s, d) => setSimJoinFromSets(
          graft.CacheScope.retain(
            shingleSetArraysOf(Tables.documents(s, d), ShingleW)),
          SetSimFullT)
        .orderBy("doc_a", "doc_b"),
      Some(withShingleTok(setSimOracleSqlAt("", SetSimFullT)))),

    // ---- q104: MEASURE the star-contraction recall trade. The q50
    // policy verifies candidate edges member-vs-bucket-representative
    // (linear CC input); the q95 policy verifies every candidate PAIR
    // (exact, but quadratic per bucket). Run BOTH on the same unit
    // (shingle signatures) and compare the partitions pair-wise:
    // split_pairs = together under exact but separated by star (the
    // recall loss), merged_pairs = together under star only (0 by
    // construction: star edges are a subset-connectivity of the same
    // verified relation — nonzero would flag a bug). One row out; the
    // documented trade (DedupQueries star-verification note) becomes a
    // hash-checked number.
    Q("q104_cluster_policy_compare",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // both policies serve from the SAME persisted shingle index as
        // q51/q95 — the signature lineage is built once per corpus
        val idx = servedShingleDedupIndex(s, docs, d)
        val star = dedupClustersStarFromIndex(docs, idx)
          .select(col("doc_id"), col("cluster").as("cs"))
        val ex = dedupClustersFromIndex(docs, idx)
          .select(col("doc_id"), col("cluster").as("ce"))
        val j = graft.CacheScope.retain(star.join(ex, "doc_id"))
        def pairCount(keys: Seq[String], out: String) =
          j.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
            .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as(out))
        pairCount(Seq("ce"), "pairs_exact")
          .crossJoin(pairCount(Seq("cs"), "pairs_star"))
          .crossJoin(pairCount(Seq("cs", "ce"), "pairs_both"))
          .select(col("pairs_exact"), col("pairs_star"), col("pairs_both"),
            (col("pairs_exact") - col("pairs_both")).as("split_pairs"),
            (col("pairs_star") - col("pairs_both")).as("merged_pairs"))
      },
      Some(clusterPolicyOracleSql)),

    // ---- q101: batch twin of the STREAMING incremental near-dup path
    // (Streams.nearDupCandidatesStream): "arriving" docs (upper half of
    // the corpus) band-bucket-joined against the "existing" corpus index
    // (lower half), both signed by the stream-safe [[signaturesOf]].
    // The oracle rebuilds bands via the explode+groupBy CTEs (DedupSpec
    // pins signaturesOf's bit-parity with that form), so this
    // hash-checks the whole streaming join end-to-end.
    Q("q101_neardup_arrivals",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val split = NeardupArrivalSplit
        graft.streaming.Streams.nearDupCandidatesStream(
            docs.filter(col("doc_id") >= split),
            bandsOf(signaturesOf(docs.filter(col("doc_id") < split), 1)))
          .distinct()
          .orderBy("doc_id", "corpus_doc", "band")
      },
      Some(s"""WITH ${sigBandCtes("")},
         inc AS (SELECT doc_id, band, bucket FROM bands
                 WHERE doc_id >= $NeardupArrivalSplit),
         corp AS (SELECT doc_id AS corpus_doc, band, bucket FROM bands
                  WHERE doc_id < $NeardupArrivalSplit)
         SELECT DISTINCT inc.doc_id, corp.corpus_doc, inc.band
         FROM inc JOIN corp USING (band, bucket)
         ORDER BY doc_id, corpus_doc, band""")),

    // ---- q110: the incremental-ingest dedup flow COMPOSED end to end:
    // arriving docs (upper split, as q101) band-join the existing
    // corpus index AND each other for candidates, candidates verify by
    // signature agreement (est >= 0.5), and the corpus snapshot
    // advances — existing docs stay, unique arrivals append, near-dup
    // arrivals drop. q101 -> verify -> upsert in one plan: how a
    // deduped training corpus is maintained day over day.
    //
    // Scale shape of each leg: both sides sign through [[signaturesOf]]
    // (one doc_id hash exchange spreads the kernel over every core, no
    // aggregation before the band join); the corpus side is retained
    // for the band join and the verify join. The intra-batch leg is
    // STAR-CONTRACTED like q50: each arrival band
    // bucket contracts to member -> min-arrival edges, so the leg is
    // linear in band entries even when twins flood one bucket — never
    // the O(|bucket|²) pairwise self-join.
    //
    // Drop policy, precisely: an arrival drops when it near-dups the
    // corpus OR the LOWEST-id arrival of any band bucket it occupies.
    // Two conscious divergences from a sequential one-at-a-time greedy,
    // both shared with the oracle so parity holds: (a) an arrival can
    // drop against an arrival that was itself dropped (near-duplication
    // is not transitive, so the advanced corpus may retain nothing
    // similar to it); (b) verification is member-vs-bucket-representative,
    // not member-vs-every-lower-arrival — the q50 recall trade that
    // keeps the leg linear (multiple independent bands keep misses
    // rare). Batch members of one near-dup family share buckets with
    // the family minimum, which is exactly the doc the greedy would
    // have admitted first.
    Q("q110_incremental_ingest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sigCorp = graft.CacheScope.retain(signaturesOf(
          docs.filter(col("doc_id") < NeardupArrivalSplit), 1))
        incrementalIngest(docs, NeardupArrivalSplit, sigCorp)
      },
      Some(incrementalIngestOracleSql)),

    // ---- q117: the q110 ingest flow SERVED FROM THE PERSISTED INDEX
    // artifact — corpus signatures read back from the parquet the
    // build step wrote (band entries derived from them), never
    // recomputed from raw text.
    // This is the artifact lifecycle a 100 TB deployment runs: ONE
    // index-build job per corpus snapshot ([[buildDedupIndex]],
    // the fit-once shape of fitIvfQuantizer), then every ingest batch /
    // dedup query is a columnar scan of the index plus per-row
    // signatures on the (small) arrival side only. The artifact is
    // built ONCE per corpus per JVM ([[servedDedupIndex]]) — so
    // Bench's min-of-3 measures the serve-only cost, the number the
    // artifact exists to demonstrate — and output is IDENTICAL to
    // q110 (same oracle): the artifact-read path and the recompute
    // path must agree bit-for-bit, and DedupIndexSpec also asserts it
    // frame-to-frame.
    Q("q117_indexed_ingest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val idx = servedDedupIndex(s, docs, d)
        incrementalIngest(docs, NeardupArrivalSplit,
          graft.CacheScope.retain(indexSignatures(s, idx)))
      },
      Some(incrementalIngestOracleSql)),

    // ---- q119: the FULL index lifecycle — build, serve, ADVANCE,
    // serve again. Phase 1 ingests batch 1 (ids in [split, split2))
    // against the built artifact; the batch's admission decision is
    // committed (eager localCheckpoint — the in-engine stand-in for a
    // pipeline's batch-output commit, which must precede the index
    // mutation); [[advanceDedupIndex]] appends the admitted docs'
    // signatures; phase 2 ingests batch 2 (ids >= split2)
    // against the ADVANCED artifact, so a batch 2 arrival drops
    // against original corpus AND admitted batch 1 docs — but never
    // against a batch 1 doc that was itself dropped. Dropped arrivals
    // emit no rows (q110's contract). A fresh (non-memoized) index dir
    // per call: advance MUTATES the artifact, so sharing q117's
    // serve-only copy would poison it.
    Q("q119_advance_ingest",
      (s, d) => advanceIngestFlow(s, Tables.documents(s, d),
        NeardupArrivalSplit, AdvanceSplit2),
      Some(advanceIngestOracleSql)),

    // ---- q112: cross-source duplication matrix — for every unordered
    // source pair, how many verified near-dup pairs (est >= 0.5) span
    // it. The curation dashboard number that decides which feeds to
    // drop or de-prioritize; one aggregation over the banded pair
    // graph, SERVED from the persisted full-corpus dedup index
    // ([[servedFullDedupIndex]]) — the dashboard reads columnar
    // signature parquet instead of being the suite's third
    // from-scratch LSH recompute (retained recomputes like these
    // were measured detonating 4-10x under heap pressure).
    Q("q112_source_overlap",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val idx = servedFullDedupIndex(s, docs, d)
        val src = docs.select(col("doc_id"), col("source"))
        pairsFromIndexUnsorted(s, idx)
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("sb")), "doc_b")
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH ${minhashCtes("")},
         sp AS (SELECT da.source AS sa, db.source AS sb
                FROM pairs p JOIN documents da ON p.doc_a = da.doc_id
                             JOIN documents db ON p.doc_b = db.doc_id)
         SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
                count(*) AS n_pairs
         FROM sp GROUP BY 1, 2 ORDER BY source_a, source_b""")),

    // ---- q179: TRAIN/VAL SPLIT LEAKAGE AUDIT — the check a training-
    // data team runs before shipping a split (the Lee et al. 2022
    // motivation: near-duplicate leakage across the train/eval
    // boundary silently inflates eval scores): every verified near-dup
    // pair (the q30 graph, est >= 0.5) whose endpoints land in
    // DIFFERENT q75 splits, normalized to (train_doc, val_doc) with
    // the pair's estimated Jaccard — the rows a release gate either
    // empties (move/drop one side) or blocks on. Composition is free
    // at scale: the split is a pure hash of doc_id (a projection, no
    // exchange), the pair graph is SERVED from the persisted dedup
    // index (q112's discipline — no third LSH recompute in the suite),
    // and the leak filter is pair-bounded.
    Q("q179_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val idx = servedFullDedupIndex(s, docs, d)
        val split = docs.select(col("doc_id"),
          when(graft.functions.Hashing.h60(
            concat(lit("doc-"), col("doc_id"))) % 100 < 90, "train")
            .otherwise("val").as("split"))
        pairsFromIndexUnsorted(s, idx)
          .join(split.select(col("doc_id").as("doc_a"),
            col("split").as("sa")), "doc_a")
          .join(split.select(col("doc_id").as("doc_b"),
            col("split").as("sb")), "doc_b")
          .filter(col("sa") =!= col("sb"))
          .select(
            when(col("sa") === "train", col("doc_a"))
              .otherwise(col("doc_b")).as("train_doc"),
            when(col("sa") === "train", col("doc_b"))
              .otherwise(col("doc_a")).as("val_doc"),
            col("est_jaccard"))
          .orderBy("train_doc", "val_doc")
      },
      Some(s"""WITH ${minhashCtes("")},
         sp AS (SELECT doc_id,
                  CASE WHEN ${graft.functions.Hashing
                    .h60Sql("concat('doc-', doc_id)")} % 100 < 90
                       THEN 'train' ELSE 'val' END AS split
                FROM documents)
         SELECT CASE WHEN sa.split = 'train' THEN p.doc_a ELSE p.doc_b END
                  AS train_doc,
                CASE WHEN sa.split = 'train' THEN p.doc_b ELSE p.doc_a END
                  AS val_doc,
                p.est_jaccard
         FROM pairs p JOIN sp sa ON p.doc_a = sa.doc_id
                      JOIN sp sb ON p.doc_b = sb.doc_id
         WHERE sa.split <> sb.split
         ORDER BY train_doc, val_doc""")),

    // ---- q182: SPLIT HEAL — the remediation step after the q179
    // audit: every VAL doc that near-dups a TRAIN doc is DROPPED from
    // the shipped split. Dropping (not reassigning) is the policy with
    // a provable post-condition: a pair involving a dropped doc
    // vanishes, and any surviving train/val pair would mean its val
    // side was leaked and dropped — contradiction — so ZERO cross-
    // split near-dup pairs survive in one pass (reassigning val→train
    // can mint NEW leaks against other val docs and needs a fixpoint
    // loop; DedupSpec pins the invariant). Output: every doc with its
    // original split, whether it participated in a leak (train sides
    // flagged too — the audit trail), and its final disposition.
    // Same scale shape as q179 plus one doc-keyed left-semi join.
    Q("q182_split_heal",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val idx = servedFullDedupIndex(s, docs, d)
        val split = docs.select(col("doc_id"),
          when(graft.functions.Hashing.h60(
            concat(lit("doc-"), col("doc_id"))) % 100 < 90, "train")
            .otherwise("val").as("split"))
        // retained: the two union arms below would otherwise each
        // re-evaluate the whole pair join (measured 9x in forced mode)
        val pairs = graft.CacheScope.retain(
          pairsFromIndexUnsorted(s, idx)
            .join(split.select(col("doc_id").as("doc_a"),
              col("split").as("sa")), "doc_a")
            .join(split.select(col("doc_id").as("doc_b"),
              col("split").as("sb")), "doc_b")
            .filter(col("sa") =!= col("sb")))
        val leakedIds = pairs.select(col("doc_a").as("doc_id"))
          .unionAll(pairs.select(col("doc_b").as("doc_id")))
          .distinct()
        split
          .join(leakedIds.withColumn("lk", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("split"),
            coalesce(col("lk"), lit(false)).as("leaked"),
            when(col("split") === "val" && coalesce(col("lk"), lit(false)),
              lit("dropped")).otherwise(col("split")).as("final_split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${minhashCtes("")},
         sp AS (SELECT doc_id,
                  CASE WHEN ${graft.functions.Hashing
                    .h60Sql("concat('doc-', doc_id)")} % 100 < 90
                       THEN 'train' ELSE 'val' END AS split
                FROM documents),
         cp AS (SELECT p.doc_a, p.doc_b
                FROM pairs p JOIN sp sa ON p.doc_a = sa.doc_id
                             JOIN sp sb ON p.doc_b = sb.doc_id
                WHERE sa.split <> sb.split),
         lk AS (SELECT doc_a AS doc_id FROM cp
                UNION SELECT doc_b FROM cp)
         SELECT sp.doc_id, sp.split,
           sp.doc_id IN (SELECT doc_id FROM lk) AS leaked,
           CASE WHEN sp.split = 'val'
                  AND sp.doc_id IN (SELECT doc_id FROM lk)
                THEN 'dropped' ELSE sp.split END AS final_split
         FROM sp ORDER BY sp.doc_id""")),

    // ---- q97: exact duplicated-substring detection — the suffix-free
    // Spark shape of "Deduplicating Training Data Makes Language Models
    // Better" (Lee et al. 2022): every w-token window is hashed (h60),
    // a window occurrence is DUPLICATED iff its hash occurs >= 2 times
    // corpus-wide, and each doc reports its duplicated-window count and
    // fraction. Two shuffles, both on the 60-bit hash / doc_id — the
    // per-(doc, hash) pre-aggregation combines map-side, so the global
    // count join touches distinct hashes per doc, never raw occurrences.
    Q("q97_dup_ngram_stats",
      (s, d) => dupNgramStats(Tables.documents(s, d), DupW),
      Some(dupNgramOracleSql)),

    // ---- q152: exact-substring span REMOVAL — the other half of the
    // Lee et al. contract q97 only measures: every duplicated w-token
    // window occurrence EXCEPT the corpus-first one (min (doc_id, pos)
    // per window content) is cut, overlapping cut windows merge into
    // maximal spans (gaps-and-islands), and each doc emits its cleaned
    // text. (Standard ExactSubstr boundary behavior: a kept first
    // window can still lose tail tokens to an overlapping removable
    // span — e.g. intra-doc runs like "a a a a" — so the guarantee is
    // per-OCCURRENCE, not one-surviving-copy-per-region.)
    // Shuffles: one hash-keyed agg (map-side-combined min,
    // so mega-duplicated boilerplate collapses in the mapper before the
    // exchange), one hash join back, one doc-keyed window; reassembly
    // is a doc-local O(n) fold over the span list — the raw token
    // stream is never exploded or re-grouped.
    Q("q152_dup_span_removal",
      (s, d) => dupSpanRemoval(Tables.documents(s, d), DupW)
        .orderBy("doc_id"),
      Some(dupSpanRemovalOracleSql)),

    // ---- q154: span scrubbing AT INGEST, served from the persisted
    // n-gram window index — arriving docs lose every span the corpus
    // already contains (build -> serve here; the ADVANCE append is
    // DedupSpec-pinned through a two-batch flow). The arrival-side
    // window stream semi-joins the columnar artifact; per-JVM memoized
    // build, so bench min-of-3 measures the serve-only cost.
    Q("q154_ingest_span_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d)
        spanScrubAgainstIndex(s,
          docs.filter(col("doc_id") >= NeardupArrivalSplit),
          servedNgramIndex(s, docs, d), DupW).orderBy("doc_id")
      },
      Some(ingestSpanScrubOracleSql)),

    // ---- q155: span-level benchmark DECONTAMINATION — q78 flags the
    // doc, this cuts exactly the contaminated 13-gram spans and keeps
    // the rest (see [[decontaminationSpanScrub]]). The benchmark gram
    // set is tiny -> broadcast semi join; everything else is q152's
    // islands machinery.
    Q("q155_decontamination_scrub",
      (s, d) => decontaminationSpanScrub(Tables.documents(s, d),
        graft.text.TextQueries.DecontamW).orderBy("doc_id"),
      Some(decontamScrubOracleSql)),

    // ---- q156: n-gram index COMPACTION — the maintenance stage of the
    // q154 lifecycle. Advance is a pure append, so replayed batches
    // (the at-least-once sink caveat) bloat the artifact with duplicate
    // hash rows and small files; compaction rewrites the distinct set
    // under v2 behind the atomic version pointer and provably changes
    // nothing a set-semantics consumer can see. See
    // [[indexCompactionFlow]]; the oracle derives every count and the
    // post-compaction re-scrub from the same set algebra.
    Q("q156_index_compaction",
      (s, d) => indexCompactionFlow(s, Tables.documents(s, d),
        NeardupArrivalSplit, DupW),
      Some(indexCompactionOracleSql)),

    // ---- q124: CORPUS-WIDE SEGMENT DEDUP (the C4/CCNet paragraph rule,
    // on deterministic fixed-width segmentation since the synthetic
    // corpus has no newline structure): every doc is cut into
    // non-overlapping [[SegW]]-token segments, a segment survives only
    // at its FIRST corpus occurrence (ordered by doc_id, then position),
    // and each doc reports its segment count, survivors, and the
    // reassembled deduplicated text. One shuffle, hash-partitioned on
    // segment text — the window's per-partition groups are dup-family
    // sized (tiny), so at 100 TB this is exactly the word-count shape:
    // no pair joins, no quadratic term, skew bounded by the most-copied
    // boilerplate segment (which is the thing being deleted).
    Q("q124_segment_dedup",
      (s, d) => segmentDedupOf(Tables.documents(s, d)).orderBy("doc_id"),
      Some(segmentDedupOracleSql)),

    // ---- q125: CONTAINMENT near-dup pairs — |S_a ∩ S_b| / |S_a| >=
    // [[ContainT]] over distinct 3-token shingles. The ASYMMETRIC
    // companion of Jaccard (q105): it fires when a short doc is wholly
    // embedded in a longer one (quote, concatenation, page-with-chrome),
    // which symmetric Jaccard misses because the union is dominated by
    // the longer side. Ordered pairs out, both directions scored.
    // Candidate generation is the shingle posting-list equi-join (cost
    // Σ df² over shingles, linear on natural text where long postings
    // are rare phrases — the q105/q106 cost model, documented there).
    Q("q125_containment_pairs",
      (s, d) => containmentPairsOf(
          graft.CacheScope.retain(
            shingleSets(Tables.documents(s, d), ShingleW)), ContainT)
        .orderBy("doc_a", "doc_b"),
      Some(containmentOracleSql)),

    // ---- q138: SOURCE-LEVEL SKETCH UNION — MinHash MERGEABILITY as a
    // first-class operator: per-doc signatures merge into per-SOURCE
    // signatures by element-wise min (min over a union = min over the
    // mins), giving the cross-source estimated-Jaccard dashboard from
    // metadata-sized state. The oracle computes each source's sketch
    // DIRECTLY from its union token set — hash-equality of the two
    // routes IS the mergeability proof, cross-engine. The 100 TB
    // story: doc sketches fold into source sketches map-side (a
    // 16-long buffer per group), so corpus-pair similarity costs one
    // tiny aggregation — never a token-level cross-source join. The
    // exact-Jaccard calibration audit ([[exactSourceJaccardOf]]) is
    // deliberately NOT part of the declared query: it is a token-level
    // cross-source join, a calibration-time check (QueriesSpec), never
    // the steady-state path — so every source pair appears in the
    // dashboard (an inner join to the exact table would drop a
    // zero-token-overlap pair, exactly where the estimate is most
    // misleading).
    // ---- q149: NEAR-DUP EXPLAIN — for every verified q30 pair, WHICH
    // bands collided (the evidence trail): the dedup-QA surface that
    // answers "why were these two merged" without rerunning anything
    // by hand. One extra equi-join of the pair list against the band
    // table per side — pair-bounded, never corpus-quadratic; the band
    // list is emitted as a sorted comma string so both engines hash
    // identically. Signatures come from the persisted full-corpus
    // index (the q117 serve discipline) and the bands are a per-row
    // projection of them: the retained frame is a cheap columnar
    // parquet read, not a fourth resident copy of the tokenize+hash
    // lineage.
    Q("q149_neardup_explain",
      (s, d) => {
        val idx = servedFullDedupIndex(s, Tables.documents(s, d), d)
        val sig = graft.CacheScope.retain(indexSignatures(s, idx))
        val bands = bandsOf(sig)
        // ONE band-collision join, immediately rolled up to PAIR
        // granularity — the aggregated evidence rows feed both the
        // candidate list and the final join, so the band-granularity
        // collision stream is shuffled exactly once (re-joining
        // verified pairs against per-band rows and re-grouping, the
        // old shape, shuffled the same evidence twice)
        // band evidence as a BIT MASK: collect_set+countDistinct
        // planned an ObjectHashAggregate chain (object buffers + a
        // distinct Expand) over the ~2.3M-candidate pair stream —
        // measured 25-36 s / 250 s task-GC / 258 MB spill on the
        // uncached first run. A band index is 0..NumBands-1, so
        // bit_or(1L << band) is a codegen'd long-buffer aggregate with
        // map-side partials, and the sorted distinct band string /
        // count derive from the mask per PAIR row (concat_ws skips
        // the null whens; bit_count is exact) — value-identical.
        val bc = graft.CacheScope.retain(
          bands.as("l").join(bands.as("r"),
            col("l.band") === col("r.band")
              && col("l.bucket") === col("r.bucket")
              && col("l.doc_id") < col("r.doc_id"))
            .select(col("l.doc_id").as("doc_a"),
              col("r.doc_id").as("doc_b"), col("l.band").as("band"))
            .groupBy("doc_a", "doc_b")
            .agg(expr("bit_or(shiftleft(1L, band))").as("mask")))
        val sharedBands = concat_ws(",", (0 until NumHashes / BandRows)
          .map(bd => when(col("mask").bitwiseAND(lit(1L << bd)) > 0,
            lit(bd.toString))): _*)
        verifiedPairsFrom(bc.select("doc_a", "doc_b"), sig)
          .join(bc, Seq("doc_a", "doc_b"))
          .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
            sharedBands.as("shared_bands"),
            bit_count(col("mask")).cast("long").as("n_shared"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minhashCtes("")},
           sb AS (SELECT p.doc_a, p.doc_b, p.est_jaccard, l.band
                  FROM pairs p
                  JOIN bands l ON p.doc_a = l.doc_id
                  JOIN bands r ON p.doc_b = r.doc_id
                   AND l.band = r.band AND l.bucket = r.bucket)
           SELECT doc_a, doc_b, est_jaccard,
             array_to_string(list_sort(list(DISTINCT band)), ',')
               AS shared_bands,
             CAST(count(DISTINCT band) AS BIGINT) AS n_shared
           FROM sb GROUP BY 1, 2, 3 ORDER BY doc_a, doc_b""")),

    // ---- q148: the cost-ordered dedup CASCADE (exact -> MinHash ->
    // semantic), each stage deciding only among the previous stage's
    // survivors — see [[dedupCascadeOf]] for the semantics and the
    // stage-filter equivalence argument.
    Q("q148_dedup_cascade",
      (s, d) => dedupCascadeOf(Tables.documents(s, d),
        graft.Tables.embeddings(s, d)).orderBy("doc_id"),
      Some {
        import graft.similarity.SimilarityQueries
        s"""WITH ${minhashCtes(
          "WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))")},
           ${SimilarityQueries.clusterCosineCteSql},
           s1 AS (SELECT doc_id, row_number() OVER (
                    PARTITION BY md5(text) ORDER BY doc_id) AS rn
                  FROM documents),
           ed AS (SELECT doc_id FROM s1 WHERE rn > 1),
           sv1 AS (SELECT doc_id FROM s1 WHERE rn = 1),
           nd AS (SELECT DISTINCT greatest(doc_a, doc_b) AS doc_id
                  FROM pairs),
           sv2 AS (SELECT doc_id FROM sv1
                   WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
           sd AS (SELECT DISTINCT greatest(va, vb) AS doc_id FROM half
                  WHERE cos >= ${SimilarityQueries.SemT}
                    AND va IN (SELECT doc_id FROM sv2)
                    AND vb IN (SELECT doc_id FROM sv2))
           SELECT d.doc_id,
             CASE WHEN d.doc_id IN (SELECT doc_id FROM ed)
                    THEN 'exact_dup'
                  WHEN d.doc_id IN (SELECT doc_id FROM nd)
                    THEN 'near_dup'
                  WHEN d.doc_id IN (SELECT doc_id FROM sd)
                    THEN 'semantic_dup'
                  ELSE 'kept' END AS status
           FROM documents d ORDER BY doc_id"""
      }),

    Q("q138_source_sketch_union",
      (s, d) => sourceSketchUnionOf(Tables.documents(s, d))
        .orderBy("src_a", "src_b"),
      Some {
        val mins = (0 until NumHashes).map(i =>
          s"min((x1 * ${permA(i)} % $P + x2 * ${permB(i)} % $P + ${permC(i)}) % $P) AS h$i")
          .mkString(",\n  ")
        s"""WITH stok AS (SELECT DISTINCT source, token FROM
             (SELECT source, unnest(string_split(text, ' ')) AS token
              FROM documents) x),
           hb AS (SELECT source,
                  CAST(concat('0x', substr(md5(token),1,15)) AS BIGINT) % $P AS x1,
                  CAST(concat('0x', substr(md5(token),17,15)) AS BIGINT) % $P AS x2
                  FROM stok),
           ssig AS (SELECT source, $mins FROM hb GROUP BY source)
           SELECT a.source AS src_a, b.source AS src_b,
             round(CAST($agreeSql AS DOUBLE) / $NumHashes, 4) AS est_jaccard
           FROM ssig a JOIN ssig b ON a.source < b.source
           ORDER BY src_a, src_b"""
      })
  )

  /** q148's body: the COST-ORDERED DEDUP CASCADE — exact (content
    * hash) -> MinHash near-dup -> semantic (embedding cosine), each
    * stage deciding only among the PREVIOUS stage's survivors, each
    * doc labeled with the first stage that drops it. This is the
    * production architecture: cheap stages shrink the population the
    * expensive ones see. The MinHash stage runs on stage-1 SURVIVORS
    * only (signatures are per-doc and an exact-dup's surviving twin
    * carries the identical signature, so nothing is lost); the
    * semantic stage reuses the q111 cluster-bounded pairs corpus-wide
    * — its pair space is linear by construction regardless, and the
    * stride-seed geometry must not shift with survivorship — filtered
    * to survivor-survivor pairs (per-pair evidence depends only on
    * the two endpoints, so this equals a survivor-only recompute
    * under fixed geometry). Drop rule per stage: a doc
    * with any verified partner of SMALLER id drops (the q110 arrival
    * rule, corpus-wide). Docs without an embedding row simply cannot
    * be semantic dups — both engines agree by construction.
    */
  private def dedupCascadeOf(docs: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage 1 shuffles (doc_id, content hash) — ~40 bytes/row — not
    // full documents: nothing downstream reads s1's text (signatures
    // re-join `docs` by id), so projecting before the window's
    // exchange keeps the corpus's byte mass out of both the shuffle
    // and the retained cache
    val rn = row_number()
      .over(Window.partitionBy("th").orderBy("doc_id"))
    val s1 = graft.CacheScope.retain(
      docs.select(col("doc_id"), md5(col("text")).as("th"))
        .withColumn("exact_dup", rn =!= 1)
        .select("doc_id", "exact_dup"))
    val surv1 = s1.filter(!col("exact_dup")).select("doc_id")
    // signatures for STAGE-1 SURVIVORS ONLY — the cascade's whole cost
    // argument: on a copy-heavy corpus the exact stage absorbs the
    // blowup and the banded machinery (where replicated text means
    // mega-buckets) never sees it. Equivalent to corpus-wide pairs
    // filtered to survivors: pair evidence is a function of the two
    // endpoints alone, and an exact-dup's surviving twin carries the
    // identical signature.
    val nearDrop = graft.CacheScope.retain(
      pairsFromSignaturesUnsorted(
        signaturesOf(docs.join(surv1, Seq("doc_id")), 1))
        .select(greatest(col("doc_a"), col("doc_b")).as("doc_id"))
        .distinct())
    val surv2 = graft.CacheScope.retain(
      surv1.join(nearDrop, Seq("doc_id"), "left_anti"))
    import graft.similarity.SimilarityQueries
    val half = SimilarityQueries.clusterBoundedCosineOf(emb)._2
    val semDrop = half.filter(col("cos") >= SimilarityQueries.SemT)
      .join(surv2.withColumnRenamed("doc_id", "va"), "va")
      .join(surv2.withColumnRenamed("doc_id", "vb"), "vb")
      .select(greatest(col("va"), col("vb")).as("doc_id"))
      .distinct()
    s1.select(col("doc_id"), col("exact_dup"))
      .join(nearDrop.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .join(semDrop.withColumn("sd", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_dup"), "exact_dup")
          .when(col("nd"), "near_dup")
          .when(col("sd"), "semantic_dup")
          .otherwise("kept").as("status"))
  }

  /** q138's body: per-source MinHash sketches folded from per-doc
    * signatures (element-wise min), every unordered source pair scored
    * by sketch agreement. Sources are metadata-scale (dozens), so the
    * pair space rides a broadcast nested loop, never a data-sized
    * cartesian.
    */
  private def sourceSketchUnionOf(docs: DataFrame): DataFrame = {
    val srcOf = docs.select(col("doc_id"), col("source"))
    val srcSigs = graft.CacheScope.retain {
      val m = (0 until NumHashes).map(i => min(col(s"h$i")).as(s"h$i"))
      signaturesOf(docs, 1).join(srcOf, "doc_id")
        .groupBy("source").agg(m.head, m.tail: _*)
    }
    srcSigs.as("a").crossJoin(broadcast(srcSigs.as("b")))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        round(agreeExpr("a", "b").cast("double") / NumHashes, 4)
          .as("est_jaccard"))
  }

  /** The q138 calibration audit: EXACT token-level Jaccard per source
    * pair, LEFT-joined under the sketch dashboard so zero-overlap pairs
    * report exact_jaccard = 0 next to their (possibly nonzero, hash-
    * agreement) estimate. This is a distinct-(source, token) cross-
    * source self-join — linear in the union vocabulary but token-scale,
    * not metadata-scale, so it runs as a calibration-time check
    * (QueriesSpec), never in the declared query.
    */
  def exactSourceJaccardOf(docs: DataFrame): DataFrame = {
    val toks = graft.CacheScope.retain(
      docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
        .distinct())
    val sizes = toks.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = toks.as("ta").join(toks.as("tb"),
        col("ta.token") === col("tb.token")
          && col("ta.source") < col("tb.source"))
      .groupBy(col("ta.source").as("sa"), col("tb.source").as("sb"))
      .agg(count(lit(1)).as("ninter"))
    sourceSketchUnionOf(docs)
      .join(inter,
        col("src_a") === col("sa") && col("src_b") === col("sb"), "left")
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("est_jaccard"),
        round(coalesce(col("ninter"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("ninter"), lit(0L))), 6)
          .as("exact_jaccard"))
  }

  /** Window size for q97's duplicated-substring scan: long enough that a
    * match means copied phrasing, short enough to fire on the corpus.
    */
  val DupW = 10

  /** q124 segment width (tokens). Non-overlapping: segment k of a doc is
    * tokens [k*W, (k+1)*W); the final segment may be shorter.
    */
  val SegW = 10

  /** q125 containment threshold: the fraction of a doc's shingles that
    * must appear in the other doc.
    */
  val ContainT = 0.9

  /** q124: corpus-wide keep-first segment dedup. Segment identity is the
    * exact segment text; the survivor of each distinct segment is its
    * first occurrence in (doc_id, position) order; docs report counts and
    * the reassembled text. See the q124 registry comment for the scale
    * argument (one hash shuffle on segment text, no pairwise work).
    */
  def segmentDedupOf(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L),
          ceil(size(col("toks")) / lit(SegW.toDouble)).cast("long") - 1))
          .as("k"))
      .select(col("doc_id"), col("k"),
        array_join(slice(col("toks"),
          (col("k") * SegW + 1).cast("int"), lit(SegW)), " ").as("seg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy("doc_id", "k")
    segs.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulls the `when` leaves for dropped
        // segments; the sort key (k) restores document order
        array_join(transform(array_sort(collect_list(
            when(col("rn") === 1, struct(col("k"), col("seg"))))),
          x => x.getField("seg")), " ").as("text_kept"))
  }

  private lazy val segmentDedupOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
       segs AS (SELECT doc_id, toks, unnest(generate_series(0,
           CAST(ceil(len(toks) / $SegW.0) AS BIGINT) - 1)) AS k FROM t),
       st AS (SELECT doc_id, k, array_to_string(
           list_slice(toks, k * $SegW + 1, k * $SegW + $SegW), ' ') AS seg
         FROM segs),
       rn AS (SELECT doc_id, k, seg,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, k) AS rn
         FROM st)
       SELECT doc_id, count(*) AS n_segments,
         count(*) FILTER (WHERE rn = 1) AS n_kept,
         coalesce(string_agg(seg, ' ' ORDER BY k) FILTER (WHERE rn = 1),
           '') AS text_kept
       FROM rn GROUP BY doc_id ORDER BY doc_id"""

  /** q125: ordered containment pairs over a distinct (doc_id, token)
    * shingle relation — posting-list equi-join, per-pair intersection
    * count, divided by the LEFT doc's set size.
    */
  def containmentPairsOf(sh: DataFrame, t: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // |S_a ∩ S_b| is SYMMETRIC even though containment is not: count
    // each unordered pair once through the posting join (doc_a < doc_b
    // halves the Σ df² join output and the pair aggregate's shuffle)
    // and mirror the counted half afterwards — the mirror is a
    // projection over the (tiny, pair-bounded) aggregate, not a second
    // pass over the posting lists. Retained: the half feeds both union
    // arms.
    val half = graft.CacheScope.retain(
      sh.select(col("doc_id").as("doc_a"), col("token"))
        .join(sh.select(col("doc_id").as("doc_b"), col("token")), "token")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni")))
    val inter = half.unionAll(half.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"), col("ni")))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n")), "doc_a")
      .filter(col("ni") * lit(1.0) / col("n") >= t)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni") * lit(1.0) / col("n"), 4).as("containment"))
  }

  private lazy val containmentOracleSql: String =
    s"""WITH $shingleTokCteSql,
       sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS ni
         FROM tok a JOIN tok b ON a.token = b.token
           AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       SELECT doc_a, doc_b,
         round(ni * 1.0 / n, 4) AS containment
       FROM inter JOIN sizes ON doc_a = doc_id
       WHERE ni * 1.0 / n >= $ContainT
       ORDER BY doc_a, doc_b"""

  /** Per-doc duplicated w-token-window stats (q97). `n_windows` counts
    * window POSITIONS (not distinct windows); a position is duplicated
    * iff its window's hash occurs >= 2 times corpus-wide (so intra-doc
    * repeats count too, matching the substring-dedup contract).
    */
  def dupNgramStats(docs: DataFrame, w: Int): DataFrame = {
    // the ONE window-hash stream definition shared with the span
    // removal family (q97's stats and q152's cuts must stay
    // hash-identical — same Lee et al. contract)
    val grams = windowHashesOf(docs, w).select("doc_id", "h")
    // (doc, hash) pre-aggregation: map-side combine collapses intra-doc
    // repeats before any shuffle; retained — it feeds the global counts
    // AND the per-doc join (batch-only path: q97)
    val dh = graft.CacheScope.retain(
      grams.groupBy("doc_id", "h").agg(count(lit(1)).as("c")))
    val gc = dh.groupBy("h").agg(sum("c").as("cnt"))
    val perDoc = dh.join(gc, "h")
      .groupBy("doc_id")
      .agg(sum("c").as("n_windows"),
        sum(when(col("cnt") >= 2, col("c")).otherwise(0L)).as("n_dup"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(when(coalesce(col("n_windows"), lit(0L)) === 0, 0.0)
          .otherwise(coalesce(col("n_dup"), lit(0L)).cast("double")
            / col("n_windows")), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[dupNgramStats]] at w = [[DupW]] (exact via h60). */
  private lazy val dupNgramOracleSql: String =
    s"""WITH g AS (SELECT doc_id,
             array_to_string(list_slice(toks, i, i + ${DupW - 1}), ' ') AS gram
           FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - ${DupW - 2}, 1))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents) d) x),
       hh AS (SELECT doc_id,
                CAST(concat('0x', substr(md5(gram),1,15)) AS BIGINT) AS h
              FROM g),
       dh AS (SELECT doc_id, h, count(*) AS c FROM hh GROUP BY 1, 2),
       gc AS (SELECT h, sum(c) AS cnt FROM dh GROUP BY 1),
       pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
                CAST(sum(CASE WHEN cnt >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup
              FROM dh JOIN gc USING (h) GROUP BY 1)
       SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows,
              coalesce(n_dup, 0) AS n_dup,
              round(CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
                ELSE CAST(coalesce(n_dup, 0) AS DOUBLE) / n_windows END,
                4) AS dup_frac
       FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"""

  /** Exact-substring span removal (q152): ExactSubstr dedup with
    * first-copy retention. A w-token window occurrence (doc, pos) is
    * removable iff it is NOT the corpus-first occurrence of its content
    * (lexicographic min over (doc_id, pos) per 60-bit window hash — so
    * a unique window is never removable and intra-doc repeats after the
    * first are). Removable windows merge into maximal token spans per
    * doc; the cleaned text is the concatenation of the gaps.
    *
    * Scale shape: the window stream is n_tokens rows/doc. The firsts
    * agg is `min(struct)` keyed on the hash — partial aggregation means
    * a window duplicated a million times corpus-wide ships ONE candidate
    * row per map task, not a million; the join back is 1:N on the same
    * key (AQE skew split handles pathological boilerplate). The islands
    * window sorts only REMOVABLE positions per doc (<= n_tokens), and
    * reassembly folds the (few) spans over the doc's own token array —
    * no token-level explode/join/regroup anywhere.
    */
  def dupSpanRemoval(docs: DataFrame, w: Int): DataFrame = {
    // retained: the window-hash stream feeds the firsts aggregation AND
    // the removable join — uncached it is derived twice per run
    // (batch-only path, q152, so the harness flush point exists)
    val wins = graft.CacheScope.retain(windowHashesOf(docs, w))
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val removable = wins.join(firsts, "h")
      .where(struct(col("doc_id"), col("pos")) =!= col("f"))
      .select("doc_id", "pos")
    scrubSpans(docs, removable, w)
  }

  /** (doc_id, pos, h) stream of w-token window hashes — shared by the
    * corpus-wide removal (q152), the ingest-time scrub (q154), and the
    * n-gram index build/advance. CODEGEN shape (the q158 lesson): one
    * posexplode, a (w-1)-lead forward context over the doc order, and
    * the gram string + h60 built from codegen'd concat_ws — the HOF
    * formulation (per-row transform building the full gram array, then
    * posexplode) evaluates interpreted. A window overrunning the doc
    * (last lead null) is filtered, reproducing the size(toks) >= w
    * bound; the exchange the window adds is token-mass-sized and
    * batch-local on the streaming paths.
    *
    * The window partitions on a per-ROW id, not doc_id: input rows are
    * self-contained token sequences (exactly the per-row HOF
    * semantics), so duplicate doc_id rows — upstream data errors, an
    * at-least-once source double-delivering into one micro-batch —
    * each produce their own windows rather than nondeterministically
    * interleaving tokens across copies (a doc_id-keyed window would
    * tie on pos and corrupt every gram near the tie).
    */
  private[graft] def windowHashesOf(docs: DataFrame, w: Int): DataFrame =
    // Windows built by array slicing (the shingleSets shape), not by
    // posexplode + lead(): the lead form needed a per-row id, one hash
    // EXCHANGE and a sort per call just to look w-1 tokens ahead inside
    // an array the row already holds. This form is a pure map — zero
    // exchanges — and (doc_id, pos, h) is value-identical: posexplode
    // yields pos = window start (0-based), slice(toks, pos+1, w) is
    // tokens pos..pos+w-1, docs shorter than w yield no rows. It also
    // restores filter pushdown for callers that bound doc_id (the old
    // monotonically_increasing_id projection blocked it, see q155).
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) >= $w
           THEN transform(sequence(0, size(toks) - $w),
                          i -> concat_ws(' ', slice(toks, i + 1, $w)))
           ELSE array() END""")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), h60(col("gram")).as("h"))

  /** Merge removable window starts into maximal spans and reassemble
    * each doc's cleaned text (the islands + fold half of q152/q154).
    * UNSORTED — the declared queries add the oracle-parity
    * `orderBy(doc_id)` themselves, so the streaming sink never pays a
    * per-batch global sort for an output order nothing consumes.
    */
  private def scrubSpans(docs: DataFrame, removable: DataFrame,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val before = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val islands = removable
      // new island iff this window starts past everything merged so far
      .withColumn("brk", when(
        col("pos") > coalesce(max(col("pos") + w).over(before), lit(-1)),
        1).otherwise(0))
      .withColumn("isl", sum("brk").over(byDoc))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("s"), (max(col("pos")) + lit(w)).as("e"))
    val spans = islands.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("n_removed"))
    toks.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("spans").isNull, concat_ws(" ", col("toks")))
          .otherwise(expr(
            """array_join(aggregate(spans,
                 named_struct('prev', 0, 'acc', cast(array() as array<string>)),
                 (st, sp) -> named_struct('prev', sp.e,
                   'acc', concat(st.acc, slice(toks, st.prev + 1, sp.s - st.prev))),
                 st -> concat(st.acc,
                   slice(toks, st.prev + 1, size(toks) - st.prev))), ' ')"""))
          .as("clean_text"))
  }

  /** Shared oracle CTEs: toks (`t`) and the hashed window stream
    * (`hh`) — the front half of the q152/q154/q155 twins.
    */
  private def spanWindowCtes(w: Int = DupW): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
       g AS (SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + ${w - 1}), ' ') AS gram
             FROM (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks) - ${w - 2}, 1))) AS i
                   FROM t) x),
       hh AS (SELECT doc_id, pos, ${h60Sql("gram")} AS h FROM g)"""

  /** DuckDB twin of [[dupSpanRemoval]] at w = [[DupW]] (exact via h60;
    * reassembly goes token-unnest + anti-join there — same values, the
    * oracle does not need the fold's O(n) shape).
    */
  private lazy val dupSpanRemovalOracleSql: String =
    s"""WITH ${spanWindowCtes()},
       rem AS (SELECT doc_id, pos FROM (
                 SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
                 FROM hh) r WHERE rn > 1),
       ${spanScrubSqlTail("TRUE")}"""

  /** tok(doc_id, idx, tok) over the `t` token arrays — shared by the
    * scrub chains (named spanTok: `tokCte` above is the shingle one).
    */
  private val spanTokCteSql: String =
    """spantok AS (SELECT doc_id, i - 1 AS idx, toks[i] AS tok
               FROM (SELECT doc_id, toks,
                       unnest(range(1, len(toks) + 1)) AS i FROM t) y)"""

  /** Islands + reassembly CTE chain, all names prefixed with `p` so
    * two scrubs can coexist in one statement (q156 runs pre- and
    * post-advance scrubs): expects `spantok` and a removable-window
    * relation `rem(doc_id, pos)` in scope; ends with
    * `${p}sp(doc_id, n_spans, n_removed)` and
    * `${p}agg(doc_id, clean_text)` — a doc missing from `agg` kept
    * zero tokens, a doc missing from `sp` had nothing removed.
    */
  private def spanScrubChainSql(p: String, rem: String, w: Int): String =
    s"""${p}brk AS (SELECT doc_id, pos,
                 CASE WHEN pos > coalesce(max(pos + $w) OVER
                   (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS b FROM $rem),
       ${p}isl1 AS (SELECT doc_id, pos,
                  sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                FROM ${p}brk),
       ${p}isl AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + $w AS e
               FROM ${p}isl1 GROUP BY 1, 2),
       ${p}sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(e - s) AS BIGINT) AS n_removed
              FROM ${p}isl GROUP BY 1),
       ${p}keep AS (SELECT k.doc_id, k.idx, k.tok FROM spantok k
                LEFT JOIN ${p}isl ON k.doc_id = ${p}isl.doc_id
                  AND k.idx >= ${p}isl.s AND k.idx < ${p}isl.e
                WHERE ${p}isl.doc_id IS NULL),
       ${p}agg AS (SELECT doc_id,
                 string_agg(tok, ' ' ORDER BY idx) AS clean_text
               FROM ${p}keep GROUP BY 1)"""

  /** Islands + reassembly SQL tail shared by q152/q154/q155: expects
    * `t` and a removable-window CTE `rem(doc_id, pos)` in scope; emits
    * one row per doc passing `docWhere` (over alias d).
    */
  private def spanScrubSqlTail(docWhere: String, w: Int = DupW): String =
    s"""$spanTokCteSql,
       ${spanScrubChainSql("", "rem", w)}
       SELECT d.doc_id,
              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
              CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(sp.n_removed, 0) AS BIGINT) AS n_removed,
              coalesce(a.clean_text, '') AS clean_text
       FROM documents d LEFT JOIN sp ON d.doc_id = sp.doc_id
            LEFT JOIN agg a ON d.doc_id = a.doc_id
       WHERE $docWhere
       ORDER BY d.doc_id"""

  /** N-GRAM WINDOW INDEX (component `grams`): the corpus's distinct
    * w-token window hashes, for span scrubbing AT INGEST (q154). Every
    * arriving doc is scrubbed of any span the corpus already contains,
    * and admitted text advances the index with its own window hashes.
    * Consumers are set-semantics (left-semi), so re-added hashes are
    * harmless and compaction never changes a scrub.
    */
  def buildNgramIndex(docs: DataFrame, w: Int, root: String): Unit =
    graft.sources.ArtifactVersions.build(root,
      "grams" -> windowHashesOf(docs, w).select("h").distinct())

  private[graft] def liveGrams(s: SparkSession, root: String): DataFrame =
    graft.sources.ArtifactVersions.read(s, root, "grams")

  def advanceNgramIndex(admitted: DataFrame, w: Int, root: String,
      batchId: Option[Long] = None): Unit =
    graft.sources.ArtifactVersions.advance(root, "grams", batchId)(
      windowHashesOf(admitted, w).select("h").distinct())

  /** Scrub arrivals against the persisted index: a window is removable
    * iff its hash EXISTS in the artifact (left-semi join — arrival-side
    * work only; the index is a columnar scan, never re-derived).
    */
  def spanScrubAgainstIndex(s: SparkSession, arrivals: DataFrame,
      root: String, w: Int): DataFrame =
    spanScrubHashesAgainstIndex(s, arrivals,
      windowHashesOf(arrivals, w), root, w)

  /** The scrub with the arrival windows supplied by the caller — the
    * hash stream is a pure function of the arrival text (never of the
    * index version), so a flow that scrubs the same arrivals against
    * several index versions (q156 scrubs pre- and post-compaction)
    * computes and retains it ONCE instead of re-windowing per scrub.
    */
  private def spanScrubHashesAgainstIndex(s: SparkSession,
      arrivals: DataFrame, arrivalHashes: DataFrame, root: String,
      w: Int): DataFrame =
    scrubSpans(arrivals,
      arrivalHashes.join(liveGrams(s, root), Seq("h"), "left_semi")
        .select("doc_id", "pos"), w)

  /** q156: the index MAINTENANCE loop — build v1, scrub the arrival
    * wave, advance with its admitted text TWICE (the documented
    * at-least-once replay), COMPACT under v2, re-serve. One output
    * row: artifact row counts around compaction (the replayed advance
    * makes the shrink provable — n_before = n_base + 2·n_adv,
    * n_after = |base ∪ adv|) plus the re-scrub aggregate off the
    * compacted index: re-sending already-admitted docs yields almost
    * no novelty, because the advance put their cleaned content IN the
    * index — only seam windows created by the first span removal
    * survive. Fresh version root per call (advance mutates the live
    * version; a memoized copy would be poisoned — the q119/q150
    * discipline); the counts are scheduler-grade scalars, not
    * data-sized collects.
    */
  def indexCompactionFlow(s: SparkSession, docs: DataFrame, split: Long,
      w: Int): DataFrame = {
    val root = graft.TempArtifacts.perCall(s, "graft_ngram_versions")
    buildNgramIndex(docs.filter(col("doc_id") < split), w, root)
    val nBase = liveGrams(s, root).count()
    val arrivals = docs.filter(col("doc_id") >= split)
    // the arrival window-hash stream is a pure function of the arrival
    // text (index-version-independent) and feeds BOTH scrubs below —
    // retained so the split+window+hash pass runs once, not per scrub
    val arrHashes = graft.CacheScope.retain(windowHashesOf(arrivals, w))
    // materialize the admitted batch BEFORE advancing: a replayed batch
    // re-delivers the same bytes, so the replay must append the same
    // payload — a lazy (even cached) scrub plan would NOT model that,
    // because the first append refreshes the grams path and the
    // re-materialized plan would scrub against the already-advanced
    // index, turning the "replay" into an empty append
    spanScrubHashesAgainstIndex(s, arrivals, arrHashes, root, w)
      .select(col("doc_id"), col("clean_text").as("text"))
      .write.parquet(root + "/admitted")
    val admitted = s.read.parquet(root + "/admitted")
    // NOTE (measured): retaining the admitted gram set and
    // appending the cached copy twice was tried — the InMemoryRelation
    // pins the distinct at the static shuffle width, so each append
    // wrote 32 files instead of the AQE-coalesced few and every later
    // liveGrams read paid the small-file tasks (496 vs 132 per 3
    // runs). Re-deriving per append keeps the coalesced writes.
    advanceNgramIndex(admitted, w, root) // the normal advance...
    advanceNgramIndex(admitted, w, root) // ...and its at-least-once replay
    val nBefore = liveGrams(s, root).count()
    graft.sources.ArtifactVersions.compact(s, root)
    val nAfter = liveGrams(s, root).count()
    val live = java.nio.file.Paths.get(graft.sources.ArtifactVersions
      .live(root)).getFileName.toString
    spanScrubHashesAgainstIndex(s, arrivals, arrHashes, root, w)
      .agg(count(lit(1)).as("rescrub_docs"),
        sum("n_removed").as("rescrub_removed"),
        sum(length(col("clean_text"))).cast("long")
          .as("rescrub_clean_chars"))
      .select(lit(live).as("live_version"), lit(nBase).as("n_base"),
        lit((nBefore - nBase) / 2).as("n_adv"),
        lit(nBefore).as("n_before"), lit(nAfter).as("n_after"),
        col("rescrub_docs"), col("rescrub_removed"),
        col("rescrub_clean_chars"))
  }

  /** DuckDB twin of q156: the whole lifecycle in set algebra — idx =
    * corpus grams, the first scrub's cleaned arrival text re-windowed
    * into the advance payload `ch`, idx2 = idx ∪ ch, and the re-scrub
    * chain run against idx2.
    */
  private lazy val indexCompactionOracleSql: String = {
    val sp = NeardupArrivalSplit
    s"""WITH ${spanWindowCtes()},
       idx AS (SELECT DISTINCT h FROM hh WHERE doc_id < $sp),
       rem AS (SELECT doc_id, pos FROM hh
               WHERE doc_id >= $sp AND h IN (SELECT h FROM idx)),
       $spanTokCteSql,
       ${spanScrubChainSql("", "rem", DupW)},
       cw AS (SELECT doc_id, string_split(clean_text, ' ') AS toks
              FROM agg WHERE doc_id >= $sp),
       cg AS (SELECT doc_id,
                array_to_string(list_slice(toks, i, i + ${DupW - 1}), ' ')
                  AS gram
              FROM (SELECT doc_id, toks,
                      unnest(range(1, greatest(len(toks) - ${DupW - 2}, 1)))
                        AS i FROM cw) x),
       ch AS (SELECT DISTINCT ${h60Sql("gram")} AS h FROM cg),
       idx2 AS (SELECT h FROM idx UNION SELECT h FROM ch),
       rem2 AS (SELECT doc_id, pos FROM hh
                WHERE doc_id >= $sp AND h IN (SELECT h FROM idx2)),
       ${spanScrubChainSql("r", "rem2", DupW)},
       res AS (SELECT CAST(count(*) AS BIGINT) AS rescrub_docs,
                 CAST(coalesce(sum(coalesce(rsp.n_removed, 0)), 0)
                   AS BIGINT) AS rescrub_removed,
                 CAST(coalesce(sum(len(coalesce(ragg.clean_text, ''))), 0)
                   AS BIGINT) AS rescrub_clean_chars
               FROM documents d
               LEFT JOIN rsp ON d.doc_id = rsp.doc_id
               LEFT JOIN ragg ON d.doc_id = ragg.doc_id
               WHERE d.doc_id >= $sp)
       SELECT 'v2' AS live_version,
         (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_base,
         (SELECT CAST(count(*) AS BIGINT) FROM ch) AS n_adv,
         CAST((SELECT count(*) FROM idx) + 2 * (SELECT count(*) FROM ch)
           AS BIGINT) AS n_before,
         (SELECT CAST(count(*) AS BIGINT) FROM idx2) AS n_after,
         rescrub_docs, rescrub_removed, rescrub_clean_chars
       FROM res"""
  }

  /** DuckDB twin of q154: index = distinct window hashes of the
    * pre-arrival corpus, arrivals scrubbed via set membership.
    */
  private lazy val ingestSpanScrubOracleSql: String =
    s"""WITH ${spanWindowCtes()},
       idx AS (SELECT DISTINCT h FROM hh
               WHERE doc_id < $NeardupArrivalSplit),
       rem AS (SELECT doc_id, pos FROM hh
               WHERE doc_id >= $NeardupArrivalSplit
                 AND h IN (SELECT h FROM idx)),
       ${spanScrubSqlTail(s"d.doc_id >= $NeardupArrivalSplit")}"""

  /** The benchmark-stand-in split — the ONE definition q78's doc-level
    * flag and q155's span scrub share ([[graft.text.TextQueries]]).
    */
  private def DecontamBench: Long = graft.text.TextQueries.DecontamBench

  /** q155: SPAN-LEVEL benchmark decontamination — the surgical upgrade
    * of q78's doc-level flag: instead of dropping every document that
    * shares one 13-gram with the eval set (q78's `contaminated`
    * boolean), only the contaminated SPANS are cut — the standard
    * middle path when whole-doc removal would throw away good text.
    * Removable = any w-token window whose hash appears in the
    * benchmark's (tiny, broadcast) gram set; islands + reassembly as
    * in q152. By construction: q78 flags a doc iff q155 removes > 0
    * tokens from it (DedupSpec pins the equivalence).
    */
  def decontaminationSpanScrub(docs: DataFrame, w: Int): DataFrame = {
    // the doc_id split is applied to the INPUT frames, not after
    // windowHashesOf: its monotonically_increasing_id projection is
    // nondeterministic, so a filter above it can never push down to
    // the scan — filtering first keeps each side's token-mass window
    // priced only on the rows it owns, and the two sides are disjoint
    // so no shared cache is warranted
    val bench = windowHashesOf(
        docs.filter(col("doc_id") < DecontamBench), w)
      .select("h").distinct()
    val corpus = docs.filter(col("doc_id") >= DecontamBench)
    val removable = windowHashesOf(corpus, w)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select("doc_id", "pos")
    scrubSpans(corpus, removable, w)
  }

  /** DuckDB twin of q155 at w = 13 (q78's width). */
  private lazy val decontamScrubOracleSql: String = {
    val w = graft.text.TextQueries.DecontamW
    s"""WITH ${spanWindowCtes(w)},
       idx AS (SELECT DISTINCT h FROM hh WHERE doc_id < $DecontamBench),
       rem AS (SELECT doc_id, pos FROM hh
               WHERE doc_id >= $DecontamBench
                 AND h IN (SELECT h FROM idx)),
       ${spanScrubSqlTail(s"d.doc_id >= $DecontamBench", w)}"""
  }

  /** 60-bit SimHash per document: bit i set iff the sign-sum over token
    * hashes' bit i is positive. One explode + one groupBy with 60
    * codegen'd conditional sums — no UDF, fully distributed.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashOf(Tables.documents(s, d)).orderBy("doc_id")

  /** Same, over an arbitrary (doc_id, text) DataFrame — lets tests feed
    * permuted corpora through the identical code path. UNSORTED: the
    * join consumers (hamming pairs) would pay a pointless global sort;
    * q36 adds its ORDER BY at the query edge.
    */
  def simhashOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .distinct()
      .withColumn("h", h60(col("token")))
    val bitSums = (0 until SimHashBits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1) * 2 - 1).as(s"b$i"))
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Per-ROW SimHash via higher-order array functions — bit-identical to
    * [[simhashOf]] (same distinct token set, same h60, same ±1 sums) with
    * ZERO shuffles: the explode path pays a distinct shuffle of every
    * token plus the groupBy shuffle; this one is a stateless projection
    * (stream-safe, like [[signaturesOf]]). A document with NULL text
    * gets no row, as on the explode path: a simhash of 0 would put every
    * such document at distance 0 from the others. The explode path
    * remains for corpora with mega-documents, which it parallelizes
    * across tasks.
    */
  def simhashPerRow(docs: DataFrame): DataFrame = {
    val hs = expr(
      """transform(array_distinct(split(text, ' ')),
           t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))""")
    val bitSums = (0 until SimHashBits).map { i =>
      expr(s"""aggregate(hs, 0L,
             (acc, h) -> acc + (CASE WHEN (h >> $i) % 2 = 1
                                THEN 1L ELSE -1L END))""").as(s"b$i")
    }
    val sig = (0 until SimHashBits).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    docs.filter(col("text").isNotNull).withColumn("hs", hs)
      .select(col("doc_id") +: bitSums: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Signature agreement count between sig aliases `a` and `b` (SQL). */
  private def agreeSql: String = (0 until NumHashes)
    .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** The verify leg of the q110/q117 ingest flow: arrival doc_ids that
    * near-dup the corpus or the lowest-id arrival of a shared band
    * bucket. Star contraction on the intra-batch leg (q50's starEdges
    * shape): groupBy-min combines map-side; a degenerate mega-bucket
    * hits the join as an AQE-splittable skewed key, not a |bucket|²
    * blowup. The corpus band table is `bandsOf(sigCorp)`.
    * package-private so DedupIndexSpec can pin the policy's recall
    * contract on crafted signatures.
    */
  private[dedup] def ingestDupArrivals(sigArr: DataFrame, arrBands: DataFrame,
      sigCorp: DataFrame): DataFrame = {
    val candCorp = arrBands
      .join(bandsOf(sigCorp)
          .select(col("doc_id").as("prior_doc"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id").as("arr_doc"), col("prior_doc"))
    val bmArr = arrBands.groupBy("band", "bucket")
      .agg(min("doc_id").as("m"))
    val candIntra = arrBands.join(bmArr, Seq("band", "bucket"))
      .filter(col("doc_id") > col("m"))
      .select(col("doc_id").as("arr_doc"), col("m").as("prior_doc"))
    val agree = agreeExpr("a", "b")
    candCorp.unionAll(candIntra).distinct()
      .join(sigArr.as("a"), col("arr_doc") === col("a.doc_id"))
      .join(sigArr.unionByName(sigCorp).as("b"),
        col("prior_doc") === col("b.doc_id"))
      .filter(agree >= (NumHashes + 1) / 2)
      .select(col("arr_doc").as("doc_id")).distinct()
  }

  /** The q110/q117 ingest flow given the corpus-side signature table —
    * recomputed from text (q110) or read from the persisted index
    * artifact (q117). Per-row signatures ONLY on the arrival side
    * (the streaming shape — one doc_id hash exchange, no aggregation,
    * before the band join).
    */
  private def incrementalIngest(docs: DataFrame, split: Long,
      sigCorp: DataFrame): DataFrame = {
    val sigArr = graft.CacheScope.retain(
      signaturesOf(docs.filter(col("doc_id") >= split), 1))
    val arrBands = graft.CacheScope.retain(bandsOf(sigArr))
    val dupArrivals = ingestDupArrivals(sigArr, arrBands, sigCorp)
    docs.filter(col("doc_id") < split)
      .select(col("doc_id"), lit("existing").as("status"))
      .unionAll(docs.filter(col("doc_id") >= split).select("doc_id")
        .join(dupArrivals, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("added").as("status")))
      .orderBy("doc_id")
  }

  /** Shared DuckDB twin of q110 and q117 (their outputs are identical
    * by contract: the artifact-read path must agree with recompute).
    */
  private lazy val incrementalIngestOracleSql: String =
    s"""WITH ${sigBandCtes("")},
         inc AS (SELECT doc_id, band, bucket FROM bands
                 WHERE doc_id >= $NeardupArrivalSplit),
         corp AS (SELECT doc_id AS prior_doc, band, bucket FROM bands
                  WHERE doc_id < $NeardupArrivalSplit),
         bm AS (SELECT band, bucket, min(doc_id) AS m FROM inc GROUP BY 1, 2),
         cand AS (SELECT DISTINCT inc.doc_id, corp.prior_doc
                  FROM inc JOIN corp USING (band, bucket)
                  UNION
                  SELECT DISTINCT l.doc_id, bm.m AS prior_doc
                  FROM inc l JOIN bm USING (band, bucket)
                  WHERE l.doc_id > bm.m),
         dup AS (SELECT DISTINCT c.doc_id FROM cand c
                 JOIN sig a ON c.doc_id = a.doc_id
                 JOIN sig b ON c.prior_doc = b.doc_id
                 WHERE $agreeSql >= ${(NumHashes + 1) / 2})
         SELECT doc_id, 'existing' AS status FROM documents
         WHERE doc_id < $NeardupArrivalSplit
         UNION ALL
         SELECT doc_id, 'added' AS status FROM documents
         WHERE doc_id >= $NeardupArrivalSplit
           AND doc_id NOT IN (SELECT doc_id FROM dup)
         ORDER BY doc_id"""

  /** The q119 two-phase lifecycle over an arbitrary documents table —
    * build on ids < split1, serve batch 1 [split1, split2) from the
    * artifact, commit its decision (eager localCheckpoint), advance
    * the artifact with the admitted docs, serve batch 2 (>= split2)
    * from the ADVANCED artifact. package-private so DedupIndexSpec can
    * pin the advance visibility contract on crafted corpora.
    */
  private[graft] def advanceIngestFlow(s: SparkSession, docs: DataFrame,
      split1: Long, split2: Long): DataFrame = {
    val idx = graft.TempArtifacts.perCall(s, "graft_dedup_advance")
    buildDedupIndex(docs.filter(col("doc_id") < split1), idx)
    val phase1 = incrementalIngest(
      docs.filter(col("doc_id") < split2), split1,
      graft.CacheScope.retain(indexSignatures(s, idx))).localCheckpoint(true)
    advanceDedupIndex(
      docs.join(phase1.filter(col("status") === "added"
          && col("doc_id") >= split1).select("doc_id"),
        "doc_id").select("doc_id", "text"), idx)
    val sigArr2 = graft.CacheScope.retain(
      signaturesOf(docs.filter(col("doc_id") >= split2), 1))
    val dup2 = ingestDupArrivals(sigArr2,
      graft.CacheScope.retain(bandsOf(sigArr2)),
      graft.CacheScope.retain(indexSignatures(s, idx)))
    phase1.unionAll(
        docs.filter(col("doc_id") >= split2).select("doc_id")
          .join(dup2, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit("added").as("status")))
      .orderBy("doc_id")
  }

  /** DuckDB twin of q119: the two-phase ingest with the advanced
    * corpus. corp2 = corp1 plus the band entries of batch 1 docs that
    * survived phase 1 — the SQL image of [[advanceDedupIndex]]'s
    * append.
    */
  private lazy val advanceIngestOracleSql: String = {
    val bar = (NumHashes + 1) / 2
    s"""WITH ${sigBandCtes("")},
         corp1 AS (SELECT doc_id AS prior_doc, band, bucket FROM bands
                   WHERE doc_id < $NeardupArrivalSplit),
         inc1 AS (SELECT doc_id, band, bucket FROM bands
                  WHERE doc_id >= $NeardupArrivalSplit
                    AND doc_id < $AdvanceSplit2),
         bm1 AS (SELECT band, bucket, min(doc_id) AS m FROM inc1 GROUP BY 1, 2),
         cand1 AS (SELECT DISTINCT inc1.doc_id, corp1.prior_doc
                   FROM inc1 JOIN corp1 USING (band, bucket)
                   UNION
                   SELECT DISTINCT l.doc_id, bm1.m AS prior_doc
                   FROM inc1 l JOIN bm1 USING (band, bucket)
                   WHERE l.doc_id > bm1.m),
         dup1 AS (SELECT DISTINCT c.doc_id FROM cand1 c
                  JOIN sig a ON c.doc_id = a.doc_id
                  JOIN sig b ON c.prior_doc = b.doc_id
                  WHERE $agreeSql >= $bar),
         adm1 AS (SELECT doc_id FROM documents
                  WHERE doc_id >= $NeardupArrivalSplit
                    AND doc_id < $AdvanceSplit2
                    AND doc_id NOT IN (SELECT doc_id FROM dup1)),
         corp2 AS (SELECT prior_doc, band, bucket FROM corp1
                   UNION ALL
                   SELECT doc_id AS prior_doc, band, bucket FROM bands
                   WHERE doc_id IN (SELECT doc_id FROM adm1)),
         inc2 AS (SELECT doc_id, band, bucket FROM bands
                  WHERE doc_id >= $AdvanceSplit2),
         bm2 AS (SELECT band, bucket, min(doc_id) AS m FROM inc2 GROUP BY 1, 2),
         cand2 AS (SELECT DISTINCT inc2.doc_id, corp2.prior_doc
                   FROM inc2 JOIN corp2 USING (band, bucket)
                   UNION
                   SELECT DISTINCT l.doc_id, bm2.m AS prior_doc
                   FROM inc2 l JOIN bm2 USING (band, bucket)
                   WHERE l.doc_id > bm2.m),
         dup2 AS (SELECT DISTINCT c.doc_id FROM cand2 c
                  JOIN sig a ON c.doc_id = a.doc_id
                  JOIN sig b ON c.prior_doc = b.doc_id
                  WHERE $agreeSql >= $bar)
         SELECT doc_id, 'existing' AS status FROM documents
         WHERE doc_id < $NeardupArrivalSplit
         UNION ALL
         SELECT doc_id, 'added' AS status FROM documents
         WHERE doc_id IN (SELECT doc_id FROM adm1)
         UNION ALL
         SELECT doc_id, 'added' AS status FROM documents
         WHERE doc_id >= $AdvanceSplit2
           AND doc_id NOT IN (SELECT doc_id FROM dup2)
         ORDER BY doc_id"""
  }

  /** The dedup index (one [[graft.sources.ArtifactVersions]]
    * component, `signatures` (doc_id, h0..h15)): every later
    * dedup/ingest query reads this columnar table instead of
    * re-tokenizing and re-hashing the corpus text, and derives the band
    * buckets (doc_id, band, bucket) as [[bandsOf]] of it. The bands are
    * not persisted: a per-row projection plus explode of the signature
    * row is cheaper to derive than to write, list and scan.
    */
  def buildDedupIndex(docs: DataFrame, path: String): Unit =
    buildDedupIndexFrom(signaturesOf(docs, 1), path)

  /** Build from an arbitrary signature table — the word-token and
    * shingle pipelines share one artifact layout, so every serve-side
    * reader works on either.
    */
  def buildDedupIndexFrom(signatures: DataFrame, path: String): Unit =
    graft.sources.ArtifactVersions.build(path, "signatures" -> signatures)

  /** One micro-batch of the STREAMING ingest path
    * (Streams.nearDupIngestSink): admission decisions for `batch`
    * against the persisted index at `path`, with the same candidate /
    * verify machinery as q101/q117/q119 (band join vs index + star-
    * contracted intra-batch leg, signature-agreement verify). The
    * result is eagerly localCheckpoint-ed — the batch-commit the
    * advance contract requires — so the caller can advance the
    * artifact immediately after, and the call's retains are scoped to
    * it.
    */
  def ingestBatchDecisions(batch: DataFrame, path: String): DataFrame =
    graft.CacheScope.scoped {
      val s = batch.sparkSession
      val sigArr = graft.CacheScope.retain(signaturesOf(batch, 1))
      val arrBands = graft.CacheScope.retain(bandsOf(sigArr))
      val idxSig = graft.CacheScope.retain(indexSignatures(s, path))
      // EVERY arrival gets a decision row ('added' or 'dup') — a
      // downstream auditor must be able to distinguish a doc dropped
      // as a near-dup from one that never arrived; only the 'added'
      // side feeds the index advance. (ingestDupArrivals returns
      // distinct doc_ids, so the left join cannot fan out.)
      val dups = ingestDupArrivals(sigArr, arrBands, idxSig)
      batch.select("doc_id")
        .join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__dup").isNotNull, lit("dup")).otherwise(lit("added"))
            .as("status"))
        .localCheckpoint(true)
    }

  /** Append the admitted docs' signature rows. The caller
    * commits (materializes) the admitting batch's own reads of the
    * artifact before advancing — q119 with an eager localCheckpoint.
    */
  def advanceDedupIndex(admitted: DataFrame, path: String,
      batchId: Option[Long] = None): Unit =
    graft.sources.ArtifactVersions.advance(path, "signatures", batchId)(
      signaturesOf(admitted, 1))

  /** An index served once per corpus per JVM, keyed on the documents'
    * content: bench run 1 pays the build, later runs measure serving.
    */
  private def servedIndex(d: String, prefix: String)(
      build: String => Unit): String =
    graft.TempArtifacts.served(
      graft.TempArtifacts.fingerprint(d, "documents"), prefix)(build)

  /** The pre-arrival corpus's index, for the q117 ingest flow. */
  private def servedDedupIndex(s: SparkSession, docs: DataFrame,
      d: String): String =
    servedIndex(d, "graft_dedup_index")(buildDedupIndex(
      docs.filter(col("doc_id") < NeardupArrivalSplit), _))

  /** The full corpus's index, for the pair-graph dashboards. */
  private def servedFullDedupIndex(s: SparkSession, docs: DataFrame,
      d: String): String =
    servedIndex(d, "graft_dedup_index_full")(buildDedupIndex(docs, _))

  /** The shingle-signature index, for the shingle-LSH queries. */
  private def servedShingleDedupIndex(s: SparkSession, docs: DataFrame,
      d: String): String =
    servedIndex(d, "graft_dedup_index_shingle")(buildDedupIndexFrom(
      signaturesOf(docs, ShingleW), _))

  /** The pre-arrival corpus's n-gram window index, for q154. */
  private def servedNgramIndex(s: SparkSession, docs: DataFrame,
      d: String): String =
    servedIndex(d, "graft_ngram_index")(buildNgramIndex(
      docs.filter(col("doc_id") < NeardupArrivalSplit), DupW, _))

  def indexSignatures(s: SparkSession, path: String): DataFrame =
    graft.sources.ArtifactVersions.read(s, path, "signatures")

  /** CTE chain computing MinHash signatures (`sig`) and their band
    * buckets (`bands`) — the shared head of every LSH oracle.
    */
  private def sigBandCtes(where: String): String = {
    val mins = (0 until NumHashes).map(i =>
      s"min((x1 * ${permA(i)} % $P + x2 * ${permB(i)} % $P + ${permC(i)}) % $P) AS h$i")
      .mkString(",\n  ")
    val bands = (0 until NumHashes / BandRows).map { b =>
      val cols = (b * BandRows until (b + 1) * BandRows).map(i => s"h$i")
      s"SELECT doc_id, $b AS band, concat_ws(',', ${cols.mkString(", ")}) AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""${tokCteWhere(where)},
       hb AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(token),1,15)) AS BIGINT) % $P AS x1,
              CAST(concat('0x', substr(md5(token),17,15)) AS BIGINT) % $P AS x2
              FROM tok),
       sig AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
       bands AS ($bands)"""
  }

  /** CTE chain reproducing [[minhashPairs]] up to a `pairs` CTE — shared
    * by the q30 oracle and the q95 clustering oracle.
    */
  private def minhashCtes(where: String): String =
    s"""${sigBandCtes(where)},
       cand AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
                FROM bands l JOIN bands r
                  ON l.band = r.band AND l.bucket = r.bucket
                 AND l.doc_id < r.doc_id
                GROUP BY 1, 2),
       pairs AS (SELECT c.doc_a, c.doc_b,
                 round(CAST($agreeSql AS DOUBLE) / $NumHashes, 4) AS est_jaccard
                 FROM cand c JOIN sig a ON c.doc_a = a.doc_id
                             JOIN sig b ON c.doc_b = b.doc_id
                 WHERE CAST($agreeSql AS DOUBLE) / $NumHashes >= 0.5)"""

  /** DuckDB twin of [[minhashPairs]] (exact value parity via h60). */
  private lazy val minhashOracleSql: String =
    s"""WITH ${minhashCtes("")}
       SELECT doc_a, doc_b, est_jaccard FROM pairs ORDER BY doc_a, doc_b"""

  /** q120 edit-distance verification bars: absolute early-exit cap and
    * the relative fraction of the longer text. Both engines compute
    * character-level Levenshtein; DuckDB has no thresholded form, so
    * the oracle computes the full distance and applies the same two
    * filters — identical surviving pairs and distances.
    */
  val FuzzyEditCap = 50
  val FuzzyEditFrac = 0.3

  /** The q120 operator over an arbitrary documents table (doc_id,
    * text): (doc_id, kept) for every doc.
    */
  private def fuzzyDedupOf(docs: DataFrame): DataFrame = {
    val sig = graft.CacheScope.retain(signaturesOf(docs, 1))
    val bands = bandsOf(sig)
    val bm = bands.groupBy("band", "bucket").agg(min("doc_id").as("m"))
    val edges = bands.join(bm, Seq("band", "bucket"))
      .filter(col("doc_id") > col("m"))
      .select(col("doc_id").as("e_doc"), col("m")).distinct()
    val agree = agreeExpr("a", "b")
    val dropped = edges
      .join(sig.as("a"), col("e_doc") === col("a.doc_id"))
      .join(sig.as("b"), col("m") === col("b.doc_id"))
      .filter(agree >= (NumHashes + 1) / 2)
      .select(col("e_doc"), col("m"))
      .join(docs.select(col("doc_id").as("e_doc"), col("text").as("ta")),
        "e_doc")
      .join(docs.select(col("doc_id").as("m"), col("text").as("tb")), "m")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), FuzzyEditCap))
      .filter(col("dist") >= 0 && col("dist") <=
        lit(FuzzyEditFrac) * greatest(length(col("ta")), length(col("tb"))))
      .select(col("e_doc").as("doc_id")).distinct()
    docs.select("doc_id")
      .join(dropped.withColumn("drp", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(!col("drp"), lit(true)).as("kept"))
  }

  /** DuckDB twin of q120: star edges to band-bucket minima, signature
    * agreement filter, full levenshtein, same absolute + relative
    * acceptance bars, keep flag per doc.
    */
  private lazy val fuzzyDedupOracleSql: String =
    s"""WITH ${sigBandCtes("")},
       bm AS (SELECT band, bucket, min(doc_id) AS m FROM bands GROUP BY 1, 2),
       e AS (SELECT DISTINCT l.doc_id, bm.m
             FROM bands l JOIN bm USING (band, bucket)
             WHERE l.doc_id > bm.m),
       se AS (SELECT e.doc_id, e.m FROM e
              JOIN sig a ON e.doc_id = a.doc_id
              JOIN sig b ON e.m = b.doc_id
              WHERE $agreeSql >= ${(NumHashes + 1) / 2}),
       drp AS (SELECT DISTINCT se.doc_id FROM se
               JOIN documents da ON se.doc_id = da.doc_id
               JOIN documents db ON se.m = db.doc_id
               WHERE levenshtein(da.text, db.text) <= $FuzzyEditCap
                 AND levenshtein(da.text, db.text)
                     <= $FuzzyEditFrac * greatest(len(da.text), len(db.text)))
       SELECT doc_id, doc_id NOT IN (SELECT doc_id FROM drp) AS kept
       FROM documents ORDER BY doc_id"""

  val ShingleW = 3

  /** The `tok` CTE with w-token shingles (set semantics) in place of
    * single tokens — patched into the token-unit CTE chains wherever a
    * query runs on the shingle unit.
    */
  private lazy val shingleTokCteSql: String =
    s"""tok AS (SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + ${ShingleW - 1}), ' ') AS token
       FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - ${ShingleW - 2}, 1))) AS i
             FROM (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents) d) x)"""

  /** Patch the token-unit `tok` CTE inside `body` to the shingle unit. */
  private def withShingleTok(body: String): String = {
    val patched = body.replace(tokCte, shingleTokCteSql)
    require(patched != body, "tok CTE substitution failed")
    patched
  }

  /** DuckDB twin of the shingle variant: the CTE chain is identical
    * except `tok` holds w-token shingles.
    */
  private lazy val shingleOracleSql: String =
    s"""WITH ${withShingleTok(minhashCtes(""))}
       SELECT doc_a, doc_b, est_jaccard FROM pairs ORDER BY doc_a, doc_b"""

  /** CTE chain of the star-contracted clustering up to `cl(doc_id,
    * cluster)` — shared by the q50 oracle and the q99 keep-best oracle:
    * star-edge contraction (bucket min, member->min edges, per-edge
    * signature agreement), then recursive min-label propagation.
    */
  private def starClusterCtes: String =
    s"""WITH RECURSIVE ${sigBandCtes("")},
       bm AS (SELECT band, bucket, min(doc_id) AS m FROM bands GROUP BY 1, 2),
       se AS (SELECT DISTINCT l.doc_id AS s, bm.m AS t
              FROM bands l JOIN bm USING (band, bucket)
              WHERE l.doc_id <> bm.m),
       edges AS (SELECT s, t FROM se
                 JOIN sig a ON se.s = a.doc_id
                 JOIN sig b ON se.t = b.doc_id
                 WHERE $agreeSql >= ${(NumHashes + 1) / 2}),
       e AS (SELECT s, t FROM edges UNION ALL SELECT t, s FROM edges),
       r AS (SELECT doc_id AS node, doc_id AS comp FROM documents
             UNION
             SELECT e.s AS node, r.comp FROM e JOIN r ON e.t = r.node),
       cl AS (SELECT node AS doc_id, min(comp) AS cluster FROM r GROUP BY node)"""

  /** Full statement computing the star-contracted clustering on the
    * SHINGLE unit as `(doc_id, cluster)` — q104's star side.
    */
  private lazy val shingleStarClustersSelectSql: String =
    s"""${withShingleTok(starClusterCtes)}
       SELECT doc_id, cluster FROM cl"""

  /** DuckDB twin of the q104 policy comparison: both clusterings as
    * derived tables, then the pairwise partition contingency. Integer
    * divisions stay integral (`//`, c*(c-1) is even) and the HUGEINT
    * sums are cast back to BIGINT for hash parity.
    */
  private lazy val clusterPolicyOracleSql: String =
    s"""WITH star AS (SELECT doc_id, cluster FROM ($shingleStarClustersSelectSql) s),
       ex AS (SELECT doc_id, cluster FROM ($shingleClustersSelectSql) t),
       j AS (SELECT s.cluster AS cs, e.cluster AS ce
             FROM star s JOIN ex e USING (doc_id)),
       ps AS (SELECT coalesce(sum(c*(c-1)//2), 0) AS p
              FROM (SELECT count(*) AS c FROM j GROUP BY cs) x),
       pe AS (SELECT coalesce(sum(c*(c-1)//2), 0) AS p
              FROM (SELECT count(*) AS c FROM j GROUP BY ce) x),
       pb AS (SELECT coalesce(sum(c*(c-1)//2), 0) AS p
              FROM (SELECT count(*) AS c FROM j GROUP BY cs, ce) x)
       SELECT CAST(pe.p AS BIGINT) AS pairs_exact,
              CAST(ps.p AS BIGINT) AS pairs_star,
              CAST(pb.p AS BIGINT) AS pairs_both,
              CAST(pe.p - pb.p AS BIGINT) AS split_pairs,
              CAST(ps.p - pb.p AS BIGINT) AS merged_pairs
       FROM ps, pe, pb"""

  /** DuckDB twin of [[dedupClusters]]. */
  private lazy val starClustersOracleSql: String =
    s"""$starClusterCtes
       SELECT doc_id, cluster, doc_id = cluster AS is_canonical
       FROM cl ORDER BY doc_id"""

  /** DuckDB twin of [[dedupKeepBest]]: the q26 quality formula joined to
    * the cluster table; per-cluster argmax on (score desc, doc_id).
    */
  private lazy val keepBestOracleSql: String =
    s"""$starClusterCtes,
       sc AS (SELECT doc_id,
                CAST(least(n_tokens, 200) AS DOUBLE) / 200 * 0.6 +
                CASE WHEN avg_len BETWEEN 3 AND 8 THEN 0.4 ELSE 0.1 END AS score
              FROM (SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
                      CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                        / len(string_split(text,' ')) AS avg_len
                    FROM documents) t),
       j AS (SELECT cl.cluster, cl.doc_id, sc.score FROM cl JOIN sc USING (doc_id)),
       best AS (SELECT cluster, doc_id, score,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY score DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY cluster) AS n_members
                FROM j)
       SELECT cluster, doc_id AS kept_doc, n_members,
              round(score, 4) AS best_score
       FROM best WHERE rn = 1 ORDER BY cluster"""

  /** DuckDB twin of [[dedupClustersPairwiseOf]] over shingle sets (q95):
    * recursive min-label propagation over the exact est>=0.5 pair graph.
    */
  /** Full statement computing the exact-pairwise shingle clustering as
    * `(doc_id, cluster)` — the body of the q95 oracle, reused as a
    * derived table by the q104 policy comparison.
    */
  private lazy val shingleClustersSelectSql: String =
    s"""WITH RECURSIVE ${withShingleTok(minhashCtes(""))},
       e AS (SELECT doc_a AS s, doc_b AS t FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       r AS (SELECT doc_id AS node, doc_id AS comp FROM documents
             UNION
             SELECT e.s AS node, r.comp FROM e JOIN r ON e.t = r.node),
       cl AS (SELECT node AS doc_id, min(comp) AS cluster FROM r GROUP BY node)
       SELECT doc_id, cluster FROM cl"""

  private lazy val shingleClustersOracleSql: String =
    s"""WITH base AS ($shingleClustersSelectSql)
       SELECT doc_id, cluster, doc_id = cluster AS is_canonical
       FROM base ORDER BY doc_id"""

  /** Star-edge contraction of the LSH candidate graph: every band bucket
    * contracts to member -> min(member) edges instead of the O(|bucket|²)
    * pairwise expansion, so the CC input is LINEAR in the band-entry
    * count (<= bands-per-doc edges per doc) no matter how degenerate the
    * buckets get. This is what un-bounds clustering on shared-vocabulary
    * corpora: the pairwise q30 graph grows quadratically there (6.1M
    * est>=0.5 pairs over 5k docs at sf0.1), while the star graph stays at
    * ~4 edges/doc by construction. Connectivity through a bucket is
    * preserved exactly (all members reach the bucket min).
    *
    * groupBy-min + equi-join back, NOT a whole-partition window: the min
    * combines map-side, and a degenerate mega-bucket hits the join as a
    * skewed key (AQE-splittable) instead of pinning one window task.
    */
  def starEdges(sig: DataFrame): DataFrame = starEdgesFromBands(bandsOf(sig))

  /** Star contraction over an already-materialized (doc_id, band,
    * bucket) table — the serve-side entry (the persisted index's band
    * parquet feeds it directly, no signature re-derivation).
    */
  private[dedup] def starEdgesFromBands(bands: DataFrame): DataFrame = {
    val bm = bands.groupBy("band", "bucket").agg(min("doc_id").as("m"))
    bands.join(bm, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("s"), col("m").as("t"))
      .distinct()
  }

  /** Near-dup clusters over the FULL corpus — the 100 TB dedup reducer.
    * Pipeline: MinHash signatures -> star-contracted candidate edges
    * ([[starEdges]]) -> per-edge signature-agreement verification
    * (est >= 0.5, i.e. agreement on >= half the permutations) -> CC ->
    * cluster id = min reachable doc_id, canonical = cluster head.
    *
    * Verification is per EDGE (member vs bucket representative), not per
    * candidate PAIR: that keeps the verified graph linear too. Members
    * that near-duplicate each other but not their bucket representative
    * can land in separate clusters — the standard recall trade of
    * representative-verified LSH dedup; multiple independent bands keep
    * that rare. The exact pairwise-threshold policy remains available as
    * [[dedupClustersPairwiseOf]] (q95 runs it where the pair graph is
    * sparse — shingles).
    *
    * SERVED from the persisted full-corpus index (the q112/q149
    * discipline): the star edges and the verification both read the
    * artifact's signature parquet — the tokenize+hash lineage runs
    * once at build time, shared with every other full-corpus LSH
    * dashboard, instead of being recomputed and re-retained per query
    * (DedupIndexSpec pins served ≡ recomputed cluster-for-cluster).
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupClustersStarFromIndex(docs, servedFullDedupIndex(s, docs, d))
      .orderBy("doc_id")
  }

  /** Keep-best dedup reduction (q99): the star-contracted clusters joined
    * with the q26 quality score; each cluster keeps its highest-scoring
    * member (ties on min doc_id) — the production "which copy survives"
    * policy, where min-doc_id canonicalization is just the tiebreak. One
    * extra broadcast-scale join + per-cluster argmax over the clustering
    * pipeline, which serves from the same persisted full-corpus index
    * as q50/q112/q149.
    */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("avg_len",
        (length(col("text")).cast("long") - col("n_tokens") + 1).cast("double")
          / col("n_tokens"))
      .select(col("doc_id"),
        (least(col("n_tokens"), lit(200L)).cast("double") / 200d * 0.6
          + when(col("avg_len").between(3d, 8d), 0.4).otherwise(0.1)).as("score"))
    dedupClustersStarFromIndex(docs, servedFullDedupIndex(s, docs, d))
      .select("doc_id", "cluster")
      .join(scored, "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster"), (-col("m.nd")).as("kept_doc"),
        col("n_members"), round(col("m.score"), 4).as("best_score"))
      .orderBy("cluster")
  }

  def dedupClustersStarOf(docs: DataFrame): DataFrame =
    dedupClustersStarFrom(docs,
      graft.CacheScope.retain(signaturesOf(docs, 1)))

  /** The star-contracted policy over caller-supplied signatures (token
    * or shingle unit, recomputed or read from an index); the band
    * table is `bandsOf(sig)`. `sig` feeds the edges and both sides of
    * the verify join, so callers pass a retained frame.
    */
  private def dedupClustersStarFrom(docs: DataFrame,
      sig: DataFrame): DataFrame = {
    val se = starEdgesFromBands(bandsOf(sig))
    val a = sig.as("a"); val b = sig.as("b")
    val agree = agreeExpr("a", "b")
    val edges = se.join(a, col("s") === col("a.doc_id"))
      .join(b, col("t") === col("b.doc_id"))
      .filter(agree >= (NumHashes + 1) / 2)
      .select("s", "t")
    clustersFromEdges(docs, edges)
  }

  /** The q50/q99/q104 serve path: star-contracted clusters over the
    * signatures of the persisted index at `path` (the star twin of
    * [[dedupClustersFromIndex]]).
    */
  private[dedup] def dedupClustersStarFromIndex(docs: DataFrame,
      path: String): DataFrame =
    dedupClustersStarFrom(docs,
      graft.CacheScope.retain(indexSignatures(docs.sparkSession, path)))

  /** Exact pairwise-threshold clustering: CC over the [[minhashPairs]]
    * est>=0.5 graph built from `signatures`; docs with no near-dup pair
    * are singleton clusters. The pair graph is O(|bucket|²) per band
    * bucket, so this policy is for corpora/units where the threshold
    * graph is sparse (shingles on natural text — q95); [[dedupClusters]]
    * is the star-contracted policy that stays linear regardless.
    */
  def dedupClustersPairwiseOf(docs: DataFrame, signatures: DataFrame): DataFrame =
    clustersFromEdges(docs,
      pairsFromSignaturesUnsorted(signatures)
        .select(col("doc_a").as("s"), col("doc_b").as("t")))

  /** q95's serve path: the pair edges come from a persisted index
    * instead of a recomputed signature table.
    */
  private[dedup] def dedupClustersFromIndex(docs: DataFrame,
      path: String): DataFrame =
    clustersFromEdges(docs,
      pairsFromIndexUnsorted(docs.sparkSession, path)
        .select(col("doc_a").as("s"), col("doc_b").as("t")))

  /** UNSORTED (doc_id, cluster, is_canonical): query-edge consumers add
    * their own ORDER BY; aggregation consumers (q99) skip the sort.
    */
  private def clustersFromEdges(docs: DataFrame, edges: DataFrame): DataFrame = {
    val comp = graft.grid.Topology.graphComponents(edges)
    docs.select("doc_id")
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
  }

  /** Jaccard threshold and doc bound for the prefix-filtered
    * set-similarity join (q67). The synthetic corpus is similarity-dense
    * (see [[ClusterDocLimit]]), so the threshold sits high and the
    * subset bounded — on a natural corpus the prefix filter prunes the
    * candidate space by orders of magnitude.
    */
  val SetSimT = 0.85
  val SetSimDocLimit = 200

  /** Threshold and doc bound for the tf-idf sparse cosine pair join
    * (q100): 0.85 on the rounded cosine keeps the output at
    * hundreds-of-pairs scale on the similarity-dense synthetic corpus.
    */
  private val SparseCosT = 0.85
  private val SparseCosDocLimit = 400

  /** Full-corpus thresholds (q105/q106): high enough that the output is
    * twins-only, so no doc bound is needed in either engine. Both
    * shingle-unit distributions are bimodal (twins >= 0.8, noise
    * < 0.5), so the thresholds sit in the gap with margin on both
    * sides.
    */
  val SparseCosFullT = 0.6
  val SetSimFullT = 0.7

  /** Tf-idf-weighted cosine pairs via the inverted-index (posting-list)
    * join: pair dots come only from shared-token postings, so the work
    * is Σ_token df² — LINEAR in corpus size whenever the unit is sparse
    * (df bounded). The unit choice is the scale decision: q100 runs
    * word tokens on a bounded subset (this corpus's 31-word vocabulary
    * makes token postings quadratic-dense — no index can fix a unit
    * with no rare features), q106 runs shingles unbounded (max df 25 at
    * sf0.1).
    *
    * MEASURED dead end, for the record: All-Pairs prefix filtering
    * (Bayardo, Ma & Srikant, WWW 2007 — order tokens by descending
    * corpus-max normalized weight, index only the prefix whose tail
    * bound can still reach t) was implemented and benchmarked here. On
    * token units it prunes nothing (every doc is dense over every
    * dimension), and on shingle units the idf-flat weights keep ~all
    * postings in the prefix while its candidate+verify re-join doubles
    * the work (8.0 s vs ~2 s at sf0.1). Prefix filtering pays off on
    * skewed natural vocabularies; for this suite the plain posting join
    * is both simpler and faster. Output: (doc_a, doc_b, cos_sim),
    * unsorted; thresholds on the 4-dp ROUNDED cosine (suite
    * convention).
    */
  def sparseCosinePairs(sub: DataFrame, t: Double): DataFrame =
    sparseCosinePairsOf(
      sub.select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
      sub.agg(count(lit(1)).as("n_docs")), t)

  /** Token-occurrence stream of w-token shingles (WITH multiplicity —
    * [[shingleSets]] is the distinct variant): the sparse-vector unit
    * whose document frequencies stay low on any corpus, including one
    * with a tiny word vocabulary.
    */
  def shingleOccurrences(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $w
           THEN transform(sequence(0, size(toks) - $w),
                          i -> concat_ws(' ', slice(toks, i + 1, $w)))
           ELSE array() END""")).as("token"))

  /** [[sparseCosinePairs]] over an arbitrary (doc_id, token) unit stream
    * (tokens with multiplicity; `nDocs` supplies the single-row
    * n_docs idf denominator).
    */
  def sparseCosinePairsOf(units: DataFrame, nDocs: DataFrame, t: Double): DataFrame = {
    val tf = units.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = nDocs
    val w = graft.CacheScope.retain(
      tf.join(dfreq, Seq("token")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          (col("tf") * log(col("n_docs").cast("double") / col("df")))
            .as("w")))
    // nrm = 0 (every token of the doc in every doc) would make cos_sim
    // NaN, and Spark (NaN >= t false) and DuckDB (NaN sorts above all)
    // disagree on NaN — exclude zero-weight docs in BOTH engines
    // identically.
    val nrm = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .filter(col("nrm") > 0)
    val a = w.select(col("doc_id").as("doc_a"), col("token"), col("w").as("wa"))
    val b = w.select(col("doc_id").as("doc_b"), col("token"), col("w").as("wb"))
    val dots = a.join(b, Seq("token"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / (col("na") * col("nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= t)
  }

  /** DuckDB twin of [[sparseCosinePairs]] over an optionally bounded doc
    * subset at threshold `t`.
    */
  private def sparseCosOracleSql(where: String, t: Double): String =
    sparseCosOracleBody(
      s"""sub AS (SELECT * FROM documents $where),
         tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM sub)""",
      "SELECT count(*) AS n_docs FROM sub", t)

  /** DuckDB twin of the q106 shingle-unit variant: identical body, tok
    * holds w-token shingles WITH multiplicity (the canonical shingle
    * CTE minus its DISTINCT — derived, not copied, so the shingle
    * arithmetic lives in exactly one string), n_docs counts all docs.
    */
  private lazy val sparseCosShingleOracleSql: String = {
    val occurrences = shingleTokCteSql
      .replace("SELECT DISTINCT doc_id", "SELECT doc_id")
    require(occurrences != shingleTokCteSql, "DISTINCT strip failed")
    sparseCosOracleBody(occurrences,
      "SELECT count(*) AS n_docs FROM documents", SparseCosFullT)
  }

  private def sparseCosOracleBody(tokCtes: String, nSql: String, t: Double): String =
    s"""WITH $tokCtes,
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       n AS ($nSql),
       w AS (SELECT doc_id, token, tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
             FROM tf JOIN df USING (token) CROSS JOIN n),
       nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1
               HAVING sqrt(sum(w*w)) > 0),
       dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  sum(a.w * b.w) AS dot
                FROM w a JOIN w b ON a.token = b.token
                  AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
       FROM dots JOIN nrm na ON doc_a = na.doc_id
                 JOIN nrm nb ON doc_b = nb.doc_id
       WHERE round(dot / (na.nrm * nb.nrm), 4) >= $t
       ORDER BY doc_a, doc_b"""

  /** q101's arrivals/corpus split point: docs at or above it play the
    * arriving stream, docs below it the existing index.
    */
  val NeardupArrivalSplit = 250

  /** q119's second batch boundary: ids in [NeardupArrivalSplit,
    * AdvanceSplit2) are batch 1, ids >= AdvanceSplit2 batch 2.
    */
  val AdvanceSplit2 = 375

  /** Exact set-similarity self-join with PREFIX FILTERING (PPJoin
    * family): order every doc's token set by ascending document
    * frequency (rarest first, ties on token), keep only the first
    * n - ceil(t*n) + 1 tokens as its "prefix", and generate candidates
    * from docs sharing a prefix token. Any pair with Jaccard >= t must
    * share a prefix token (pigeonhole on the overlap bound), so exact
    * verification of candidates returns EXACTLY the brute-force result —
    * without the O(n²) pair scan. Output: (doc_a, doc_b, jaccard).
    */
  def setSimJoin(docs: DataFrame, t: Double): DataFrame =
    setSimJoinFromSets(graft.CacheScope.retain(tokenSetArraysOf(docs)), t)

  /** [[setSimJoin]] over an arbitrary (doc_id, token) SET stream —
    * kept for callers that already hold an exploded stream. `tok` is
    * consumed ONCE (the groupBy building the per-doc set arrays,
    * which this wrapper retains itself), so callers need not persist
    * it; the declared queries use [[setSimJoinFromSets]] directly
    * with per-row-built arrays.
    */
  def setSimJoinOf(tok: DataFrame, t: Double): DataFrame =
    setSimJoinFromSets(graft.CacheScope.retain(
      tok.groupBy("doc_id")
        .agg(sort_array(collect_list(col("token"))).as("set"))), t)

  /** [[setSimJoin]] over per-doc SORTED SET ARRAYS — the entry
    * the declared queries use: the set arrays are built PER ROW
    * (sort_array over array_distinct — no corpus-wide distinct shuffle,
    * no collect_list exchange of every token string, the two heaviest
    * exchanges of the token-stream entry above), and the prefix
    * window's set size comes from size(set) instead of a second window
    * function. Verification as before: the codegen'd sorted-merge
    * intersection per candidate pair. `sets` must be retained by the
    * caller — it feeds the token explode AND both verify sides.
    */
  def setSimJoinFromSets(sets: DataFrame, t: Double): DataFrame = {
    val tok = sets.select(col("doc_id"), size(col("set")).as("n"),
      explode(col("set")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    // ONE window pass (shuffle by doc_id) yields the frequency rank;
    // prefix rows CARRY their size through the candidate join, so no
    // later sizes aggregation or per-side join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "token")
    val prefix = tok.join(broadcast(dfreq), "token")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select("doc_id", "token", "n")
    val cand = prefix.as("l").join(prefix.as("r"),
        col("l.token") === col("r.token")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.n").as("na"), col("r.n").as("nb"))
      .distinct()
    // Verification on per-doc SORTED ARRAYS: the token-level
    // verify (cand ⋈ tok ⋈ tok + pair aggregate) shuffles Σ_pairs |set|
    // rows; the intersection is a codegen'd merge scan per candidate
    // PAIR row ([[graft.functions.SortedIntersectCount]]). set elements
    // are distinct per doc by contract, so the merge count IS
    // |S_a ∩ S_b| — exact, same jaccard arithmetic as before.
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("sb")), "doc_b")
      .withColumn("ni",
        graft.functions.SetOps.sortedIntersectCount(col("sa"), col("sb")))
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Per-row sorted token-set arrays — [[tokenSetsOf]] without the
    * corpus-wide distinct exchange (the distinct happens inside the
    * row).
    */
  private def tokenSetArraysOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      sort_array(array_distinct(split(col("text"), " "))).as("set"))

  /** Per-row sorted shingle-set arrays — [[shingleSets]] without the
    * explode (the same window/dedup arithmetic, kept in-row).
    */
  private def shingleSetArraysOf(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), sort_array(expr(
        s"""CASE WHEN size(toks) >= $w
           THEN array_distinct(transform(sequence(0, size(toks) - $w),
                          i -> concat_ws(' ', slice(toks, i + 1, $w))))
           ELSE array() END""")).as("set"))

  /** SimHash band layout for the hamming-pair join (q68): 4 bands of 15
    * bits. By pigeonhole, any pair within hamming distance <= 3 agrees
    * on at least one whole band, so band-bucket candidates + exact
    * verification return EXACTLY the brute-force result.
    */
  val HammingMax = 3
  val SimBands = 4
  val SimBandBits = 15

  /** Near-dup pairs by SimHash hamming distance <= [[HammingMax]] over
    * band-bucket candidates. Output: (doc_a, doc_b, hamming).
    */
  def simhashHammingPairs(docs: DataFrame): DataFrame = {
    // per-row signature build: zero shuffles before the band join
    val sig = graft.CacheScope.retain(
      simhashPerRow(docs).select("doc_id", "simhash"))
    val bands = (0 until SimBands).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        shiftright(col("simhash"), b * SimBandBits)
          .bitwiseAND((1L << SimBandBits) - 1).as("bucket"))
    }.reduce(_ unionAll _)
    val cand = bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val a = sig.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sig.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select("doc_a", "doc_b", "hamming")
  }

  /** CTE chain computing the SimHash signature as `sig(doc_id, sh)` over
    * an optionally bounded doc subset — shared by the q36 and q68
    * oracles.
    */
  private def simhashCtes(where: String): String = {
    val bitSums = (0 until SimHashBits).map(i =>
      s"sum(((h >> $i) & 1) * 2 - 1) AS b$i").mkString(",\n  ")
    val sigExpr = (0 until SimHashBits).map(i =>
      s"CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""${tokCteWhere(where)},
       h AS (SELECT doc_id, ${h60Sql("token")} AS h FROM tok),
       b AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       sig AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS sh FROM b)"""
  }

  /** DuckDB twin of [[simhash]] (bit-for-bit parity via h60). */
  private lazy val simhashOracleSql: String =
    s"""WITH ${simhashCtes("")}
       SELECT doc_id, sh AS simhash FROM sig ORDER BY doc_id"""

  /** Doc bound for the simhash hamming-pair join (quadratic brute-force
    * oracle; the banded Spark path scales past it).
    */
  val HamDocLimit = 1000

  private lazy val hammingOracleSql: String =
    s"""WITH ${simhashCtes(s"WHERE doc_id < $HamDocLimit")}
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sh, b.sh)) <= $HammingMax
       ORDER BY doc_a, doc_b"""

  /** Brute-force O(n²) DuckDB twin of [[setSimJoin]] over an optionally
    * bounded doc subset at threshold `t`.
    */
  private def setSimOracleSqlAt(where: String, t: Double): String =
    s"""WITH ${tokCteWhere(where)},
       sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
                 FROM tok a JOIN tok b
                   ON a.token = b.token AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
       FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
       WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= $t
       ORDER BY doc_a, doc_b"""

  private lazy val setSimOracleSql: String =
    setSimOracleSqlAt(s"WHERE doc_id < $SetSimDocLimit", SetSimT)
}
