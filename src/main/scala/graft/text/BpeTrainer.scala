package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q140: MULTI-ITERATION BPE TRAINING — the real tokenizer-trainer
  * loop, extending q128's single merge induction: count adjacent
  * symbol pairs (weighted by word frequency), adopt the most frequent
  * pair as a merge rule, RE-SEGMENT every word with it, recount, next
  * merge. [[BpeIters]] iterations are unrolled (the q133 fixed-
  * iteration oracle pattern) so the whole trainer is one lazy plan
  * with a DuckDB CTE twin.
  *
  * Representation: a word's segmentation is its symbols each wrapped
  * in \u001f ("\u001fa\u001f\u001fb\u001f..."), so applying a merge
  * (a, b) is a plain `replace` of "\u001fa\u001f\u001fb\u001f" with
  * "\u001fab\u001f" — and because adjacent wrapped symbols share NO
  * characters, string replace's leftmost-non-overlapping scan is
  * EXACTLY BPE's left-to-right merge order, identically in Spark and
  * DuckDB ("aaa" + merge (a,a) -> [aa, a]; "abab" + (a,b) ->
  * [ab, ab]).
  *
  * Scale shape: the corpus collapses ONCE to the distinct-word table
  * with counts (the classic trainer preprocessing — vocabulary-scale,
  * millions of rows, not corpus-scale); every iteration is then an
  * explode + map-side-combined count over that table plus a broadcast
  * of the single winning pair — no driver-side action anywhere, no
  * shuffle wider than the distinct-pair space (bounded by vocab²,
  * in practice tiny). A merge exhausting all pairs yields an empty
  * winner and every later step degrades to zero rows, matching a real
  * trainer stopping early.
  */
object BpeTrainer {
  /** Unrolled trainer iterations (and oracle CTE stages). */
  val BpeIters = 4

  private val US = "\u001f"

  /** Adjacent symbol pairs of each segmentation row (a, b, wcnt). */
  private def pairsOf(w: DataFrame): DataFrame = {
    val syms = split(trim(col("seg"), US), US + US)
    // slice length max(n-1, 0): a fully-merged word has ONE symbol and
    // contributes no pairs (sequence(1, n-1) would throw on n = 1)
    val n1 = greatest(size(syms) - 1, lit(0))
    // arrays_zip, not zip_with (r19): ZipWith is CodegenFallback
    // (interpreted per element) while ArraysZip is codegen'd — this
    // runs once per trainer step over the whole vocab, so the adjacent
    // pairing stays inside whole-stage codegen. Rows identical: both
    // zip the same two slices positionally. The slices are aliased so the
    // struct fields are named a and b, not Spark's positional fallback.
    w.select(explode(arrays_zip(slice(syms, lit(1), n1).as("a"),
        slice(syms, lit(2), n1).as("b"))).as("p"), col("wcnt"))
      .select(col("p.a"), col("p.b"), col("wcnt"))
      .groupBy("a", "b").agg(sum("wcnt").as("cnt"))
  }

  /** The shared trainer loop: per-step winner tables plus the FINAL
    * vocabulary segmentation (w, seg, wcnt) after all adopted merges.
    * The vocab table is lazily defined (persist registration costs
    * nothing unless a consumer materializes it), so trainer-only
    * callers never pay for the last re-segmentation.
    */
  private def trained(docs: DataFrame,
      iters: Int): (Seq[DataFrame], DataFrame) = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains(US))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
    var w = graft.CacheScope.retain(words.select(col("w"),
      concat(lit(US),
        array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), US + US),
        lit(US)).as("seg"),
      col("wcnt")))
    val steps = (1 to iters).map { step =>
      val top1 = graft.CacheScope.retain(
        pairsOf(w).orderBy(col("cnt").desc, col("a"), col("b")).limit(1))
      // adopt the merge: one broadcast row against the vocab table
      w = graft.CacheScope.retain(
        w.crossJoin(broadcast(top1.select(col("a").as("ma"),
            col("b").as("mb"))))
          .select(col("w"), replace(col("seg"),
            concat(lit(US), col("ma"), lit(US + US), col("mb"), lit(US)),
            concat(lit(US), col("ma"), col("mb"), lit(US))).as("seg"),
            col("wcnt")))
      top1.select(lit(step).as("step"),
        concat_ws(" ", col("a"), col("b")).as("pair"), col("cnt"))
    }
    (steps, w)
  }

  /** The trainer output: (step, pair "a b", cnt) for each adopted merge. */
  def bpeTrainerOf(docs: DataFrame, iters: Int = BpeIters): DataFrame =
    trained(docs, iters)._1.reduce(_ unionAll _).orderBy("step")

  /** q141: ENCODE the corpus with the learned merges — the application
    * half of the trainer: each document's token count under the
    * trained segmentation. A word in the trained vocab costs its
    * post-merge symbol count (a join against the pricing table); a
    * word OUTSIDE the vocab is segmented by greedily APPLYING the
    * learned merge list at encode time (the same unit-separator
    * replace unrolling the trainer uses, per row) — the served-
    * tokenizer contract: unseen text must be priced by the rules, not
    * flat-priced. Scale shape: pricing (vocab join + OOV chain) runs
    * at DISTINCT-WORD granularity and the per-word price joins back
    * to the doc-word stream on the word hash — skew bounded by
    * natural word frequency; the merges are ONE pivoted broadcast
    * row (see [[pricedWords]]).
    */
  def bpeEncodeOf(docs: DataFrame, iters: Int = BpeIters): DataFrame = {
    val (steps, vocab) = trained(docs, iters)
    encode(docs, vocabSizes(vocab), mergesFrame(docs, steps), iters)
  }

  /** The adopted-merge rows as one frame; a 0-iteration trainer yields
    * an EMPTY (step, pair, cnt) frame, whose mergeRow pivot is one
    * all-NULL row — every replace in the OOV chain a no-op, i.e. pure
    * character pricing, exactly the 0-merge semantics.
    */
  private def mergesFrame(docs: DataFrame,
      steps: Seq[DataFrame]): DataFrame =
    if (steps.nonEmpty) steps.reduce(_ unionAll _)
    else docs.sparkSession.range(0)
      .select(lit(0).as("step"), lit("").as("pair"), lit(0L).as("cnt"))

  /** The vocab reduced to its pricing table (w, n_sym). */
  private def vocabSizes(vocab: DataFrame): DataFrame =
    vocab.select(col("w"),
      size(split(trim(col("seg"), US), US + US)).as("n_sym"))

  /** The adopted merges pivoted to ONE broadcastable row
    * (ma1, mb1, ..., ma<iters>, mb<iters>) — a missing step (trainer
    * exhausted pairs early) yields NULL halves, which the OOV chain
    * coalesces to a four-US pattern no real segmentation contains
    * (symbols are never empty), making that replace a no-op.
    */
  private def mergeRow(merges: DataFrame, iters: Int): DataFrame =
    if (iters == 0) // no merges: a 1-row placeholder, chain is empty
      merges.sparkSession.range(1).select(lit(1).as("__nomerges"))
    else {
      val aggs = (1 to iters).flatMap { i => Seq(
        max(when(col("step") === i, split(col("pair"), " ")(0))).as(s"ma$i"),
        max(when(col("step") === i, split(col("pair"), " ")(1))).as(s"mb$i"))
      }
      merges.agg(aggs.head, aggs.tail: _*)
    }

  /** Greedy merge application to one word (expects the mergeRow
    * columns in scope): wrap each char in US, apply the learned merges
    * in adoption order — identical semantics to the trainer's
    * re-segmentation, so a TRAINING word priced through this path gets
    * exactly its vocab n_sym (BpePropertiesSpec pins it).
    */
  private def oovSegment(w: Column, iters: Int): Column = {
    val wrapped = concat(lit(US),
      array_join(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), US + US), lit(US))
    (1 to iters).foldLeft(wrapped) { (seg, i) =>
      replace(seg,
        concat(lit(US), coalesce(col(s"ma$i"), lit("")), lit(US + US),
          coalesce(col(s"mb$i"), lit("")), lit(US)),
        concat(lit(US), coalesce(col(s"ma$i"), lit("")),
          coalesce(col(s"mb$i"), lit("")), lit(US)))
    }
  }

  private def oovSymbolCount(w: Column, iters: Int): Column =
    size(split(trim(oovSegment(w, iters), US), US + US))

  /** Per-occurrence priced word stream (doc_id, w, n_sym nullable,
    * n_eff) — the ONE copy of the pricing rule every encode query
    * aggregates over (q141 recompute, q146 artifact-served, q151
    * held-out): vocab hit -> n_sym, miss -> greedy merge application.
    *
    * Priced at DISTINCT-WORD granularity, then joined back to the
    * occurrence stream — the same collapse the trainer itself uses:
    * the OOV replace chain is ~4·iters string replaces per row, and
    * evaluating it per occurrence (500k rows at sf0.1) instead of per
    * distinct word (vocab-scale) was a measured 5× regression on q141.
    * The distinct() is a map-side-combining shuffle of bare words; the
    * price join back is vocab-vs-occurrences on the word — the exact
    * shape of the vocab join it replaces.
    *
    * Words CONTAINING the U+001F wrapper are priced per-character: the
    * trainer excludes them from its vocab (a symbol boundary inside a
    * symbol is unrepresentable), and running them through the replace
    * chain is unsound — their wrapped form contains runs of
    * consecutive US chars that a NULL (exhausted-step) merge's
    * four-US no-op pattern would spuriously match and corrupt.
    */
  private def pricedWords(docs: DataFrame, vsize: DataFrame,
      merges: DataFrame, iters: Int): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val priced = occ.select("w").distinct()
      .join(vsize, Seq("w"), "left")
      .crossJoin(broadcast(mergeRow(merges, iters)))
      .select(col("w"), col("n_sym"),
        coalesce(col("n_sym"),
          when(col("w").contains(US), length(col("w")))
            .otherwise(oovSymbolCount(col("w"), iters))).as("n_eff"))
    occ.join(priced, Seq("w"))
      .select(col("doc_id"), col("w"), col("n_sym"), col("n_eff"))
  }

  /** The shared pricing aggregation of q141/q146. */
  private def encode(docs: DataFrame, vsize: DataFrame,
      merges: DataFrame, iters: Int): DataFrame = {
    val nTok = sum(col("n_eff"))
    pricedWords(docs, vsize, merges, iters)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), nTok.as("n_tokens"),
        round(sum(length(col("w"))).cast("double") / nTok, 4)
          .as("chars_per_token"))
  }

  /** One oracle iteration: pairs over w$i-1, winner m$i, re-segmented
    * w$i. chr(31) is the \u001f wrapper.
    */
  private def iterSql(i: Int): String = {
    val prev = s"w${i - 1}"
    s"""p$i AS (
       SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(wcnt) AS BIGINT) AS cnt
       FROM (SELECT s, wcnt,
               unnest(generate_series(1, len(s) - 1)) AS i
             FROM (SELECT string_split(trim(seg, chr(31)),
                     chr(31) || chr(31)) AS s, wcnt FROM $prev) x) y
       GROUP BY 1, 2),
       m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
       w$i AS (SELECT w, replace(seg,
                 chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
                 chr(31) || m.a || m.b || chr(31)) AS seg, wcnt
               FROM $prev, m$i m)"""
  }

  /** The words/w0 + unrolled-iteration CTE prefix both oracles share;
    * `where` restricts the TRAINING corpus (q151's held-out split).
    */
  private def trainerCtes(where: String = ""): String = {
    val iters = (1 to BpeIters).map(iterSql).mkString(",\n")
    s"""words AS (
       SELECT w, count(*) AS wcnt FROM (
         SELECT unnest(string_split(text, ' ')) AS w FROM documents $where) x
       WHERE len(w) >= 2 AND NOT contains(w, chr(31))
       GROUP BY w),
       w0 AS (
       SELECT w, chr(31) || array_to_string(
           list_transform(generate_series(1, len(w)),
             i -> substr(w, CAST(i AS INT), 1)),
           chr(31) || chr(31)) || chr(31) AS seg, wcnt
       FROM words),
       $iters"""
  }

  private def oracleSql: String = {
    val out = (1 to BpeIters).map(i =>
      s"SELECT $i AS step, a || ' ' || b AS pair, cnt FROM m$i")
      .mkString("\n UNION ALL ")
    s"""WITH ${trainerCtes()}
       SELECT * FROM ($out) ORDER BY step"""
  }

  /** The one-row merge pivot (a1, b1, ..., a<iters>, b<iters>) off the
    * m$i winner CTEs — scalar subqueries so an exhausted step yields
    * NULLs, coalesced to '' in the chain exactly as the Scala side.
    */
  private def mergeRowCte: String = {
    val cols = (1 to BpeIters).map(i =>
      s"(SELECT a FROM m$i) AS a$i, (SELECT b FROM m$i) AS b$i")
      .mkString(", ")
    s"mg AS (SELECT $cols)"
  }

  /** DuckDB twin of [[oovSymbolCount]]: wrap each char of `w` in
    * chr(31), apply the adopted merges in order, count symbols.
    */
  private def oovCountSql(w: String): String = {
    val wrapped = s"chr(31) || array_to_string(list_transform(" +
      s"generate_series(1, len($w)), i -> substr($w, CAST(i AS INT), 1))," +
      s" chr(31) || chr(31)) || chr(31)"
    val applied = (1 to BpeIters).foldLeft(wrapped) { (seg, i) =>
      s"""replace($seg,
         chr(31) || coalesce(a$i, '') || chr(31) || chr(31)
           || coalesce(b$i, '') || chr(31),
         chr(31) || coalesce(a$i, '') || coalesce(b$i, '') || chr(31))"""
    }
    s"len(string_split(trim($applied, chr(31)), chr(31) || chr(31)))"
  }

  /** DuckDB twin of the full pricing rule: vocab n_sym, else
    * per-character for words containing the chr(31) wrapper (the
    * Scala-side US guard), else the greedy merge chain.
    */
  private def pricedNEffSql(w: String): String =
    s"""coalesce(n_sym, CASE WHEN contains($w, chr(31)) THEN len($w)
       ELSE ${oovCountSql(w)} END)"""

  private def encodeOracleSql: String =
    s"""WITH ${trainerCtes()},
       vs AS (SELECT w, len(string_split(trim(seg, chr(31)),
                chr(31) || chr(31))) AS n_sym FROM w$BpeIters),
       $mergeRowCte,
       dw AS (SELECT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents) x WHERE w <> ''),
       pr AS (SELECT doc_id, w,
                ${pricedNEffSql("w")} AS n_eff
              FROM dw LEFT JOIN vs USING (w), mg)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_eff) AS BIGINT) AS n_tokens,
         round(CAST(sum(len(w)) AS DOUBLE) / sum(n_eff), 4)
           AS chars_per_token
       FROM pr
       GROUP BY doc_id ORDER BY doc_id"""

  /** q151: the TRAIN/SERVE SPLIT — merges learned on three quarters of
    * the corpus (doc_id % 4 <> 3), the held-out quarter encoded
    * against them. The pricing vocab is additionally pruned to words
    * holding at least 1/[[MinShareDen]] of the training token mass —
    * the min-frequency cutoff every real tokenizer trainer applies
    * (rare words never get whole-word entries; they fall back to
    * subword merges) — so the greedy-application path genuinely fires
    * (n_oov counts the misses per doc). Pricing is INVARIANT to the
    * cutoff: a vocab hit prices at the trainer's segmentation, which
    * is exactly what the merge chain recomputes on a miss
    * (BpePropertiesSpec pins the equality) — what the cutoff changes
    * at 100 TB is the size of the shipped pricing table.
    */
  val HeldOutMod = 4L

  /** Vocab admission: wcnt / total >= 1/MinShareDen (integer math). */
  val MinShareDen = 100L

  def bpeEncodeHeldOut(docs: DataFrame,
      iters: Int = BpeIters): DataFrame = {
    val (steps, vocab) = trained(trainSplit(docs), iters)
    heldOutPricing(heldSplit(docs), prunedVocabSizes(vocab),
      mergesFrame(docs, steps), iters)
  }

  /** q151's split, defined ONCE as complementary halves: train on
    * three quarters, hold out the rest.
    */
  private def trainSplit(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % HeldOutMod =!= HeldOutMod - 1)
  private def heldSplit(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % HeldOutMod === HeldOutMod - 1)

  /** The vocab pruned to its min-frequency pricing table (w, n_sym) —
    * q151's vocab, where rare trained words fall out so the OOV path
    * actually fires on the held-out split.
    */
  private def prunedVocabSizes(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum("wcnt").as("t"))
    vocab.crossJoin(broadcast(tot))
      .filter(col("wcnt") * MinShareDen >= col("t"))
      .select(col("w"),
        size(split(trim(col("seg"), US), US + US)).as("n_sym"))
  }

  /** q151's pricing aggregation — ONE definition shared by the
    * recompute path and the artifact-served path (BpePropertiesSpec
    * pins their equality).
    */
  private def heldOutPricing(held: DataFrame, vs: DataFrame,
      merges: DataFrame, iters: Int): DataFrame = {
    val nTok = sum(col("n_eff"))
    pricedWords(held, vs, merges, iters)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("n_sym").isNull && length(col("w")) >= 2, 1)
          .otherwise(0)).as("n_oov"),
        nTok.as("n_tokens"),
        round(sum(length(col("w"))).cast("double") / nTok, 4)
          .as("chars_per_token"))
  }

  /** Persist the TRAIN-SPLIT model for q151: the adopted merges plus
    * the min-frequency-PRUNED pricing vocab — the pruning is part of
    * the trained artifact, so the serve side carries no corpus
    * statistics at all.
    */
  def saveHeldOutModel(docs: DataFrame, path: String,
      iters: Int = BpeIters): Unit = {
    val (steps, vocab) = trained(trainSplit(docs), iters)
    mergesFrame(docs, steps).write.mode("overwrite")
      .parquet(path + "/merges")
    prunedVocabSizes(vocab).write.mode("overwrite").parquet(path + "/vocab")
  }

  /** q151 SERVED from the persisted split model — no trainer in the
    * plan; the artifact decides the chain depth (the q146 invariance).
    */
  def heldOutEncodeWithModel(docs: DataFrame, path: String): DataFrame = {
    val (merges, vocab, iters) = loadModel(docs.sparkSession, path)
    heldOutPricing(heldSplit(docs), vocab, merges, iters)
  }

  private def heldOutOracleSql: String =
    s"""WITH ${trainerCtes(s"WHERE doc_id % $HeldOutMod <> ${HeldOutMod - 1}")},
       vs AS (SELECT w, len(string_split(trim(seg, chr(31)),
                chr(31) || chr(31))) AS n_sym
              FROM w$BpeIters, (SELECT sum(wcnt) AS t FROM words) tot
              WHERE wcnt * $MinShareDen >= t),
       $mergeRowCte,
       dw AS (SELECT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents
           WHERE doc_id % $HeldOutMod = ${HeldOutMod - 1}) x
         WHERE w <> ''),
       pr AS (SELECT doc_id, w, n_sym,
                ${pricedNEffSql("w")} AS n_eff
              FROM dw LEFT JOIN vs USING (w), mg)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN n_sym IS NULL AND len(w) >= 2
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(n_eff) AS BIGINT) AS n_tokens,
         round(CAST(sum(len(w)) AS DOUBLE) / sum(n_eff), 4)
           AS chars_per_token
       FROM pr
       GROUP BY doc_id ORDER BY doc_id"""

  /** The TOKENIZER ARTIFACT lifecycle (the q117/q118 pattern for BPE):
    * [[saveBpeModel]] persists the trained merge list and the derived
    * vocabulary segmentation as parquet — the artifact a production
    * pipeline trains once and ships to every encode job;
    * [[encodeWithModel]] prices documents against the artifact's
    * (word, n_sym) table WITHOUT re-training. q146 serves from a
    * per-JVM memoized artifact and must agree with q141's recompute
    * hash-for-hash (the artifact-read ≡ recompute contract, the same
    * gate q110/q117 pin for the dedup index).
    */
  def saveBpeModel(docs: DataFrame, path: String,
      iters: Int = BpeIters): Unit = {
    val (steps, vocab) = trained(docs, iters)
    mergesFrame(docs, steps)
      .write.mode("overwrite").parquet(path + "/merges")
    vocabSizes(vocab).write.mode("overwrite").parquet(path + "/vocab")
  }

  /** q141's encode against a PERSISTED model — no trainer in the plan:
    * the vocab artifact joins the doc-word stream directly, and the
    * artifact's merge list (a <=BpeIters-row parquet) prices OOV words
    * through the same greedy-application chain.
    */
  def encodeWithModel(docs: DataFrame, path: String): DataFrame = {
    val (merges, vocab, iters) = loadModel(docs.sparkSession, path)
    encode(docs, vocab, merges, iters)
  }

  /** Read the persisted model once: (merges, vocab, chain depth). The
    * ARTIFACT decides the chain depth — a model trained with a
    * non-default iteration count must price OOV words with ALL its
    * merges, or the vocab-hit ≡ merge-chain invariance breaks; the
    * depth read is a <= iters-row metadata action, not data-sized.
    */
  private def loadModel(s: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Int) = {
    val merges = s.read.parquet(path + "/merges")
    val iters = merges.agg(coalesce(max("step"), lit(0))).head.getInt(0)
    (merges, s.read.parquet(path + "/vocab"), iters)
  }

  /** q153: per-SOURCE token-compression drift, served from the
    * persisted tokenizer artifact — the production monitor that says
    * which feed's text suddenly prices worse (chars/token falling
    * means more OOV-ish or noisier text from that source). One pass
    * over the priced word stream, pre-aggregated to DOC granularity
    * before `source` enters the plan (the word stream collapses
    * map-side on doc_id, so the join and the source rollup move
    * doc-sized rows, never word-sized); the corpus reference ratio
    * comes from a window over the per-source rows (bounded by source
    * cardinality, never data-sized).
    */
  def tokenCompressionBySource(docs: DataFrame,
      path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (merges, vocab, iters) = loadModel(docs.sparkSession, path)
    val perDoc = pricedWords(docs, vocab, merges, iters)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_eff").as("n_tokens"),
        sum(length(col("w"))).as("n_chars"))
    val per = perDoc
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))
    val all = Window.partitionBy() // one row per SOURCE: bounded
    val ratio = col("n_chars").cast("double") / col("n_tokens")
    per.select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"),
        round(ratio, 4).as("chars_per_token"),
        round(ratio / (sum("n_chars").over(all).cast("double")
          / sum("n_tokens").over(all)), 4).as("vs_corpus"))
      .orderBy("source")
  }

  private def compressionOracleSql: String =
    s"""WITH ${trainerCtes()},
       vs AS (SELECT w, len(string_split(trim(seg, chr(31)),
                chr(31) || chr(31))) AS n_sym FROM w$BpeIters),
       $mergeRowCte,
       dw AS (SELECT doc_id, source, w FROM (
           SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
           FROM documents) x WHERE w <> ''),
       pr AS (SELECT source, doc_id, w,
                ${pricedNEffSql("w")} AS n_eff
              FROM dw LEFT JOIN vs USING (w), mg),
       per AS (SELECT source,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_eff) AS BIGINT) AS n_tokens,
                 CAST(sum(len(w)) AS BIGINT) AS n_chars
               FROM pr GROUP BY source)
       SELECT source, n_docs, n_words, n_tokens,
         round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token,
         round((CAST(n_chars AS DOUBLE) / n_tokens) /
           (CAST(sum(n_chars) OVER () AS DOUBLE) / sum(n_tokens) OVER ()),
           4) AS vs_corpus
       FROM per ORDER BY source"""

  /** Per-JVM served model artifacts: bench run 1 pays training, later
    * runs measure the serve-only cost the artifact exists to provide.
    */
  private def servedModel(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.TempArtifacts.served(graft.TempArtifacts.fingerprint(d,
      "documents"), "graft_bpe_model")(saveBpeModel(Tables.documents(s, d), _))
  private def servedHeldOutModel(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.TempArtifacts.served(graft.TempArtifacts.fingerprint(d,
      "documents"), "graft_bpe_heldout")(
      saveHeldOutModel(Tables.documents(s, d), _))

  def defs: Seq[Q] = Seq(
    Q("q140_bpe_trainer",
      (s, d) => bpeTrainerOf(Tables.documents(s, d)),
      Some(oracleSql)),
    Q("q141_bpe_encode",
      (s, d) => bpeEncodeOf(Tables.documents(s, d)).orderBy("doc_id"),
      Some(encodeOracleSql)),
    Q("q146_bpe_encode_served",
      (s, d) => encodeWithModel(Tables.documents(s, d), servedModel(s, d))
        .orderBy("doc_id"),
      Some(encodeOracleSql)),
    // ---- q151: the OOV path under a real train/serve split — see
    // [[bpeEncodeHeldOut]]: merges trained on 3/4 of the corpus price
    // the held-out quarter, unseen words segmented by greedy merge
    // application instead of a flat unk cost. Declared on the SERVED
    // split model (train once, price many — the q146 discipline;
    // BpePropertiesSpec pins served ≡ recompute), so bench min-of-3
    // measures the pricing cost, not a per-run retrain.
    Q("q151_bpe_oov_encode",
      (s, d) => heldOutEncodeWithModel(Tables.documents(s, d),
        servedHeldOutModel(s, d)).orderBy("doc_id"),
      Some(heldOutOracleSql)),
    // ---- q153: compression-ratio drift per source off the SERVED
    // artifact — the tokenizer-health dashboard a feed-quality rotation
    // watches; see [[tokenCompressionBySource]].
    Q("q153_token_compression",
      (s, d) => tokenCompressionBySource(Tables.documents(s, d),
        servedModel(s, d)),
      Some(compressionOracleSql)))
}
