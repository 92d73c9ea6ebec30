package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED perceptual-hash index — the image-side twin of the dedup
  * index: how a multimodal corpus keeps itself near-dup-free at ingest
  * without ever re-hashing the corpus. Its one
  * [[graft.sources.ArtifactVersions]] component is `hashes`: (doc_id,
  * hash), one 56-bit dHash per image. The 4 x 14-bit LSH band table
  * (doc_id, band, v) is [[bandsOf]] of it, derived at read time.
  *
  * Scale shape: ingest work is arrival-side only — decode+hash per
  * arrival, one band equi-join against the index, hamming verify
  * priced on candidates; the corpus is never re-read.
  */
object PhashIndex {
  import CodecQueries.{PhashBands, PhashBandBits, PhashMaxHamming}

  /** Band table of a hash frame: (doc_id, band, v). */
  def bandsOf(hashes: DataFrame): DataFrame = {
    val bandCols = (0 until PhashBands).map(b =>
      shiftright(col("hash"), b * PhashBandBits)
        .bitwiseAND((1L << PhashBandBits) - 1))
    hashes.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .toDF("doc_id", "band", "v")
  }

  def buildPhashIndex(hashes: DataFrame, path: String): Unit =
    graft.sources.ArtifactVersions.build(path, "hashes" -> hashes)

  def indexHashes(s: SparkSession, path: String): DataFrame =
    graft.sources.ArtifactVersions.read(s, path, "hashes")

  /** Advance with admitted images' (doc_id, hash) rows. */
  def advancePhashIndex(admitted: DataFrame, path: String,
      batchId: Option[Long] = None): Unit =
    graft.sources.ArtifactVersions.advance(path, "hashes", batchId)(
      admitted.select("doc_id", "hash"))

  /** Admission decisions for arriving image hashes against the
    * persisted index: banded candidates (pigeonhole-complete at the
    * verify threshold) → exact hamming verify → per arrival `dup` with
    * the LOWEST matching corpus doc as `dup_of`, or `added` with -1.
    * Every arrival gets a row — an auditor must distinguish "dropped
    * as near-dup" from "never arrived". Eagerly localCheckpoint-ed:
    * the batch-commit the advance contract requires, so the call's
    * retains are scoped to it.
    */
  def phashIngestDecisions(arrivals: DataFrame, path: String)
      : DataFrame = graft.CacheScope.scoped {
    val s = arrivals.sparkSession
    val arr = graft.CacheScope.retain(arrivals.select("doc_id", "hash"))
    val idxH = graft.CacheScope.retain(indexHashes(s, path))
    val cand = bandsOf(arr).as("a")
      .join(bandsOf(idxH).as("c"),
        col("a.band") === col("c.band") && col("a.v") === col("c.v"))
      .select(col("a.doc_id").as("doc_id"),
        col("c.doc_id").as("corpus_doc"))
      .distinct()
    val dups = cand
      .join(arr.select(col("doc_id"), col("hash").as("ha")), "doc_id")
      .join(idxH.select(col("doc_id").as("corpus_doc"),
        col("hash").as("hc")), "corpus_doc")
      .filter(bit_count(col("ha").bitwiseXOR(col("hc")))
        <= PhashMaxHamming)
      .groupBy("doc_id")
      .agg(min(col("corpus_doc")).as("dup_of"))
    arr.select("doc_id", "hash")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("hash"),
        when(col("dup_of").isNotNull, lit("dup")).otherwise(lit("added"))
          .as("status"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .localCheckpoint(true)
  }
}
