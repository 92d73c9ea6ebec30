package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors).
  * Brute-force cosine top-k is the exact baseline (posexplode + hash-join
  * + partial aggregation: fully distributed, no driver collect). An
  * LSH-bucketed approximate variant is the 100 TB scale path (later round).
  */
object SimilarityQueries {
  // ---- q96 fixed LSH geometry: 4 tables x 4 sign bits over the 64-dim
  // embeddings, components quantized at 2^20 so the per-bit sums are
  // exact 64-bit integers in both engines (no float summation order).
  private[graft] val Dim = 64
  private[graft] val LshTables = 4
  private[graft] val LshBits = 4
  private[graft] val QuantScale = 1048576L // 2^20

  /** Hyperplane sign in {-1, +1} for (table t, bit b, dim i): parity of
    * the same 60-bit md5 hash family the dedup surface uses
    * ([[graft.functions.Hashing.h60]]), keyed by the string "t|b|i" —
    * regenerable bit-for-bit by the DuckDB oracle.
    */
  private def lshSign(t: Int, b: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t|$b|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  // ---- q38/q46 multi-probe recall geometry: the first AnnNProbes
  // vec_ids are the probe set; q46's coarse quantizer is KmIters Lloyd
  // iterations over components quantized at KmScale (small enough that
  // every per-(vector, centroid) distance is an EXACT 64-bit integer —
  // |q| ≤ ~2·KmScale, diff² ≤ 2^28, ×64 dims ≤ 2^34 — so the argmin,
  // and therefore the whole trained quantizer, is bit-reproducible by
  // the DuckDB oracle; the q96 QuantScale trick applied to TRAINING).
  private[graft] val AnnNProbes = 10
  private[graft] val KmK = 10
  private[graft] val KmIters = 4
  private[graft] val KmScale = 4096L // 2^12
  private[graft] val KmNProbe = 2

  /** q109 matryoshka geometry: candidates ranked on the FIRST 16 of 64
    * dims (the MRL prefix), re-ranked exactly; q108 rank-fusion
    * constant (the standard RRF k).
    */
  private val MrlDim = 16
  private val MrlCand = 30
  private val RrfK = 60

  /** q111 SemDeDup geometry: the cosine bar for "semantically
    * duplicate" within a cluster, and the quantizer stride — cluster
    * seeds are the vectors whose id is a multiple of the stride, so
    * k = ceil(n / stride) GROWS with corpus size and the expected
    * cluster population stays ~stride. That is what makes the
    * sum(cluster²) pair bound linear in n by construction (≈ n·stride),
    * the way SemDeDup at scale grows k with n.
    */
  private[graft] val SemT = 0.4
  private[graft] val SemSeedStride = 100

  /** Multi-probe width of the cluster-bounded candidate space: every
    * vector is a CANDIDATE MEMBER of its [[SemNProbe]] nearest
    * centroids (its cluster LABEL stays the nearest one). Single-probe
    * assignment never sees a pair straddling a cluster boundary; top-2
    * probing makes those pairs reachable — and gives singleton-cluster
    * vectors a second candidate pool — at ≈2x the bounded pair space
    * (still linear in n by the quantizer geometry).
    */
  private[graft] val SemNProbe = 2

  /** q116 kNN-graph fanout: neighbors kept per vector. */
  private[graft] val KnnK = 5

  /** Shared CTE chain of q111/q116: stride-seed centroids, top-
    * [[SemNProbe]] nearest-seed candidate membership (rank-1 = the
    * cluster label), within-membership half-pair (va < vb) cosine
    * rounded to 6 dp, deduped across shared memberships — the SQL twin
    * of [[clusterBoundedCosine]].
    */
  private[graft] lazy val clusterCosineCteSql: String =
    s"""flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      cent AS (SELECT vec_id AS clabel, i, v AS c FROM flat
               WHERE vec_id % $SemSeedStride = 0),
      d2 AS (SELECT f.vec_id, c.clabel, sum((v - c) * (v - c)) AS d2
             FROM flat f JOIN cent c USING (i) GROUP BY 1, 2),
      rankedc AS (SELECT vec_id, clabel,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY d2, clabel) AS rn FROM d2),
      asg AS (SELECT vec_id, clabel AS cl FROM rankedc WHERE rn = 1),
      asgp AS (SELECT vec_id, clabel AS cl FROM rankedc
               WHERE rn <= $SemNProbe),
      fa AS (SELECT a.cl, f.vec_id, f.i, f.v FROM flat f JOIN asgp a USING (vec_id)),
      nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS n FROM flat GROUP BY 1),
      dots0 AS (SELECT a.cl, a.vec_id AS va, b.vec_id AS vb,
                  sum(a.v * b.v) AS dot
                FROM fa a JOIN fa b
                  ON a.i = b.i AND a.cl = b.cl AND a.vec_id < b.vec_id
                GROUP BY 1, 2, 3),
      dots AS (SELECT va, vb, max(dot) AS dot FROM dots0 GROUP BY 1, 2),
      half AS (SELECT va, vb, round(dot / (na.n * nb.n), 6) AS cos
               FROM dots
               JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id)"""

  /** DuckDB twin of q111: the shared cluster-cosine chain, pairs
    * >= SemT, recursive-CTE CC, keep = component minimum.
    */
  private lazy val semanticDedupOracleSql: String =
    s"""WITH RECURSIVE ${clusterCosineCteSql},
      p AS (SELECT va, vb FROM half WHERE cos >= $SemT),
      e AS (SELECT va AS s, vb AS t FROM p UNION ALL SELECT vb, va FROM p),
      r AS (SELECT vec_id AS node, vec_id AS comp FROM asg
            UNION
            SELECT e.s AS node, r.comp FROM e JOIN r ON e.t = r.node),
      cc AS (SELECT node, min(comp) AS grp FROM r GROUP BY node)
      SELECT a.vec_id, a.cl AS cluster, a.vec_id = cc.grp AS kept
      FROM asg a JOIN cc ON a.vec_id = cc.node ORDER BY a.vec_id"""

  /** DuckDB twin of q116: the shared cluster-cosine chain, half pairs
    * mirrored, per-vector top-[[KnnK]] by (cos DESC, nbr_id).
    */
  private lazy val knnGraphOracleSql: String =
    s"""WITH ${clusterCosineCteSql},
      sym AS (SELECT va, vb, cos FROM half
              UNION ALL SELECT vb, va, cos FROM half),
      ranked AS (SELECT va AS vec_id, vb AS nbr_id, cos,
                        row_number() OVER (PARTITION BY va
                          ORDER BY cos DESC, vb) AS rnk
                 FROM sym)
      SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id, cos
      FROM ranked WHERE rnk <= $KnnK ORDER BY vec_id, rnk"""

  /** SQL twin of [[cosineVsProbe]]/[[exactTop10]]: probe components,
    * probe norm, and every other vector's dot/self-norm from a CTE
    * named `flat` — ONE copy of the re-ranking chain for the oracles
    * that share it (q102/q89 predate it and keep equivalent inline
    * text).
    */
  private val cosineVsProbeCteSql: String =
    """qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM qv),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id)"""

  private val exactTop10CteSql: String =
    cosineVsProbeCteSql + """,
      exact AS (SELECT vec_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10)"""

  /** DuckDB twin of q109: truncated-prefix cosine candidates (top-30),
    * exact full-dim top-10, recall.
    */
  private val matryoshkaRecallOracleSql: String =
    s"""WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      tflat AS (SELECT * FROM flat WHERE i <= $MrlDim),
      tq AS (SELECT i, v AS qv FROM tflat WHERE vec_id = 0),
      tqn AS (SELECT sum(qv*qv) AS qn FROM tq),
      tdots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
                FROM tflat f JOIN tq q USING (i) WHERE f.vec_id <> 0
                GROUP BY f.vec_id),
      cand AS (SELECT vec_id FROM (
                 SELECT vec_id, round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS tcos
                 FROM tdots, tqn
                 ORDER BY tcos DESC, vec_id LIMIT $MrlCand) t),
      ${exactTop10CteSql},
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT h.hits, round(h.hits / 10.0, 4) AS recall_at_10 FROM h"""

  /** DuckDB twin of q108: dense cosine ranking vs vec 0 + the shared
    * BM25 CTE, reciprocal-rank fused.
    */
  private lazy val hybridRrfOracleSql: String =
    s"""WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      ${cosineVsProbeCteSql},
      dense AS (SELECT vec_id AS doc_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn),
      dr AS (SELECT doc_id, row_number() OVER
               (ORDER BY cos_sim DESC, doc_id) AS r_dense FROM dense),
      ${graft.text.TextQueries.bm25Cte},
      sr AS (SELECT doc_id, row_number() OVER
               (ORDER BY bm25 DESC, doc_id) AS r_sparse FROM bm
             WHERE doc_id <> 0)
      SELECT doc_id, r_sparse, r_dense,
             round(1.0 / ($RrfK + r_dense) + 1.0 / ($RrfK + r_sparse), 6)
               AS rrf
      FROM dr JOIN sr USING (doc_id)
      ORDER BY rrf DESC, doc_id LIMIT 20"""

  /** DuckDB twin of q102: q61's quantization rule, integer-dot candidate
    * ranking (top-30), exact top-10, recall.
    */
  private val quantizedRecallOracleSql: String =
    """WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      sc AS (SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM flat GROUP BY 1),
      qf AS (SELECT f.vec_id, f.i,
               CASE WHEN scale = 0 THEN 0
                    ELSE CAST(floor(v / scale + 0.5) AS BIGINT) END AS q
             FROM flat f JOIN sc USING (vec_id)),
      nq AS (SELECT vec_id, sum(q * q) AS nq FROM qf GROUP BY 1),
      pq AS (SELECT i, q AS pq FROM qf WHERE vec_id = 0),
      pn AS (SELECT nq AS pn FROM nq WHERE vec_id = 0),
      qdots AS (SELECT qf.vec_id, sum(qf.q * pq.pq) AS qdot
                FROM qf JOIN pq USING (i) WHERE qf.vec_id <> 0
                GROUP BY 1),
      cand AS (SELECT vec_id FROM (
                 SELECT qd.vec_id,
                        round(CAST(qdot AS DOUBLE)
                          / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(pn AS DOUBLE))),
                          6) AS qcos
                 FROM qdots qd JOIN nq USING (vec_id) CROSS JOIN pn
                 ORDER BY qcos DESC, vec_id LIMIT 30) t),
      qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM qv),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id),
      exact AS (SELECT vec_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT h.hits, round(h.hits / 10.0, 4) AS recall_at_10 FROM h"""

  /** DuckDB twin of q89/q118 (and, with `centFilter` restricting the
    * centroid estimation to the base corpus, of q130): label-centroid
    * quantizer + nprobe=2 candidate lists + the q31 exact top-10,
    * recall computed in SQL.
    */
  private def ivfRecallOracleSqlWith(centFilter: String): String =
    s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, label, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      cent AS (SELECT label AS clabel, i, avg(v) AS c
               FROM flat $centFilter GROUP BY 1, 2),
      d2 AS (SELECT f.vec_id, c.clabel, sum((v - c) * (v - c)) AS d2
             FROM flat f JOIN cent c USING (i) GROUP BY 1, 2),
      asg AS (SELECT vec_id, clabel AS lst FROM (
                SELECT vec_id, clabel,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, clabel) AS rn FROM d2) t
              WHERE rn = 1),
      probe2 AS (SELECT clabel AS lst FROM d2 WHERE vec_id = 0
                 ORDER BY d2, clabel LIMIT 2),
      cand AS (SELECT vec_id FROM asg JOIN probe2 USING (lst)
               WHERE vec_id <> 0),
      qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM qv),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id),
      exact AS (SELECT vec_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT nc.n_candidates, h.hits,
             round(h.hits / 10.0, 4) AS recall_at_10
      FROM nc, h"""

  private lazy val ivfRecallOracleSql: String = ivfRecallOracleSqlWith("")

  /** q130's twin: centroids estimated from the BASE corpus only — the
    * frozen geometry an advanced artifact serves.
    */
  private lazy val advanceAnnOracleSql: String =
    ivfRecallOracleSqlWith(s"WHERE vec_id < $AnnAdvanceSplit")

  /** DuckDB twin of q121: the same per-label subspace codebooks,
    * struct-min encode (row_number over (d2, cl)), probe distance
    * table, 8-lookup ADC sum, and exact-L2 top-10 — every step plain
    * double arithmetic with the ordering done on 6-dp-rounded values.
    */
  private val pqAdcRecallOracleSql: String =
    """WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, label, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      sub AS (SELECT vec_id, label, v, i,
                CAST(floor((i - 1) / 4) AS INT) AS m FROM flat),
      cb AS (SELECT m, label AS cl, i, avg(v) AS c FROM sub GROUP BY 1, 2, 3),
      d2 AS (SELECT s.vec_id, cb.m, cb.cl,
               sum((s.v - cb.c) * (s.v - cb.c)) AS d2
             FROM sub s JOIN cb ON s.i = cb.i GROUP BY 1, 2, 3),
      code AS (SELECT vec_id, m, cl FROM (
                 SELECT vec_id, m, cl,
                        row_number() OVER (PARTITION BY vec_id, m
                          ORDER BY d2, cl) AS rn FROM d2) t
               WHERE rn = 1),
      qtab AS (SELECT m, cl, d2 AS td FROM d2 WHERE vec_id = 0),
      adc AS (SELECT c.vec_id, round(sum(q.td), 6) AS adist
              FROM code c JOIN qtab q ON c.m = q.m AND c.cl = q.cl
              WHERE c.vec_id <> 0 GROUP BY 1),
      cand AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 50),
      qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      exact AS (SELECT f.vec_id,
                  round(sum((f.v - q.qv) * (f.v - q.qv)), 6) AS l2
                FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
                GROUP BY f.vec_id ORDER BY l2, vec_id LIMIT 10),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT nc.n_candidates, h.hits,
             round(h.hits / 10.0, 4) AS recall_at_10
      FROM nc, h"""

  /** DuckDB twin of q96: regenerates the hyperplane signs from md5
    * parity, rebuilds the quantized sign buckets, takes candidates
    * sharing any of the 4 table buckets with probe vec_id=0, and scores
    * them against the exact cosine top-10 (the q31 oracle verbatim).
    */
  private val annRecallOracleSql: String =
    """WITH qf AS (SELECT vec_id,
             CAST(floor(CAST(v AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS q,
             i - 1 AS i
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      sg AS (SELECT t, b, i,
               CASE WHEN CAST(concat('0x',
                      substr(md5(concat(t, '|', b, '|', i)), 1, 15))
                    AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sg
             FROM range(4) rt(t), range(4) rb(b), range(64) ri(i)),
      bits AS (SELECT q.vec_id, s.t, s.b, sum(q.q * s.sg) AS bs
               FROM qf q JOIN sg s USING (i) GROUP BY 1, 2, 3),
      bk AS (SELECT vec_id, t,
               sum(CASE WHEN bs > 0 THEN (CAST(1 AS BIGINT) << b)
                   ELSE 0 END) AS bucket
             FROM bits GROUP BY 1, 2),
      probe AS (SELECT t, bucket FROM bk WHERE vec_id = 0),
      cand AS (SELECT DISTINCT bk.vec_id FROM bk JOIN probe USING (t, bucket)
               WHERE bk.vec_id <> 0),
      flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
                 SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM qv),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id),
      exact AS (SELECT vec_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT nc.n_candidates, h.hits,
             round(h.hits / 10.0, 4) AS recall_at_10
      FROM nc, h"""

  /** Shared multi-probe exact-cosine CTE tail for the q38/q46 oracles:
    * expects CTEs `flat` (vec_id, v, i — any consistent index base)
    * and `cand` (probe_id, vec_id); defines per-(probe, vector) 6-dp
    * cosine `mcos`, per-probe exact top-k `exactk`, candidate counts
    * `nc`, and hit counts `h` — the SQL twin of [[multiProbeCosine]] +
    * [[probeRecallSummary]].
    */
  private def multiProbeExactCteSql(nProbes: Int, k: Int): String =
    s"""pf AS (SELECT vec_id AS probe_id, i, v AS qv FROM flat
               WHERE vec_id < $nProbes),
      pn AS (SELECT probe_id, sum(qv*qv) AS qn FROM pf GROUP BY 1),
      mdots AS (SELECT p.probe_id, f.vec_id, sum(f.v*p.qv) AS dot,
                  sum(f.v*f.v) AS nrm
                FROM flat f JOIN pf p USING (i)
                WHERE f.vec_id <> p.probe_id GROUP BY 1, 2),
      mcos AS (SELECT d.probe_id, d.vec_id,
                 round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
               FROM mdots d JOIN pn USING (probe_id)),
      exactk AS (SELECT probe_id, vec_id FROM (
                   SELECT probe_id, vec_id, row_number() OVER (
                     PARTITION BY probe_id
                     ORDER BY cos_sim DESC, vec_id) AS rn FROM mcos) t
                 WHERE rn <= $k),
      nc AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_candidates
             FROM cand GROUP BY 1),
      h AS (SELECT e.probe_id, count(*) AS hits FROM exactk e
            JOIN cand c ON e.probe_id = c.probe_id
              AND e.vec_id = c.vec_id
            GROUP BY 1)"""

  /** DuckDB twin of the reformulated q38 ([[annLshRecall]]): the q96
    * md5-parity geometry regenerated in SQL, candidates per probe from
    * the long-form bucket join, exact re-rank + recall per probe.
    */
  private def annLshRecallOracleSql(nProbes: Int, k: Int): String =
    s"""WITH qf AS (SELECT vec_id,
             CAST(floor(CAST(v AS DOUBLE) * $QuantScale + 0.5) AS BIGINT)
               AS q,
             i - 1 AS i
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      sg AS (SELECT t, b, i,
               CASE WHEN CAST(concat('0x',
                      substr(md5(concat(t, '|', b, '|', i)), 1, 15))
                    AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sg
             FROM range($LshTables) rt(t), range($LshBits) rb(b),
                  range($Dim) ri(i)),
      bits AS (SELECT q.vec_id, s.t, s.b, sum(q.q * s.sg) AS bs
               FROM qf q JOIN sg s USING (i) GROUP BY 1, 2, 3),
      bk AS (SELECT vec_id, t,
               sum(CASE WHEN bs > 0 THEN (CAST(1 AS BIGINT) << b)
                   ELSE 0 END) AS bucket
             FROM bits GROUP BY 1, 2),
      cand AS (SELECT DISTINCT p.vec_id AS probe_id, b.vec_id
               FROM bk b JOIN bk p USING (t, bucket)
               WHERE p.vec_id < $nProbes AND b.vec_id <> p.vec_id),
      flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
                 SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      ${multiProbeExactCteSql(nProbes, k)},
      ann AS (SELECT m.probe_id, m.vec_id, m.cos_sim, row_number() OVER (
                PARTITION BY m.probe_id
                ORDER BY m.cos_sim DESC, m.vec_id) AS rnk
              FROM mcos m JOIN cand c
                ON m.probe_id = c.probe_id AND m.vec_id = c.vec_id)
      SELECT a.probe_id, CAST(a.rnk AS BIGINT) AS rnk,
             a.vec_id AS nbr_id, a.cos_sim, nc.n_candidates,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             round(coalesce(h.hits, 0) / $k.0, 4) AS recall_at_10
      FROM ann a JOIN nc USING (probe_id) LEFT JOIN h USING (probe_id)
      WHERE a.rnk <= $k
      ORDER BY a.probe_id, a.rnk"""

  /** DuckDB twin of the reformulated q46 ([[annIvfRecall]]): the
    * integer-quantized Lloyd TRAINING LOOP mirrored as generated CTEs
    * — one (distance → argmin-assign → floor-rounded centroid update)
    * block per iteration, the same md5-ordered seeds — then nprobe
    * lists, candidates, and the shared recall tail. Both engines
    * execute the identical algorithm on exact integers, which is what
    * makes a TRAINED quantizer hash-checkable at all.
    */
  private def annIvfRecallOracleSql(nProbes: Int, k: Int): String = {
    val iters = (1 to KmIters).map { t =>
      s"""d$t AS (SELECT f.vec_id, c.cid,
               sum((f.q - c.c) * (f.q - c.c)) AS d2
             FROM kqf f JOIN cent${t - 1} c USING (i) GROUP BY 1, 2),
         a$t AS (SELECT vec_id, cid FROM (
                   SELECT vec_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2, cid) AS rn
                   FROM d$t) z WHERE rn = 1),
         cent$t AS (SELECT a.cid, f.i,
                      CAST(floor(sum(f.q) * 1.0 / count(*) + 0.5)
                        AS BIGINT) AS c
                    FROM kqf f JOIN a$t a USING (vec_id) GROUP BY 1, 2)"""
    }.mkString(",\n      ")
    s"""WITH kqf AS (SELECT vec_id,
             CAST(floor(CAST(v AS DOUBLE) * $KmScale + 0.5) AS BIGINT)
               AS q, i
           FROM (SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      seeds AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, row_number() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
                  FROM (SELECT DISTINCT vec_id FROM kqf) t) s
                WHERE cid <= $KmK),
      cent0 AS (SELECT s.cid, f.i, f.q AS c
                FROM kqf f JOIN seeds s USING (vec_id)),
      $iters,
      dF AS (SELECT f.vec_id, c.cid, sum((f.q - c.c) * (f.q - c.c)) AS d2
             FROM kqf f JOIN cent$KmIters c USING (i) GROUP BY 1, 2),
      asg AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid, row_number() OVER (
                  PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dF) z
              WHERE rn = 1),
      plists AS (SELECT probe_id, cid FROM (
                   SELECT vec_id AS probe_id, cid, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2, cid) AS rn
                   FROM dF WHERE vec_id < $nProbes) z
                 WHERE rn <= $KmNProbe),
      cand AS (SELECT p.probe_id, a.vec_id
               FROM asg a JOIN plists p USING (cid)
               WHERE a.vec_id <> p.probe_id),
      flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
                 SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      ${multiProbeExactCteSql(nProbes, k)}
      SELECT nc.probe_id, nc.n_candidates,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             round(coalesce(h.hits, 0) / $k.0, 4) AS recall_at_10
      FROM nc LEFT JOIN h USING (probe_id) ORDER BY nc.probe_id"""
  }

  /** Shared oracle for the exact cosine top-10 (q31 / q45 / q54 — three
    * implementations, one semantic).
    */
  private val cosineTopkOracle: String =
    """WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      q AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM q),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id)
      SELECT vec_id, round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
      FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  /** (vec_id, i, v) flat view; elements cast to double so Spark and the
    * DuckDB oracle do identical float32 -> float64 promotion.
    */
  private def flat(s: SparkSession, d: String): DataFrame =
    flatVecs(Tables.embeddings(s, d))

  /** Flatten (vec_id, label, embedding) rows to the (vec_id, i, v)
    * plane with the SAME position base and float64 promotion as
    * [[flat]] — arrival batches must score identically to the
    * corpus-resident rows they twin.
    */
  private[graft] def flatVecs(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))

  /** Exact cosine of every vector (vec_id != 0) against the probe
    * (vec 0), 6-dp rounded — the ONE copy of the re-ranking rule every
    * recall query and q108's dense leg share (its SQL twin is
    * [[cosineVsProbeCte]]/[[exactTop10Cte]]).
    */
  private def cosineVsProbe(f: DataFrame): DataFrame = {
    val qv = f.filter(col("vec_id") === 0)
      .select(col("i").as("qi"), col("v").as("qv"))
    val qn = qv.agg(sum(col("qv") * col("qv")).as("qn"))
    f.filter(col("vec_id") =!= 0)
      .join(broadcast(qv), col("i") === col("qi"))
      .groupBy("vec_id")
      .agg(sum(col("v") * col("qv")).as("dot"),
        sum(col("v") * col("v")).as("nrm"))
      .crossJoin(broadcast(qn))
      .select(col("vec_id"),
        round(col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))), 6)
          .as("cos_sim"))
  }

  private def exactTop10(f: DataFrame): DataFrame =
    cosineVsProbe(f).orderBy(col("cos_sim").desc, col("vec_id")).limit(10)

  /** Exact squared-L2 top-10 vs the probe (vec 0), 6-dp rounded before
    * ordering with a vec_id tie-break — the L2 twin of [[exactTop10]],
    * the ground truth for the PQ/ADC path (q121) whose natural metric
    * is L2, not cosine.
    */
  private def exactL2Top10(f: DataFrame): DataFrame = {
    val qv = f.filter(col("vec_id") === 0)
      .select(col("i").as("qi"), col("v").as("qv"))
    f.filter(col("vec_id") =!= 0)
      .join(broadcast(qv), col("i") === col("qi"))
      .groupBy("vec_id")
      .agg(round(sum((col("v") - col("qv")) * (col("v") - col("qv"))), 6)
        .as("l2"))
      .orderBy(col("l2"), col("vec_id"))
      .limit(10)
  }

  /** Subspace width of the PQ code (q121): 64 dims / 4 = 16 subspaces.
    * Measured on sf0.01 (DuckDB parameter sweep): 8-dim subspaces @
    * top-30 candidates give recall@10 = 0.3; 4-dim @ top-50 = 1.0 —
    * the classic PQ trade, finer subspaces cut quantization distortion
    * faster than they grow the code (16 bytes/vector here).
    */
  /** q134: a member scoring this many population-stddevs LESS similar
    * to its label centroid than the label's mean member is flagged.
    * 1.0 on a 600-member label flags the atypical tail (~15% under
    * normality) — a curation prune rate, not an anomaly-detector one.
    */
  private val OutlierZ = 1.0

  private[graft] val PqSubDim = 4

  /** q178's coarse probe width. This corpus is weakly L2-clustered:
    * probe 0's exact top-10 spans 8 of the 10 label lists (measured
    * at sf0.001 — its OWN label centroid ranks only 3rd by distance),
    * so nprobe must buy coverage directly: at nprobe=4 the 10-probe
    * aggregate recall@10 is 43/100 at sf0.001 and 47/100 at sf0.01
    * (per-probe range 0.1-0.7). 4 is the declared operating point; at
    * production scale K grows ~√n and nprobe/K shrinks, which is the
    * whole IVF bargain — the recall twin exists to MEASURE that loss
    * honestly, not to hide it.
    */
  private[graft] val IvfPqNProbe = 4

  /** q147's metadata predicate (odd labels — selective enough that the
    * filtered result genuinely differs from q89's unfiltered one).
    */
  private def FilteredAnnPred: org.apache.spark.sql.Column =
    col("label") % 2 === 1

  /** ADC candidate depth of q121 (re-rank budget: 10% of the corpus). */
  private[graft] val PqNCand = 50

  /** q121's encode + ADC scan over an arbitrary flat (vec_id, label,
    * i, v) frame: per-label [[PqSubDim]]-wide subspace codebooks from
    * component means, per-(vector, subspace) nearest-codeword encode
    * (exact argmin with a (d2, label) tie-break), the probe's 16-entry
    * distance table, and vectors scored by table lookups — returning
    * the [[PqNCand]] nearest candidates as ordered (vec_id, adist)
    * rows. Split out so the property spec can feed synthetic corpora
    * through the identical pipeline; q121 consumes just the vec_ids.
    */
  private[graft] def pqAdcCandidatesOf(f: DataFrame): DataFrame = {
    val cb = f.withColumn("m", floor(col("i") / PqSubDim).cast("int"))
      .groupBy("m", "label", "i").agg(avg("v").as("c"))
      .select(col("m").as("cm"), col("label").as("cl"),
        col("i").as("ci"), col("c"))
    val d2 = graft.CacheScope.retain(
      f.join(broadcast(cb), col("i") === col("ci"))
        .groupBy("vec_id", "cm", "cl")
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2")))
    val code = d2.groupBy("vec_id", "cm")
      .agg(min(struct(col("d2"), col("cl"))).as("mn"))
      .select(col("vec_id"), col("cm"), col("mn.cl").as("cl"))
    val qtab = d2.filter(col("vec_id") === 0)
      .select(col("cm").as("qm"), col("cl").as("qcl"), col("d2").as("td"))
    code.filter(col("vec_id") =!= 0)
      .join(broadcast(qtab),
        col("cm") === col("qm") && col("cl") === col("qcl"))
      .groupBy("vec_id").agg(round(sum(col("td")), 6).as("adist"))
      .orderBy(col("adist"), col("vec_id")).limit(PqNCand)
  }

  def defs: Seq[Q] = Seq(
    // ---- exact cosine top-10 vs probe vec_id=0. Ranking happens on the
    // ROUNDED similarity in both engines so sub-ulp summation drift can't
    // flip the order; vec_id breaks residual ties deterministically.
    Q("q31_cosine_topk",
      (s, d) => {
        val f = flat(s, d)
        val q = f.filter(col("vec_id") === 0).select(col("i").as("qi"), col("v").as("qv"))
        val qn = q.agg(sum(col("qv") * col("qv")).as("qn"))
        f.filter(col("vec_id") =!= 0)
          .join(broadcast(q), col("i") === col("qi"))
          .groupBy("vec_id")
          .agg(sum(col("v") * col("qv")).as("dot"), sum(col("v") * col("v")).as("nrm"))
          .crossJoin(broadcast(qn))
          .select(col("vec_id"),
            round(col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(cosineTopkOracle)),

    // ---- embedding norm stats per class label.
    Q("q32_norm_by_label",
      (s, d) =>
        flat(s, d)
          .groupBy("vec_id", "label")
          .agg(sqrt(sum(col("v") * col("v"))).as("norm"))
          .groupBy("label")
          .agg(round(avg("norm"), 4).as("avg_norm"),
            round(min("norm"), 4).as("min_norm"),
            round(max("norm"), 4).as("max_norm"),
            count(lit(1)).as("n"))
          .orderBy("label"),
      Some("""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v FROM (
               SELECT vec_id, label, unnest(embedding) AS v FROM embeddings) x),
             norms AS (SELECT vec_id, label, sqrt(sum(v*v)) AS norm
                       FROM flat GROUP BY vec_id, label)
             SELECT label, round(avg(norm),4) AS avg_norm,
                    round(min(norm),4) AS min_norm, round(max(norm),4) AS max_norm,
                    count(*) AS n
             FROM norms GROUP BY label ORDER BY label""")),

    // ---- q45: same exact cosine top-k as q31, but through the native
    // codegen'd DotProduct Catalyst expression (graft.functions): per-row
    // vector kernel with NO posexplode/join — one narrow pass over the
    // embeddings, TakeOrderedAndProject on top. The probe vector is a
    // collected literal (metadata-scale). Oracle: identical to q31.
    Q("q45_cosine_topk_native",
      (s, d) => {
        import graft.functions.VectorOps
        val emb = Tables.embeddings(s, d)
        val probe = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val qlit = typedlit(probe)
        emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(VectorOps.cosine(col("embedding"), qlit), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(cosineTopkOracle)),

    // ---- q54: same exact cosine top-k through BUILT-IN higher-order
    // functions (zip_with + aggregate) — the no-custom-code tier of the
    // vector-kernel ladder (posexplode-join < zip_with/aggregate <
    // native codegen'd Expression). Sequential array fold = the same
    // summation order as q45's native kernel. Oracle: identical to q31.
    Q("q54_cosine_topk_zipwith",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val probe = emb.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val qlit = typedlit(probe)
        // probe self-norm is a scalar: fold it once on the driver (same
        // sequential order as the per-row fold) instead of per row
        val qNorm = math.sqrt(
          probe.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, v) => acc + v)
        emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(dot(col("embedding"), qlit)
              / (sqrt(dot(col("embedding"), col("embedding"))) * qNorm),
              6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
      },
      Some(cosineTopkOracle)),

    // ---- q61: symmetric int8 scalar quantization of the embedding
    // column — the standard storage/bandwidth reducer for ANN at scale
    // (4x smaller vectors, SIMD-friendly int dot products). Per-vector
    // scale = max|v|/127; q_i = floor(v_i/scale + 0.5) — an explicit
    // floor(+0.5) so both engines share one rounding rule bit-for-bit.
    // Output: the scale and the L2 reconstruction error per vector.
    Q("q61_embedding_quantize",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        def dbl(c: org.apache.spark.sql.Column) =
          transform(c, x => x.cast("double"))
        emb.select(col("vec_id"), dbl(col("embedding")).as("v"))
          .withColumn("scale",
            aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
          .withColumn("err2",
            when(col("scale") === 0.0, 0.0).otherwise(
              aggregate(col("v"), lit(0.0), (a, x) => {
                val r = x - floor(x / col("scale") + 0.5) * col("scale")
                a + r * r
              })))
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            round(sqrt(col("err2")), 6).as("l2_err"))
          .orderBy("vec_id")
      },
      Some("""WITH flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
               SELECT vec_id, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS i FROM embeddings) x),
             sc AS (SELECT vec_id, max(abs(v)) / 127.0 AS scale
                    FROM flat GROUP BY vec_id),
             er AS (SELECT f.vec_id,
                      sum(CASE WHEN scale = 0 THEN 0 ELSE
                        (v - floor(v/scale + 0.5)*scale)
                        * (v - floor(v/scale + 0.5)*scale) END) AS err2
                    FROM flat f JOIN sc USING (vec_id) GROUP BY f.vec_id)
             SELECT vec_id, round(scale, 6) AS scale,
                    round(sqrt(err2), 6) AS l2_err
             FROM sc JOIN er USING (vec_id) ORDER BY vec_id""")),

    // ---- q46: IVF approximate NN through a TRAINED coarse quantizer —
    // KmIters Lloyd iterations from md5-ordered seed vectors over
    // KmScale-quantized integer components, then nprobe=2 inverted
    // lists per probe and an exact cosine recall@10 against the
    // brute-force top-10 computed IN THE SAME PLAN for each of the
    // AnnNProbes probes. Because every distance in training is an exact
    // 64-bit integer and every centroid update is floor(sum/count+0.5)
    // of exact integers, the WHOLE TRAINED MODEL is bit-reproducible by
    // DuckDB — the training loop is mirrored as generated SQL CTEs, so
    // (probe, n_candidates, hits, recall) hash-match end to end. The
    // 100 TB shape: training touches corpus × K × iters narrow integer
    // rows (and would run on a sample, [[fitIvfQuantizer]]); the search
    // touches ~nprobe/K of the data per probe.
    Q("q46_ann_ivf",
      (s, d) => annIvfRecall(s, d),
      Some(annIvfRecallOracleSql(AnnNProbes, 10))),

    // ---- q38: approximate NN via sign-projection LSH, multi-probe and
    // FULLY ORACLE-CHECKED — the q96 deterministic geometry (md5-parity
    // hyperplanes, quantized integer bit sums) generalized to the first
    // AnnNProbes vec_ids as probes. Output is the real ANN search
    // result: each probe's candidates (any shared bucket across the 4
    // tables) re-ranked by exact cosine to top-10 ranked neighbors,
    // with the per-probe recall@10 vs the in-plan brute-force top-10
    // alongside. The 100 TB path: the bucket join touches a small
    // candidate set per probe instead of all vectors; the brute-force
    // twin exists only to measure recall and is the one corpus-sized
    // leg (bounded: nProbes × corpus).
    Q("q38_ann_lsh",
      (s, d) => annLshRecall(s, d),
      Some(annLshRecallOracleSql(AnnNProbes, 10))),

    // ---- q96: ANN quality as a CHECKED guarantee — recall@10 of a
    // sign-projection LSH candidate set vs the exact cosine top-10, both
    // computed in one plan. Every ingredient is cross-engine
    // deterministic: the hyperplane signs come from pure integer hashing
    // and the per-bit sums run over QUANTIZED integer components
    // (floor(v·2^20 + 0.5)), so no float summation order can flip a
    // sign — DuckDB reproduces candidates, top-10, and the recall value
    // exactly. q38 is the multi-probe generalization (same geometry, 10
    // probes, ranked neighbors out); q96 keeps the single-probe scalar
    // dashboard.
    Q("q96_ann_recall",
      (s, d) => {
        val bk = graft.CacheScope.retain(
          signBuckets(Tables.embeddings(s, d)))
        val probeB = bk.filter(col("vec_id") === 0)
          .select((0 until LshTables).map(t => col(s"bk$t").as(s"pb$t")): _*)
        val anyShared = (0 until LshTables)
          .map(t => col(s"bk$t") === col(s"pb$t")).reduce(_ || _)
        val cand = bk.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probeB)).filter(anyShared)
          .select("vec_id")
        val exact10 = exactTop10(flat(s, d)) // identical ranking rule to q31
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        nCand.crossJoin(hits)
          .select(col("n_candidates"), col("hits"),
            round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
      },
      Some(annRecallOracleSql)),

    // ---- q89: IVF search quality as a CHECKED guarantee — the same
    // recall@10-in-one-plan shape as q96, but through the IVF path:
    // coarse quantizer = per-label mean centroids (the q80 quantizer —
    // deterministic, unlike q46's trained k-means), candidates = vectors
    // whose nearest centroid is among the probe's nprobe=2 nearest
    // lists, recall measured against the exact cosine top-10. Every
    // ingredient is plain double arithmetic DuckDB reproduces (q80
    // demonstrates the argmin agrees cross-engine).
    Q("q89_ivf_recall",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val cent = f.groupBy("label", "i").agg(avg("v").as("c"))
          .select(col("label").as("clabel"), col("i").as("ci"), col("c"))
        val d2t = graft.CacheScope.retain(
          f.join(broadcast(cent), col("i") === col("ci"))
            .groupBy("vec_id", "clabel")
            .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2")))
        val assign = d2t.groupBy("vec_id")
          .agg(min(struct(col("d2"), col("clabel"))).as("m"))
          .select(col("vec_id"), col("m.clabel").as("lst"))
        val probe2 = d2t.filter(col("vec_id") === 0)
          .orderBy("d2", "clabel").limit(2)
          .select(col("clabel").as("lst"))
        val cand = assign.filter(col("vec_id") =!= 0)
          .join(broadcast(probe2), "lst").select("vec_id")
        val exact10 = exactTop10(f)
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        nCand.crossJoin(hits)
          .select(col("n_candidates"), col("hits"),
            round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
      },
      Some(ivfRecallOracleSql)),

    // ---- q118: q89's IVF recall SERVED FROM THE PERSISTED INDEX —
    // centroid table and nearest-centroid assignments read back from
    // the parquet the build step wrote, never recomputed from the
    // corpus. The ANN-side twin of q117's dedup index: at 100 TB the
    // IVF index is an artifact built once per corpus snapshot (the
    // assignment pass is the expensive corpus-sized join) and served
    // by every probe; a probe pays only (a) its own distance to the
    // k centroid rows (metadata-scale) and (b) the re-rank over its
    // candidate lists. Shares q89's oracle verbatim: the artifact-read
    // path must agree bit-for-bit with the recompute path.
    Q("q118_indexed_ann",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val idx = graft.TempArtifacts.served(
          graft.TempArtifacts.fingerprint(d, "embeddings"),
          "graft_ivf_index")(buildIvfIndex(f, _))
        serveIvfRecall(s, f, idx)
      },
      Some(ivfRecallOracleSql)),

    // ---- q130: the IVF index ADVANCE lifecycle — the ANN twin of
    // q119's dedup advance. Build the index from the BASE corpus
    // (vec_id < [[AnnAdvanceSplit]]) only; arriving vectors are
    // assigned to the FROZEN centroids and their assignments APPENDED
    // to the artifact — the standard incremental-add discipline of a
    // production IVF index (centroids drift only at the next full
    // rebuild; re-running the clustering per batch would re-pay the
    // corpus-sized build). Serving is identical to q118, now over
    // base + advanced lists. The oracle recomputes the same frozen-
    // centroid geometry in SQL; IvfIndexSpec asserts advance ≡
    // assigning the full corpus against the base centroids.
    Q("q130_advance_ann",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        // fresh dir per call: advance MUTATES the artifact — sharing
        // q118's memoized serve-only copy would poison it
        val idx = graft.TempArtifacts.perCall(s, "graft_ivf_advance")
        buildIvfIndex(f.filter(col("vec_id") < AnnAdvanceSplit), idx)
        advanceIvfIndex(f.filter(col("vec_id") >= AnnAdvanceSplit), idx)
        serveIvfRecall(s, f, idx)
      },
      Some(advanceAnnOracleSql)),

    // ---- q102: the SEARCH leg of the int8 quantization story (q61
    // stores; this searches): candidates = top-30 by QUANTIZED cosine
    // (integer dot products of the q61-quantized vectors — exact 64-bit
    // math in both engines), exact float re-rank of candidates only,
    // recall@10 vs the global exact top-10. The 100 TB shape: the wide
    // scan runs on 4x-smaller int8 data; floats are touched only for
    // the candidate set.
    Q("q102_quantized_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // q61 quantization rule: scale = max|v|/127, q = floor(v/s + .5)
        val q = graft.CacheScope.retain(
          emb.select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
            .withColumn("scale",
              aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
            .withColumn("q", when(col("scale") === 0.0,
                transform(col("v"), _ => lit(0L)))
              .otherwise(transform(col("v"),
                x => floor(x / col("scale") + 0.5).cast("long"))))
            .select(col("vec_id"), col("q"),
              aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("nq")))
        // one collect for both probe fields: runs the quantization job
        // once, and a missing probe fails with a named error instead of
        // a bare NoSuchElementException.
        val probeRow = q.filter(col("vec_id") === 0).select("q", "nq")
          .head(1).headOption.getOrElse(throw new IllegalStateException(
            "q102: probe vector vec_id=0 missing from embeddings"))
        val pq = typedlit(probeRow.getSeq[Long](0).toArray)
        val pn = probeRow.getLong(1)
        val cand = q.filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            round(aggregate(zip_with(col("q"), pq, (a, b) => a * b),
                lit(0L), (a, x) => a + x).cast("double")
              / (sqrt(col("nq").cast("double")) * math.sqrt(pn.toDouble)), 6)
              .as("qcos"))
          .orderBy(col("qcos").desc, col("vec_id"))
          .limit(30)
          .select("vec_id")
        val exact10 = exactTop10(flat(s, d)) // identical ranking rule to q31
        val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        hits.select(col("hits"),
          round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
      },
      Some(quantizedRecallOracleSql)),

    // ---- q109: MATRYOSHKA (MRL-style) truncated search — candidates
    // ranked on the first 16 of 64 dims (a 4x-narrower scan, the same
    // economics as int8 but along the DIMENSION axis), exact full-dim
    // re-rank, recall@10 vs the global exact top-10. Fully
    // deterministic (no training, no randomness), so recall is a
    // hash-checked number like q89/q96/q102 — the fourth leg of the
    // ANN-quality ladder. The measured 0.3 recall is the honest value
    // for ISOTROPIC synthetic embeddings (energy spread evenly across
    // dims); MRL-trained vectors concentrate signal in the prefix,
    // which is exactly what this query would demonstrate on real data.
    Q("q109_matryoshka_recall",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val ft = f.filter(col("i") < MrlDim)
        val tq = ft.filter(col("vec_id") === 0)
          .select(col("i").as("qi"), col("v").as("qv"))
        val tqn = tq.agg(sum(col("qv") * col("qv")).as("qn"))
        val cand = ft.filter(col("vec_id") =!= 0)
          .join(broadcast(tq), col("i") === col("qi"))
          .groupBy("vec_id")
          .agg(sum(col("v") * col("qv")).as("dot"),
            sum(col("v") * col("v")).as("nrm"))
          .crossJoin(broadcast(tqn))
          .select(col("vec_id"),
            round(col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))), 6)
              .as("tcos"))
          .orderBy(col("tcos").desc, col("vec_id"))
          .limit(MrlCand)
          .select("vec_id")
        val exact10 = exactTop10(f)
        val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        hits.select(col("hits"),
          round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
      },
      Some(matryoshkaRecallOracleSql)),

    // ---- q108: HYBRID retrieval via reciprocal-rank fusion — the
    // sparse leg is the q66 BM25 scorer (lexical query), the dense leg
    // is exact cosine vs the embedded query (vec 0), fused as
    // 1/(k+r_s) + 1/(k+r_d), k=60 (Cormack & Clarke's RRF). Ranks
    // break ties on doc_id over ROUNDED scores, so both engines rank
    // identically. Doc 0 IS the query (its embedding is the dense
    // probe): excluded from both legs so the self-match cannot occupy
    // rank 1 and shift every real document down.
    //
    // Exact full-depth RRF needs BOTH global ranks for every doc (a
    // top-K-per-leg fusion cannot price a doc that is rank 3 dense but
    // rank 3000 sparse), so each leg runs through the distributed
    // global-rank operator ([[graft.relational.Ranking.globalRank]]:
    // range-partition + parallel per-partition windows + cumulative
    // offsets) instead of a single-task unpartitioned window. Systems
    // that accept approximate fusion can swap each leg for a
    // TakeOrdered top-K; this query declares the exact contract.
    Q("q108_hybrid_rrf",
      (s, d) => {
        val dense = graft.relational.Ranking.globalRank(
          cosineVsProbe(flat(s, d))
            .select(col("vec_id").as("doc_id"), col("cos_sim")),
          "r_dense", col("cos_sim").desc, col("doc_id").asc)
        val sparse = graft.relational.Ranking.globalRank(
          graft.text.TextQueries.bm25Scores(s, d)
            .filter(col("doc_id") =!= 0),
          "r_sparse", col("bm25").desc, col("doc_id").asc)
        dense.join(sparse, "doc_id")
          .select(col("doc_id"), col("r_sparse"), col("r_dense"),
            round(lit(1.0) / (lit(RrfK) + col("r_dense"))
              + lit(1.0) / (lit(RrfK) + col("r_sparse")), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some(hybridRrfOracleSql)),

    // ---- q111: SEMANTIC dedup, SemDeDup-shaped (Abbas et al. 2023):
    // cluster the embedding space, compute exact pairwise cosine ONLY
    // within each cluster, then connected components over the >= SemT
    // pairs and keep the component minimum. Output: every vec with its
    // cluster and a kept flag, over the FULL corpus.
    //
    // The quantizer is k stride-seed vectors (ids ≡ 0 mod
    // [[SemSeedStride]]), so k = ceil(n/stride) grows with corpus size
    // and expected cluster population stays ~stride: the pair space is
    // sum(cluster²) ≈ n·stride — linear in n BY CONSTRUCTION, which is
    // the whole SemDeDup bargain (real deployments fit k-means with
    // k ≈ n/target; the stride seeds are the deterministic,
    // oracle-reproducible stand-in). Assignment is one broadcast join
    // (centroids are k·dim ≈ n/stride·dim — metadata-scale relative to
    // the corpus; shard the centroid table if k outgrows a broadcast).
    // Candidate membership is MULTI-PROBE (top-[[SemNProbe]] nearest
    // centroids), so near-duplicates straddling a cluster boundary —
    // invisible to single-probe SemDeDup — are candidates too, at ≈2x
    // the (still linear) pair space. The cluster LABEL in the output
    // stays the rank-1 assignment.
    Q("q111_semantic_dedup",
      (s, d) => {
        val (asg, half) = clusterBoundedCosine(s, d)
        val pairs = half.filter(col("cos") >= SemT)
          .select(col("va").as("s"), col("vb").as("t"))
        val comp = graft.grid.Topology.graphComponents(pairs)
        asg.join(comp, col("vec_id") === col("node"), "left")
          .select(col("vec_id"), col("cl").as("cluster"),
            (col("vec_id") === coalesce(col("comp"), col("vec_id"))).as("kept"))
          .orderBy("vec_id")
      },
      Some(semanticDedupOracleSql)),

    // ---- q116: batched kNN GRAPH — every vector's top-k neighbors in
    // one pass (not one probe), the primitive SemDeDup audits, dedup
    // forensics, and retrieval eval actually consume. Candidates are
    // cluster-bounded exactly as q111, MULTI-PROBE: each vector is a
    // member of its top-[[SemNProbe]] nearest centroids, so
    // cross-boundary near-neighbors are in-graph and a vector only
    // lacks candidates if it is alone in ALL its probed clusters (pair
    // space ≈ 2·n·stride by construction — see [[SemSeedStride]] /
    // [[SemNProbe]]); each half pair is mirrored so both endpoints see
    // the edge, then per-vector top-k by a PARTITIONED window (hash
    // shuffle on vec_id, parallel by key — never the single-task
    // global window). Tie-break is deterministic: 6-dp-rounded cosine
    // desc, then neighbor id. The exact variant is the q37-style full
    // pair join.
    Q("q116_knn_graph",
      (s, d) => knnGraphOf(Tables.embeddings(s, d)).orderBy("vec_id", "rnk"),
      Some(knnGraphOracleSql)),

    // ---- q80: one k-means assignment step with the label centroids as
    // seeds: centroid = per-label mean vector (one aggregation), each
    // vector re-assigned to the squared-L2-nearest centroid. The
    // distance join is flat-vector x small-centroid (broadcast); ties
    // break on label id via the (dist, label) struct-min. The building
    // block of IVF training and semantic-cluster curation, fully
    // oracle-checked (unlike the end-to-end trained q46).
    Q("q80_kmeans_assign",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val cent = f.groupBy("label", "i").agg(avg("v").as("c"))
          .select(col("label").as("clabel"), col("i").as("ci"), col("c"))
        val dists = f.join(broadcast(cent), col("i") === col("ci"))
          .groupBy("vec_id", "clabel")
          .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
        dists.groupBy("vec_id")
          .agg(min(struct(col("d2"), col("clabel"))).as("m"))
          .join(Tables.embeddings(s, d).select("vec_id", "label"), "vec_id")
          .select(col("vec_id"), col("label").as("old_label"),
            col("m.clabel").as("assigned"),
            round(sqrt(col("m.d2")), 6).as("dist"),
            (col("label") =!= col("m.clabel")).as("moved"))
          .orderBy("vec_id")
      },
      Some("""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
               SELECT vec_id, label, unnest(embedding) AS v,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings) x),
             cent AS (SELECT label AS clabel, i, avg(v) AS c
                      FROM flat GROUP BY 1, 2),
             d AS (SELECT vec_id, clabel, sum((v - c) * (v - c)) AS d2
                   FROM flat JOIN cent USING (i) GROUP BY 1, 2),
             m AS (SELECT vec_id, clabel AS assigned, d2 FROM (
                     SELECT vec_id, clabel, d2,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, clabel) AS rn FROM d) t
                   WHERE rn = 1)
             SELECT e.vec_id, e.label AS old_label, m.assigned,
                    round(sqrt(m.d2), 6) AS dist,
                    e.label != m.assigned AS moved
             FROM embeddings e JOIN m USING (vec_id) ORDER BY vec_id""")),

    // ---- q121: PRODUCT QUANTIZATION with asymmetric-distance (ADC)
    // scoring — the memory-scale rung of the ANN ladder the repo didn't
    // have yet (LSH buckets q96, IVF lists q89, int8 q102, matryoshka
    // q109; PQ is the one that shrinks the SCAN ITSELF to M bytes/vector).
    // Codebooks: the 64-dim space splits into 16 contiguous 4-dim
    // subspaces; per subspace the 10 sub-centroids are the per-label
    // means (the q80/q89 deterministic quantizer restricted to the
    // subspace — no trained k-means, so DuckDB reproduces every byte).
    // Encode: each vector -> 16 codes, each the (d2, label)-struct-min
    // nearest sub-centroid (argmin agrees cross-engine; q80 proves the
    // pattern). Search: the probe computes ONE 16x10 distance table
    // (metadata-scale, broadcast); every vector's approx distance is 16
    // table lookups summed — no float vector is touched until the
    // re-rank. Candidates = top-50 by 6-dp-rounded ADC distance (vec_id
    // tie-break); recall@10 against the exact squared-L2 top-10 (L2 is
    // PQ's native metric, so the recall number is apples-to-apples) —
    // 1.0 at these parameters (see [[PqSubDim]] for the sweep).
    // The 100 TB story: codes are 16 bytes/vector vs 256 bytes of
    // float32 — a 16x smaller scan that is pure codegen'd long
    // arithmetic; the codebook + probe table stay broadcast-sized
    // (KB); encode cost is n x M x K, linear in n.
    Q("q121_pq_adc_recall",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val cand = pqAdcCandidatesOf(f).select("vec_id")
        val exact10 = exactL2Top10(f)
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        nCand.crossJoin(hits)
          .select(col("n_candidates"), col("hits"),
            round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
      },
      Some(pqAdcRecallOracleSql)),

    // ---- q134: WITHIN-LABEL OUTLIER SCORING — the curation filter
    // that flags mislabeled / atypical samples before training (the
    // distance-to-centroid prune of SemDeDup-style cluster curation,
    // turned inward on the LABEL): each vector's cosine to its OWN
    // label centroid, z-scored against that label's similarity
    // distribution (population stddev — no n-1 ambiguity across
    // engines), outlier = z above [[OutlierZ]]. Differs from q80
    // (which re-ASSIGNS to the nearest centroid): here the label is
    // trusted and the question is how typical the member is of it.
    // Scale shape: centroids are k x dim rows (metadata-scale,
    // broadcast), the scoring join is a narrow broadcast-hash pass
    // over the flattened corpus, and the per-label moment table is
    // k rows — nothing pairwise, nothing quadratic, two tiny
    // broadcasts and one map-side-combined aggregation per stage.
    Q("q134_embedding_outlier",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val cent = f.groupBy("label", "i").agg(avg("v").as("c"))
        val cos = graft.CacheScope.retain(
          f.join(broadcast(cent), Seq("label", "i"))
            .groupBy("vec_id", "label")
            .agg(sum(col("v") * col("c")).as("dot"),
              sum(col("v") * col("v")).as("nv"),
              sum(col("c") * col("c")).as("nc"))
            .select(col("vec_id"), col("label"),
              (col("dot") / sqrt(col("nv") * col("nc"))).as("cos")))
        val stats = cos.groupBy("label")
          .agg(avg("cos").as("mu"), stddev_pop("cos").as("sig"))
        // sig=0 guard (degenerate/single-member label): Spark's x/0
        // yields NULL but DuckDB double division can yield inf/NaN
        // depending on ieee_floating_point_ops — nullify the divisor
        // symmetrically on both engines so z (and is_outlier) are NULL
        // for labels with no similarity spread.
        val z = round((col("mu") - col("cos")) /
          when(col("sig") === 0, lit(null)).otherwise(col("sig")), 4)
        cos.join(broadcast(stats), "label")
          .select(col("vec_id"), col("label"),
            round(col("cos"), 6).as("cos_centroid"),
            z.as("z"), (z > lit(OutlierZ)).as("is_outlier"))
          .orderBy("vec_id")
      },
      Some(s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
             SELECT vec_id, label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS i FROM embeddings) x),
           cent AS (SELECT label, i, avg(v) AS c FROM flat GROUP BY 1, 2),
           sc AS (SELECT f.vec_id, f.label,
                    sum(f.v * c.c) / sqrt(sum(f.v * f.v) * sum(c.c * c.c)) AS cos
                  FROM flat f JOIN cent c ON f.label = c.label AND f.i = c.i
                  GROUP BY 1, 2),
           st AS (SELECT label, avg(cos) AS mu, stddev_pop(cos) AS sig
                  FROM sc GROUP BY 1)
           SELECT s.vec_id, s.label, round(s.cos, 6) AS cos_centroid,
             round((t.mu - s.cos) / nullif(t.sig, 0), 4) AS z,
             round((t.mu - s.cos) / nullif(t.sig, 0), 4) > $OutlierZ AS is_outlier
           FROM sc s JOIN st t ON s.label = t.label ORDER BY s.vec_id""")),

    // ---- q137: HARD-NEGATIVE MINING — for every vector, the most
    // similar vector carrying a DIFFERENT label: the contrastive-
    // training data op (dense-retrieval / embedding-model training
    // wants exactly these pairs; random negatives are too easy).
    // Candidates are the q111/q116 multi-probe cluster-bounded pairs
    // (linear in corpus, never n²), labels ride two vec-count-sized
    // equi-joins, the winner is a top-1 PARTITIONED window with the
    // q116 tie-break. A vector whose candidates are all same-label
    // emits nothing — at production scale nProbe widens until the
    // negative pool suffices (the q111 multiprobe trade).
    Q("q137_hard_negatives",
      (s, d) => hardNegativesOf(Tables.embeddings(s, d)).orderBy("vec_id"),
      Some(s"""WITH ${clusterCosineCteSql},
        sym AS (SELECT va, vb, cos FROM half
                UNION ALL SELECT vb, va, cos FROM half),
        lab AS (SELECT vec_id, label FROM embeddings),
        x AS (SELECT s.va, s.vb, s.cos, la.label AS la, lb.label AS lb
              FROM sym s JOIN lab la ON s.va = la.vec_id
                         JOIN lab lb ON s.vb = lb.vec_id
              WHERE la.label <> lb.label),
        r AS (SELECT va, vb, cos, la, lb,
                row_number() OVER (PARTITION BY va
                  ORDER BY cos DESC, vb) AS rn FROM x)
        SELECT va AS vec_id, la AS label, vb AS neg_id, lb AS neg_label,
          cos FROM r WHERE rn = 1 ORDER BY vec_id""")),

    // ---- q147: FILTERED ANN — vector search under a metadata
    // predicate (the filtered-vector-search capability every
    // production vector store needs: "nearest neighbors among docs
    // with license X / language Y"). Strategy is PRE-filter: the
    // predicate (here label odd — [[FilteredAnnPred]]) intersects the
    // probe's nprobe=2 inverted lists BEFORE the exact re-rank, so a
    // selective filter SHRINKS the work instead of starving the top-k
    // the way post-filtering a fixed candidate list does. Scale shape:
    // lists from the broadcast centroid table, the label lookup is a
    // vec-count-sized equi-join, exact cosine touches surviving
    // candidates only; ranking on the 6-dp-rounded similarity keeps
    // the order ulp-stable cross-engine.
    Q("q147_filtered_ann",
      (s, d) => {
        val f = graft.CacheScope.retain(flat(s, d))
        val cent = f.groupBy("label", "i").agg(avg("v").as("c"))
          .select(col("label").as("clabel"), col("i").as("ci"), col("c"))
        val d2 = graft.CacheScope.retain(
          f.join(broadcast(cent), col("i") === col("ci"))
            .groupBy("vec_id", "clabel")
            .agg(sum((col("v") - col("c")) * (col("v") - col("c")))
              .as("d2")))
        val asg = d2.groupBy("vec_id")
          .agg(min(struct(col("d2"), col("clabel"))).as("m"))
          .select(col("vec_id"), col("m.clabel").as("lst"))
        val probe2 = d2.filter(col("vec_id") === 0)
          .orderBy(col("d2"), col("clabel")).limit(2)
          .select(col("clabel").as("lst"))
        val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        val cand = asg.join(broadcast(probe2), "lst")
          .filter(col("vec_id") =!= 0)
          .join(lab, "vec_id").filter(FilteredAnnPred)
          .select("vec_id", "label")
        val qv = f.filter(col("vec_id") === 0)
          .select(col("i").as("qi"), col("v").as("qv"))
        val qn = qv.agg(sum(col("qv") * col("qv")).as("qn"))
        val ranked = f.filter(col("vec_id") =!= 0)
          .join(cand.select("vec_id"), "vec_id") // f already carries label
          .join(broadcast(qv), col("i") === col("qi"))
          .groupBy("vec_id", "label")
          .agg(sum(col("v") * col("qv")).as("dot"),
            sum(col("v") * col("v")).as("nrm"))
          .crossJoin(broadcast(qn))
          .select(col("vec_id"), col("label"),
            round(col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))), 6)
              .as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        // unpartitioned window over the post-limit(10) frame only —
        // bounded by k, so Spark's single-task warning is noise here
        ranked.withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
          .select("rank", "vec_id", "label", "cos_sim")
          .orderBy("rank")
      },
      Some(s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
             SELECT vec_id, label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS i FROM embeddings) x),
           cent AS (SELECT label AS clabel, i, avg(v) AS c FROM flat
                    GROUP BY 1, 2),
           d2 AS (SELECT f.vec_id, c.clabel, sum((v - c) * (v - c)) AS d2
                  FROM flat f JOIN cent c USING (i) GROUP BY 1, 2),
           asg AS (SELECT vec_id, clabel AS lst FROM (
                     SELECT vec_id, clabel, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, clabel) AS rn
                     FROM d2) t WHERE rn = 1),
           probe2 AS (SELECT clabel AS lst FROM d2 WHERE vec_id = 0
                      ORDER BY d2, clabel LIMIT 2),
           lab AS (SELECT vec_id, label FROM embeddings),
           cand AS (SELECT a.vec_id, l.label
                    FROM asg a JOIN probe2 USING (lst)
                    JOIN lab l USING (vec_id)
                    WHERE a.vec_id <> 0 AND l.label % 2 = 1),
           qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
           qn AS (SELECT sum(qv * qv) AS qn FROM qv),
           dots AS (SELECT f.vec_id, c.label,
                      sum(f.v * q.qv) AS dot, sum(f.v * f.v) AS nrm
                    FROM flat f JOIN qv q USING (i)
                    JOIN cand c ON c.vec_id = f.vec_id GROUP BY 1, 2),
           sc AS (SELECT vec_id, label,
                    round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                  FROM dots, qn)
           SELECT CAST(row_number() OVER (
                    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank,
                  vec_id, label, cos_sim
           FROM sc ORDER BY cos_sim DESC, vec_id LIMIT 10""")),

    // ---- q142: CENTROID DRIFT AFTER INGEST — the REBUILD TRIGGER that
    // closes the IVF lifecycle loop (build -> serve -> advance against
    // FROZEN centroids q130 -> measure drift -> full rebuild when
    // drift exceeds budget): for each base list, the L2 distance
    // between its frozen centroid and the centroid RECOMPUTED from its
    // current members (base + advanced arrivals, all assigned by the
    // frozen quantizer), plus the member count. A production pipeline
    // schedules rebuilds off exactly this table instead of a cadence
    // guess. Scale shape: centroids broadcast (k x dim rows), ONE
    // corpus-scale assignment aggregation (map-side combined), then
    // list-sized joins — metadata-scale output, nothing pairwise.
    Q("q142_centroid_drift",
      (s, d) => centroidDriftOf(flat(s, d), AnnAdvanceSplit)
        .orderBy("lst"),
      Some(s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
             SELECT vec_id, label, unnest(embedding) AS v,
                    generate_subscripts(embedding, 1) AS i FROM embeddings) x),
           cent AS (SELECT label AS clabel, i AS ci, avg(v) AS c FROM flat
                    WHERE vec_id < $AnnAdvanceSplit GROUP BY 1, 2),
           d2 AS (SELECT f.vec_id, c.clabel,
                    sum((f.v - c.c) * (f.v - c.c)) AS d2
                  FROM flat f JOIN cent c ON f.i = c.ci GROUP BY 1, 2),
           asg AS (SELECT vec_id, clabel AS lst FROM (
                  SELECT vec_id, clabel, row_number() OVER (
                    PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM d2)
                  WHERE rn = 1),
           nm AS (SELECT lst, count(*) AS n FROM asg GROUP BY 1),
           newc AS (SELECT a.lst, f.i, avg(f.v) AS cn
                    FROM flat f JOIN asg a USING (vec_id) GROUP BY 1, 2),
           dr AS (SELECT c.clabel AS lst,
                    sqrt(sum((n.cn - c.c) * (n.cn - c.c))) AS dv
                  FROM cent c JOIN newc n
                    ON n.lst = c.clabel AND n.i = c.ci GROUP BY 1)
           SELECT l.lst, CAST(coalesce(nm.n, 0) AS BIGINT) AS n_members,
             round(dr.dv, 4) AS drift
           FROM (SELECT DISTINCT clabel AS lst FROM cent) l
           LEFT JOIN nm USING (lst) LEFT JOIN dr USING (lst)
           ORDER BY lst""")),

    // ---- q150: the DRIFT-TRIGGERED VERSIONED REBUILD — the lifecycle
    // stage that ties q142's trigger to ArtifactVersions' zero-downtime
    // protocol, as ONE declared flow: build v1 from the base corpus and
    // publish; ADVANCE arrivals into the live version against its
    // frozen centroids (q130); measure centroid drift (q142); when max
    // drift exceeds [[DriftBudget]], rebuild the FULL index under v2
    // and atomically publish — readers of v1 are never disturbed; serve
    // the q118 recall probe from whatever CURRENT resolves to. The only
    // driver-side decision is the trigger itself — a max over the
    // k-row drift table (metadata-scale by construction), exactly the
    // scalar a production scheduler would poll. The oracle recomputes
    // the whole flow in SQL: the served centroids are base-or-full
    // conditioned on the same drift scalar, since v1-advanced ≡ "all
    // vectors assigned to base centroids" and v2 ≡ "all vectors
    // assigned to full-corpus centroids".
    Q("q150_index_rebuild",
      (s, d) => indexRebuildFlow(s, graft.CacheScope.retain(flat(s, d)),
        AnnAdvanceSplit, DriftBudget),
      Some(indexRebuildOracleSql)),

    // ---- q178: IVF-PQ (IVFADC) — the composed production index
    // architecture (coarse inverted lists bound the scan, residual
    // product-quantization codes shrink vector memory 16x, ADC prices
    // candidates by table lookups): encode every vector's RESIDUAL
    // against its coarse centroid with per-subspace codebooks; then,
    // for EACH of the first AnnNProbes vectors as probes (the q38/q46
    // multi-probe convention), probe its IvfPqNProbe nearest lists,
    // score list members by summing that probe's per-(list, subspace,
    // codeword) distance table, and re-rank only the top PqNCand per
    // probe by exact L2 — one (probe_id, n_candidates, hits,
    // recall@10) row per probe vs the in-plan brute force, so the
    // recall is a 10-probe statistic. Every training/encode/score step
    // is EXACT 64-bit integer arithmetic on KmScale-quantized
    // components (the q46 discipline: floor-rounded centroid and
    // codeword means, (d2, id) tie-breaks), so the whole trained
    // index — coarse cells, codebooks, codes, ADC order — is
    // bit-reproducible by DuckDB and the output hash-matches. (As in
    // q38/q46, a probe whose candidate set is empty would drop out of
    // the summary — both engines agree, and it does not occur at
    // these geometries.)
    // Scale shape: centroids (K x Dim) and codebooks (M x K x subdim)
    // are metadata and broadcast; candidates come from nprobe/K of
    // the corpus; only PqNCand rows ever touch raw vectors again.
    Q("q178_ivfpq_recall",
      (s, d) => ivfPqRecallOf(flat(s, d)),
      Some(ivfPqRecallOracleSql)),

    // ---- q187: SEMANTIC SPLIT-LEAKAGE AUDIT — the embedding-side
    // q179: q179/q182 catch MinHash near-dups across the train/val
    // boundary, but SemDeDup-level leakage (a val item semantically
    // duplicating a train item, q111's signal) crosses undetected.
    // Audit: build the persisted IVF index over the TRAIN side only
    // (the served-index discipline — at 100 TB the index already
    // exists for search; the audit is a consumer, not a new scan),
    // probe each VAL vector's nprobe nearest lists from the FROZEN
    // centroid table, exact-cosine only the list-bounded train
    // candidates, and report pairs at or above [[SemLeakT]]. No
    // pairwise val x train scan anywhere; like every banded/probed
    // audit (q179's LSH included) the guarantee is over DETECTED
    // pairs — a pair outside the probe width is the documented ANN
    // recall trade-off, measured by q89/q118.
    Q("q187_semantic_split_leakage",
      (s, d) => semanticLeakPairs(s, d).orderBy("train_vec", "val_vec"),
      Some(semanticLeakOracleSql(
        s"SELECT train_vec, val_vec, cos FROM leaks " +
          "ORDER BY train_vec, val_vec"))),

    // ---- q188: SEMANTIC SPLIT HEAL — q182's drop-val policy on the
    // q187 pair set, with the SAME one-pass post-condition: every
    // detected pair is val x train, so dropping each leaked val vector
    // removes every detected pair in one pass — no fixpoint, and no
    // new pair can appear because dropping only shrinks the val side
    // (SimilaritySpec pins zero surviving detected leaks). Train sides
    // are flagged `leaked` for the audit trail but never dropped.
    Q("q188_semantic_split_heal",
      (s, d) => {
        // retained: the two union arms below would otherwise each
        // re-evaluate the probe + candidate-cosine plan (metadata-width
        // rows: two ids and a double)
        val pairs = graft.CacheScope.retain(semanticLeakPairs(s, d))
        val leaked = pairs.select(col("train_vec").as("vec_id"))
          .unionAll(pairs.select(col("val_vec").as("vec_id")))
          .distinct()
        vecSplitOf(s, d)
          .join(leaked.withColumn("lk", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("split"),
            coalesce(col("lk"), lit(false)).as("leaked"),
            when(col("split") === "val"
                && coalesce(col("lk"), lit(false)),
              lit("dropped")).otherwise(col("split")).as("final_split"))
          .orderBy("vec_id")
      },
      Some(semanticLeakOracleSql(
        """, lk AS (SELECT train_vec AS vec_id FROM leaks
                UNION SELECT val_vec FROM leaks)
           SELECT sp.vec_id, sp.split,
             sp.vec_id IN (SELECT vec_id FROM lk) AS leaked,
             CASE WHEN sp.split = 'val'
                    AND sp.vec_id IN (SELECT vec_id FROM lk)
                  THEN 'dropped' ELSE sp.split END AS final_split
           FROM sp ORDER BY sp.vec_id"""))),

    // ---- q192: the STREAMING SEMANTIC-LEAK GATE's batch twin — the
    // q187 audit run the way the live sink runs it: val-candidate
    // embeddings ARRIVE in micro-batches (evens then odds), each batch
    // scored against the SERVED train-side index and committed fenced,
    // batch 0 deliberately REPLAYED (the fence must skip it — the
    // q170 discipline), then the audit artifact read back. The served
    // pair set must equal q187's exactly — batching, replay, and the
    // fence machinery must not change ONE detected pair — and each
    // pair carries its batch provenance, which the synthesis makes
    // exactly determined (batch = val_vec parity). The index is
    // read-only throughout: a val arrival must never advance the
    // train index — that WOULD be the leak.
    Q("q192_semantic_leak_stream",
      (s, d) => {
        val idx = semanticLeakTrainIndex(s, d)
        val audit = graft.TempArtifacts.perCall(s, "graft_semleak_audit")
        val valVecs = Tables.embeddings(s, d)
          .join(vecSplitOf(s, d).filter(col("split") === "val")
            .select("vec_id"), Seq("vec_id"), "left_semi")
        val b0 = valVecs.filter(col("vec_id") % 2 === 0)
        val b1 = valVecs.filter(col("vec_id") % 2 === 1)
        // the corpus flat view is identical across the three batch
        // bodies — retain it once for the query instead of per batch
        val corpus = Some(graft.CacheScope.retain(flat(s, d)))
        graft.streaming.Streams.semanticLeakAuditBatch(b0, 0L, d, idx,
          audit, corpus)
        graft.streaming.Streams.semanticLeakAuditBatch(b1, 1L, d, idx,
          audit, corpus)
        // replay batch 0 after batch 1: fenced, must not double pairs
        graft.streaming.Streams.semanticLeakAuditBatch(b0, 0L, d, idx,
          audit, corpus)
        graft.sources.BatchCommits.readComponent(s, audit)
          .select(col("train_vec"), col("val_vec"), col("cos"),
            col("batch_id"))
          .orderBy("train_vec", "val_vec")
      },
      Some(semanticLeakOracleSql(
        s"SELECT train_vec, val_vec, cos, " +
          "CAST(val_vec % 2 AS BIGINT) AS batch_id FROM leaks " +
          "ORDER BY train_vec, val_vec")))
  )

  /** q187's leak bar: cosine (6-dp rounded, the suite's cross-engine
    * float discipline) at or above which a val-train candidate pair is
    * a reported leak. Lower than q111's within-cluster SemT bar: an
    * audit wants the suspicious tail too, and 0.25 makes both branches
    * fire on every shipped SF (measured: the corpus' cross-split
    * probed-candidate cosines span ~[-0.44, 0.44], ~4% of candidate
    * pairs at or above 0.25).
    */
  private[graft] val SemLeakT = 0.25

  /** q187/q188's nprobe: lists probed per val vector. */
  private[graft] val SemLeakNProbe = 2

  /** The q187/q188 train/val split on vec_id — the q75/q179 hash-split
    * discipline (pure projection, no exchange) under a distinct salt
    * prefix so the vec split is independent of the doc split.
    */
  private[graft] def vecSplitOf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      when(graft.functions.Hashing.h60(
        concat(lit("vec-"), col("vec_id"))) % 100 < 90, "train")
        .otherwise("val").as("split"))

  /** The q187 pair set: (train_vec, val_vec, cos >= [[SemLeakT]]),
    * cosines exact on the index-served, list-bounded candidates only.
    */
  private[graft] def semanticLeakPairs(s: SparkSession, d: String): DataFrame = {
    val f = graft.CacheScope.retain(flat(s, d))
    val split = vecSplitOf(s, d)
    val valf = f.join(split.filter(col("split") === "val").select("vec_id"),
      Seq("vec_id"), "left_semi")
    semanticLeakPairsOf(s, d, valf, semanticLeakTrainIndex(s, d))
  }

  /** The persisted train-side IVF index the split would ship with,
    * served per JVM.
    */
  private[graft] def semanticLeakTrainIndex(s: SparkSession,
      d: String): String =
    graft.TempArtifacts.served(graft.TempArtifacts.fingerprint(d,
        "embeddings"), "graft_ivf_split") { p =>
      val f = graft.CacheScope.retain(flat(s, d))
      buildIvfIndex(f.join(
        vecSplitOf(s, d).filter(col("split") === "train")
          .select("vec_id"),
        Seq("vec_id"), "left_semi"), p)
    }

  /** The q187 candidate-cosine body over an ARBITRARY flat val side
    * (vec_id, i, v) served from the persisted index at `idx` — the
    * shared core of the batch audit (q187: valf = the split's val
    * half) and the STREAMING leak gate (valf = one micro-batch of
    * arriving val-candidate embeddings, [[graft.streaming.Streams
    * .semanticLeakAuditBatch]]). Train-side components and norms come
    * from the corpus at `d`; val norms from `valf` itself, so a true
    * arrival that is not in the corpus still scores exactly.
    */
  private[graft] def semanticLeakPairsOf(s: SparkSession, d: String,
      valf: DataFrame, idx: String,
      corpus: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `corpus`: an already-retained corpus flat view — a multi-batch
    // caller (q192 runs three batch bodies per query) retains the
    // corpus ONCE for the query and passes it in, instead of each
    // batch body re-persisting and re-materializing the identical
    // frame; without it the corpus is retained for the caller's scope
    val f = corpus.getOrElse(graft.CacheScope.retain(flat(s, d)))
    val cent = indexCentroids(s, idx)
    // each val vector's nprobe nearest lists against the FROZEN
    // centroid table (metadata-scale, broadcast)
    val probe = valf
      .join(broadcast(cent), col("i") === col("ci"))
      .groupBy("vec_id", "clabel")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy("d2", "clabel")))
      .filter(col("rn") <= SemLeakNProbe)
      .select(col("vec_id").as("val_vec"), col("clabel").as("lst"))
    // candidate dots in the q111 LIST-CO-GROUPED shape: both sides keyed
    // by (lst, i), so the pair expansion happens only INSIDE the list
    // join and each candidate pair is priced once per shared list (max
    // dedupes the <= nprobe copies — the dot is identical). The other
    // shape (materialize candidate pairs, then re-join each side's
    // components per pair) expands every pair 64x BEFORE its joins —
    // measured 2.5x slower than the brute-force val x train scan it is
    // supposed to beat.
    val valSide = probe.join(
      valf.select(col("vec_id").as("val_vec"), col("i"),
        col("v").as("av")), "val_vec")
    // assignment rows are DISTINCT'd first: the artifact contract
    // (compactIvfIndex) allows byte-identical duplicate rows from
    // unfenced replays pre-compaction, and set semantics is what makes
    // the served candidate set replay-invariant — without it a
    // duplicated (vec_id, lst) row would double every component row
    // and double dot0 (the old shape got this via cand.distinct())
    val trainSide = indexAssignments(s, idx)
      .select(col("vec_id").as("train_vec"), col("lst")).distinct()
      .join(f.select(col("vec_id").as("train_vec"), col("i"),
        col("v").as("bv")), "train_vec")
    val valNrm = valf.groupBy("vec_id")
      .agg(sum(col("v") * col("v")).as("n2"))
    val trainNrm = f.groupBy("vec_id")
      .agg(sum(col("v") * col("v")).as("n2"))
    valSide.join(trainSide, Seq("lst", "i"))
      .groupBy("lst", "val_vec", "train_vec")
      .agg(sum(col("av") * col("bv")).as("dot0"))
      .groupBy("val_vec", "train_vec")
      .agg(max(col("dot0")).as("dot"))
      .join(valNrm.select(col("vec_id").as("val_vec"),
        col("n2").as("na")), "val_vec")
      .join(trainNrm.select(col("vec_id").as("train_vec"),
        col("n2").as("nb")), "train_vec")
      .select(col("train_vec"), col("val_vec"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6)
          .as("cos"))
      .filter(col("cos") >= SemLeakT)
  }

  /** The shared q187/q188 oracle CTE chain (train-side centroids +
    * assignments, val-side nprobe probe, candidate cosine, `leaks`),
    * closed by the query-specific `tail`.
    */
  private def semanticLeakOracleSql(tail: String): String =
    s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, label, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      sp AS (SELECT vec_id,
               CASE WHEN ${graft.functions.Hashing
                 .h60Sql("concat('vec-', vec_id)")} % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
             FROM embeddings),
      tr AS (SELECT f.* FROM flat f JOIN sp USING (vec_id)
             WHERE sp.split = 'train'),
      vl AS (SELECT f.* FROM flat f JOIN sp USING (vec_id)
             WHERE sp.split = 'val'),
      cent AS (SELECT label AS clabel, i, avg(v) AS c
               FROM tr GROUP BY 1, 2),
      d2t AS (SELECT f.vec_id, c.clabel, sum((v - c) * (v - c)) AS d2
              FROM tr f JOIN cent c USING (i) GROUP BY 1, 2),
      asg AS (SELECT vec_id AS train_vec, clabel AS lst FROM (
                SELECT vec_id, clabel,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, clabel) AS rn FROM d2t) t
              WHERE rn = 1),
      d2v AS (SELECT f.vec_id, c.clabel, sum((v - c) * (v - c)) AS d2
              FROM vl f JOIN cent c USING (i) GROUP BY 1, 2),
      probe AS (SELECT vec_id AS val_vec, clabel AS lst FROM (
                  SELECT vec_id, clabel,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2, clabel) AS rn FROM d2v) t
                WHERE rn <= $SemLeakNProbe),
      cand AS (SELECT DISTINCT val_vec, train_vec
               FROM probe JOIN asg USING (lst)),
      nrm AS (SELECT vec_id, sum(v*v) AS n2 FROM flat GROUP BY 1),
      dots AS (SELECT c.val_vec, c.train_vec, sum(a.v * b.v) AS dot
               FROM cand c JOIN flat a ON a.vec_id = c.val_vec
                           JOIN flat b ON b.vec_id = c.train_vec
                             AND a.i = b.i
               GROUP BY 1, 2),
      leaks AS (SELECT train_vec, val_vec, cos FROM (
                  SELECT d.train_vec, d.val_vec,
                         round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 6)
                           AS cos
                  FROM dots d JOIN nrm na ON d.val_vec = na.vec_id
                              JOIN nrm nb ON d.train_vec = nb.vec_id) z
                WHERE cos >= $SemLeakT)
      $tail"""

  /** q150: max centroid drift (4-dp, q142's metric) above which the
    * full rebuild fires. 0.05 is exceeded at every shipped SF — the
    * non-firing branch is pinned by IvfIndexSpec with a large budget.
    */
  val DriftBudget = 0.05

  /** q150's body: build v1 -> advance -> drift trigger -> conditional
    * full rebuild as v2 -> serve the live version. Fresh root per call
    * (advance mutates v1; a memoized copy would be poisoned).
    */
  def indexRebuildFlow(s: SparkSession, f: DataFrame, split: Long,
      budget: Double): DataFrame = {
    val root = graft.TempArtifacts.perCall(s, "graft_ivf_versions")
    buildIvfIndex(f.filter(col("vec_id") < split), root)
    advanceIvfIndex(f.filter(col("vec_id") >= split), root)
    // the trigger: one scalar off the k-row drift table (k = number of
    // lists — metadata-scale; this collect is the scheduler's poll,
    // not a data-sized driver loop). Drift is SERVED from the artifact:
    // post-advance, the live centroid table is the base
    // centroids and the live assignment table is the full corpus
    // assigned to them — re-deriving both costs a second corpus-wide
    // assignment join per run (the plan's single biggest execution).
    val maxDrift = centroidDriftFrom(f,
        indexCentroids(s, root), indexAssignments(s, root))
      .agg(max("drift")).head().getDouble(0)
    val rebuilt = maxDrift > budget
    if (rebuilt) buildIvfIndex(f, root)
    val version = java.nio.file.Paths.get(
      graft.sources.ArtifactVersions.live(root)).getFileName.toString
    serveIvfRecall(s, f, root)
      .select(lit(version).as("live_version"), lit(rebuilt).as("rebuilt"),
        lit(maxDrift).as("max_drift"),
        col("n_candidates"), col("hits"), col("recall_at_10"))
  }

  /** DuckDB twin of q150: q142's drift CTEs produce the trigger
    * scalar; the served geometry is full-corpus centroids when it
    * exceeds the budget, base centroids otherwise (≡ v1 + advance);
    * then the q89/q118 recall probe over that geometry.
    */
  private lazy val indexRebuildOracleSql: String =
    s"""WITH flat AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM (
           SELECT vec_id, label, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      cent AS (SELECT label AS clabel, i AS ci, avg(v) AS c FROM flat
               WHERE vec_id < $AnnAdvanceSplit GROUP BY 1, 2),
      d2 AS (SELECT f.vec_id, c.clabel,
               sum((f.v - c.c) * (f.v - c.c)) AS d2
             FROM flat f JOIN cent c ON f.i = c.ci GROUP BY 1, 2),
      asg AS (SELECT vec_id, clabel AS lst FROM (
               SELECT vec_id, clabel, row_number() OVER (
                 PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM d2) t
              WHERE rn = 1),
      newc AS (SELECT a.lst, f.i, avg(f.v) AS cn
               FROM flat f JOIN asg a USING (vec_id) GROUP BY 1, 2),
      dr AS (SELECT c.clabel AS lst,
               sqrt(sum((n.cn - c.c) * (n.cn - c.c))) AS dv
             FROM cent c JOIN newc n
               ON n.lst = c.clabel AND n.i = c.ci GROUP BY 1),
      mx AS (SELECT max(round(dv, 4)) AS md FROM dr),
      centf AS (SELECT label AS clabel, i AS ci, avg(v) AS c FROM flat
                GROUP BY 1, 2),
      cs AS (SELECT * FROM centf WHERE (SELECT md FROM mx) > $DriftBudget
             UNION ALL
             SELECT * FROM cent WHERE (SELECT md FROM mx) <= $DriftBudget),
      d2s AS (SELECT f.vec_id, c.clabel,
                sum((f.v - c.c) * (f.v - c.c)) AS d2
              FROM flat f JOIN cs c ON f.i = c.ci GROUP BY 1, 2),
      asgs AS (SELECT vec_id, clabel AS lst FROM (
                SELECT vec_id, clabel, row_number() OVER (
                  PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM d2s) t
               WHERE rn = 1),
      probe2 AS (SELECT clabel AS lst FROM d2s WHERE vec_id = 0
                 ORDER BY d2, clabel LIMIT 2),
      cand AS (SELECT vec_id FROM asgs JOIN probe2 USING (lst)
               WHERE vec_id <> 0),
      qv AS (SELECT i, v AS qv FROM flat WHERE vec_id = 0),
      qn AS (SELECT sum(qv*qv) AS qn FROM qv),
      dots AS (SELECT f.vec_id, sum(f.v*q.qv) AS dot, sum(f.v*f.v) AS nrm
               FROM flat f JOIN qv q USING (i) WHERE f.vec_id <> 0
               GROUP BY f.vec_id),
      exact AS (SELECT vec_id,
                  round(dot / (sqrt(nrm) * sqrt(qn)), 6) AS cos_sim
                FROM dots, qn ORDER BY cos_sim DESC, vec_id LIMIT 10),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      h AS (SELECT count(*) AS hits FROM exact
            WHERE vec_id IN (SELECT vec_id FROM cand))
      SELECT CASE WHEN (SELECT md FROM mx) > $DriftBudget
               THEN 'v2' ELSE 'v1' END AS live_version,
        (SELECT md FROM mx) > $DriftBudget AS rebuilt,
        (SELECT md FROM mx) AS max_drift,
        nc.n_candidates, h.hits,
        round(h.hits / 10.0, 4) AS recall_at_10
      FROM nc, h"""

  /** q142's body over a flat (vec_id, label, i, v) view: frozen
    * label-mean centroids from vectors below `split`, every vector
    * (base + arrivals) assigned by the frozen quantizer, each list's
    * centroid recomputed from its members, drift = L2(old, new). A
    * base list that attracts no members reports n_members = 0 and a
    * NULL drift.
    */
  def centroidDriftOf(f: DataFrame, split: Long): DataFrame = {
    val fc = graft.CacheScope.retain(f)
    val cent = graft.CacheScope.retain(
      fc.filter(col("vec_id") < split)
        .groupBy("label", "i").agg(avg("v").as("c"))
        .select(col("label").as("clabel"), col("i").as("ci"), col("c")))
    // the ONE shared assignment rule (build/advance/drift must agree)
    val assign = graft.CacheScope.retain(assignToCentroids(fc, cent))
    centroidDriftFrom(fc, cent, assign)
  }

  /** The drift table from an EXISTING centroid/assignment pair — the
    * artifact-served leg: q150 advances the v1 index before
    * polling drift, at which point the artifact's centroid table IS
    * the base centroids and its assignment table (build rows plus the
    * advance append) IS assignToCentroids(full corpus, base) — so the
    * flow reads both back instead of recomputing the corpus-wide
    * assignment join a second time (the q112/q117 served-artifact
    * discipline). q142 keeps the from-scratch entry above: no artifact
    * exists in its flow.
    */
  private def centroidDriftFrom(fc: DataFrame, cent: DataFrame,
      assign: DataFrame): DataFrame = {
    val nm = assign.groupBy("lst").agg(count(lit(1)).as("n"))
    val newc = fc.join(assign, "vec_id").groupBy("lst", "i")
      .agg(avg("v").as("cn"))
    val dr = newc.join(broadcast(cent),
        col("lst") === col("clabel") && col("i") === col("ci"))
      .groupBy("lst")
      .agg(sqrt(sum((col("cn") - col("c")) * (col("cn") - col("c"))))
        .as("dv"))
    cent.select(col("clabel").as("lst")).distinct()
      .join(broadcast(nm), Seq("lst"), "left")
      .join(broadcast(dr), Seq("lst"), "left")
      .select(col("lst"), coalesce(col("n"), lit(0L)).as("n_members"),
        round(col("dv"), 4).as("drift"))
  }

  /** q137's body: cluster-bounded candidate pairs, cross-label filter,
    * per-vector top-1 by (cos DESC, neighbor id).
    */
  def hardNegativesOf(emb: DataFrame,
      nProbe: Int = SemNProbe): DataFrame = {
    val (_, half) = clusterBoundedCosineOf(emb, nProbe)
    val lab = emb.select(col("vec_id"), col("label"))
    val sym = half.union(
      half.select(col("vb").as("va"), col("va").as("vb"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("va").orderBy(col("cos").desc, col("vb").asc)
    // the label table is one (vec_id, label) row per vector — broadcast
    // both sides so the pair table never re-shuffles for the label
    // lookups (measured at sf0.1: 51 MB of exchange saved); past
    // broadcastable vector counts, pre-bucket pairs and labels on the
    // join key instead
    sym.join(broadcast(lab.select(col("vec_id").as("va"), col("label").as("la"))), "va")
      .join(broadcast(lab.select(col("vec_id").as("vb"), col("label").as("lb"))), "vb")
      .filter(col("la") =!= col("lb"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("va").as("vec_id"), col("la").as("label"),
        col("vb").as("neg_id"), col("lb").as("neg_label"), col("cos"))
  }

  /** Shared candidate machinery of q111 (SemDeDup) and q116 (kNN
    * graph): stride-seed cluster assignment and the cluster-bounded
    * half-pair cosine table. Returns (asg: vec_id -> cl, half:
    * (va, vb, cos) with va < vb, cosine rounded to 6 dp). Assignment
    * is one broadcast join (centroids are k·dim ≈ n/stride·dim —
    * metadata-scale relative to the corpus; shard the centroid table
    * if k outgrows a broadcast); candidate membership is MULTI-PROBE
    * (each vector belongs to its `nProbe` nearest centroids, rank via
    * a vec_id-partitioned window — hash-parallel, never one task), so
    * pairs straddling a cluster boundary are reachable; the pair join
    * stays bounded to ≈ nProbe·n·stride rows by the quantizer
    * geometry. A pair sharing BOTH probed clusters would double; the
    * identical duplicate rows (deterministic expression, same inputs)
    * are dropped by key.
    *
    * The pair cosines run at VECTOR level through the native
    * double-accumulating [[graft.functions.VectorOps.cosine]]
    * expression: the only shuffled relations are the membership and
    * vector tables (rows ≈ nProbe·n), while the pair×dim blowup exists
    * only inside join tasks and is consumed by codegen'd projection.
    * The previous component-level flat join aggregated that blowup
    * through a shuffle — measured 179 MB shuffle / 4.3 s on q116 at
    * sf0.1, vs ~2 MB / 1.7 s for this shape. Skewed mega-clusters hit
    * the cl-keyed join as AQE-splittable skew, not a blowup.
    */
  private def clusterBoundedCosine(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    clusterBoundedCosineOf(Tables.embeddings(s, d))

  private[graft] def clusterBoundedCosineOf(emb: DataFrame,
      nProbe: Int = SemNProbe): (DataFrame, DataFrame) = {
    // Centroid distances WITHOUT the flat explode: the flat path
    // posexplodes every vector and pushes n_vec x n_cent x dim rows
    // through a broadcast join and a hash aggregate (16M rows at
    // sf0.1) just to compute n_vec x n_cent scalars. The array form
    // crossJoins each vector row with the (broadcast, metadata-scale)
    // centroid table and evaluates the squared-L2 fold per PAIR row in
    // codegen — same flop count, no row explosion, no aggregate hash
    // table. Bit-parity with the flat sum: SquaredL2 accumulates in
    // ascending index order, which is exactly the order the hash
    // aggregate accumulates (posexplode emits i ascending within a
    // vector's partition), and each element term casts to double
    // BEFORE subtracting, as the flat path does. The kernel is the
    // codegen'd SquaredL2 expression, not an aggregate(zip_with(...))
    // fold — HOFs are CodegenFallback and evaluate interpreted.
    val cent = emb.filter(col("vec_id") % SemSeedStride === 0)
      .select(col("vec_id").as("clabel"), col("embedding").as("ce"))
    val d2 = graft.functions.VectorOps.sqDist(col("embedding"), col("ce"))
    // ONE wide row per vector: the probe list is folded in the
    // same aggregate that consumes the (broadcast) centroid crossJoin —
    // sort_array over the k-struct list picks the nProbe nearest by
    // (d2, clabel), exactly a ranking window's orderBy and tie rule,
    // without the window's full exchange+sort of the n x k distance
    // rows, plus the ranked-to-embedding re-join (the vector rides the
    // aggregate via first(); every group's values are identical). The
    // partial aggregate collapses each vector's k rows map-side, so the
    // one exchange carries n wide rows.
    val ranked = graft.CacheScope.retain(
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("clabel"), d2.as("d2"))
        .groupBy("vec_id")
        .agg(first(col("embedding")).as("embedding"),
          slice(sort_array(collect_list(struct(col("d2"), col("clabel")))),
            1, nProbe).as("ds"))
        .select(col("vec_id"), col("embedding"),
          expr("transform(ds, x -> x.clabel)").as("cls")))
    val asg = ranked.select(col("vec_id"), col("cls")(0).as("cl"))
    val a = ranked.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("cls").as("clsa"), explode(col("cls")).as("cl"))
    val b = a.select(col("va").as("vb"), col("ea").as("eb"),
      col("clsa").as("clsb"), col("cl").as("clb"))
    // a pair probing TWO shared clusters used to emit twice and pay a
    // dropDuplicates exchange of the whole pair table; the duplicate is
    // now dropped map-side by keeping only the pair's LEAST shared
    // cluster label (the duplicate rows were value-identical — same
    // vectors, same cos — so which one survives is immaterial)
    val half = a
      .join(b, col("cl") === col("clb") && col("va") < col("vb"))
      .filter(col("cl") ===
        array_min(array_intersect(col("clsa"), col("clsb"))))
      .select(col("va"), col("vb"),
        round(graft.functions.VectorOps.cosine(col("ea"), col("eb")), 6)
          .as("cos"))
    (asg, half)
  }

  /** The q116 operator over an arbitrary embeddings table (vec_id,
    * embedding): cluster-bounded candidates (multi-probe, `nProbe`
    * nearest centroids per vector) mirrored both ways, then per-vector
    * top-`k` via a PARTITIONED window.
    */
  private[graft] def knnGraphOf(emb: DataFrame, k: Int = KnnK,
      nProbe: Int = SemNProbe): DataFrame = {
    val (_, half) = clusterBoundedCosineOf(emb, nProbe)
    val sym = half.union(
      half.select(col("vb").as("va"), col("va").as("vb"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("va").orderBy(col("cos").desc, col("vb").asc)
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("va").as("vec_id"), col("rnk"),
        col("vb").as("nbr_id"), col("cos"))
  }

  /** Fit the IVF coarse quantizer on a deterministic 1-in-5 subset: at
    * 100 TB the quantizer is always fit on a sample — centroid quality
    * needs vastly fewer points than the corpus holds. Fitting is a
    * SEPARATE step from search ([[annIvfWith]]): a production index
    * fits once, persists the model, and serves many probes.
    */
  def fitIvfQuantizer(emb: DataFrame, nClusters: Int = 16,
      seed: Long = 42L): org.apache.spark.ml.clustering.KMeansModel =
    new org.apache.spark.ml.clustering.KMeans()
      .setK(nClusters).setSeed(seed).setMaxIter(10)
      .fit(emb.filter(col("vec_id") % 5 === 0).select("features"))

  /** Persist / reload the trained coarse quantizer (MLWritable) — the
    * fit-once lifecycle for the TRAINED path, completing what q118's
    * deterministic parquet artifact gives the per-label-mean path. A
    * production deployment fits on a sample, saves the model next to
    * the index, and every probe job loads it instead of re-fitting.
    */
  def saveIvfQuantizer(model: org.apache.spark.ml.clustering.KMeansModel,
      path: String): Unit =
    model.write.overwrite().save(path)

  def loadIvfQuantizer(s: SparkSession, path: String)
      : org.apache.spark.ml.clustering.KMeansModel =
    org.apache.spark.ml.clustering.KMeansModel.load(path)

  /** The IVF index ([[graft.sources.ArtifactVersions]] components
    * `centroids` and `assignments`): the q89/q80 deterministic
    * per-label-mean quantizer, so the artifact stays oracle-checkable,
    * and every vector's nearest-centroid list. `f` is the flat
    * (vec_id, label, i, v) view of the embeddings.
    */
  def buildIvfIndex(f: DataFrame, path: String): Unit = {
    val cent = graft.CacheScope.retain(
      f.groupBy("label", "i").agg(avg("v").as("c"))
        .select(col("label").as("clabel"), col("i").as("ci"), col("c")))
    graft.sources.ArtifactVersions.build(path,
      "centroids" -> cent, "assignments" -> assignToCentroids(f, cent))
  }

  /** Nearest-centroid list assignment of a flat (vec_id, i, v) relation
    * against a centroid table — the one copy of the rule the build and
    * advance paths share (they must agree exactly, or an advanced
    * artifact would diverge from a rebuild).
    */
  private def assignToCentroids(f: DataFrame, cent: DataFrame): DataFrame =
    f.join(broadcast(cent), col("i") === col("ci"))
      .groupBy("vec_id", "clabel")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("lst"))

  /** q130: append arriving vectors' list assignments against the
    * index's FROZEN centroids (centroids drift only at the next full
    * rebuild). Cost per batch: the batch's rows x k centroid rows.
    */
  def advanceIvfIndex(arrivals: DataFrame, path: String,
      batchId: Option[Long] = None): Unit =
    graft.sources.ArtifactVersions.advance(path, batchId, arrivals)(
      "assignments" -> (a => assignToCentroids(a,
        indexCentroids(a.sparkSession, path))))

  def indexAssignments(s: SparkSession, path: String): DataFrame =
    graft.sources.ArtifactVersions.read(s, path, "assignments")

  def indexCentroids(s: SparkSession, path: String): DataFrame =
    graft.sources.ArtifactVersions.read(s, path, "centroids")

  /** An assignment row is a pure function of the vector and the frozen
    * centroids, so the distinct rewrite keeps the served candidate set;
    * the centroid table is copied verbatim.
    */
  def compactIvfIndex(s: SparkSession, path: String): Unit =
    graft.sources.ArtifactVersions.compact(
      s, path, Seq("assignments"), copied = Seq("centroids"))

  /** The q118/q130 serve path: probe vec 0's nprobe=2 nearest lists from
    * the artifact's centroid table, candidates from its assignment
    * table, recall vs the exact top-10.
    */
  private def serveIvfRecall(s: SparkSession, f: DataFrame,
      idx: String): DataFrame = {
    val cent = indexCentroids(s, idx)
    val assign = indexAssignments(s, idx)
    val probe2 = f.filter(col("vec_id") === 0)
      .join(broadcast(cent), col("i") === col("ci"))
      .groupBy("clabel")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
      .orderBy("d2", "clabel").limit(2)
      .select(col("clabel").as("lst"))
    val cand = assign.filter(col("vec_id") =!= 0)
      .join(broadcast(probe2), "lst").select("vec_id")
    val exact10 = exactTop10(f)
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val hits = exact10.join(cand, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    nCand.crossJoin(hits)
      .select(col("n_candidates"), col("hits"),
        round(col("hits").cast("double") / 10.0, 4).as("recall_at_10"))
  }

  /** q130: vectors below are the base (index-build) corpus; the rest
    * arrive and are advanced into the artifact.
    */
  val AnnAdvanceSplit = 375L

  /** The search leg of IVF over a PRE-FIT spark.ml quantizer — the
    * trained-model SERVING path (fit once, [[saveIvfQuantizer]], load
    * per probe job). Kept alongside the q46 deterministic Lloyd
    * trainer: spark.ml's k-means|| is the right fit at corpus scale,
    * but its trained centers are not cross-engine reproducible, so the
    * ORACLE-CHECKED query surface trains with [[annIvfRecall]]'s
    * integer-quantized Lloyd loop instead.
    */
  def annIvfWith(emb: DataFrame,
      model: org.apache.spark.ml.clustering.KMeansModel,
      probeId: Long, k: Int, nProbe: Int = 2): DataFrame = {
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"), col("prediction"))
    // nprobe centroids closest to the probe vector (driver-side: centroid
    // table is metadata-scale)
    val probeEmb = emb.filter(col("vec_id") === probeId)
      .select("embedding").head().getSeq[Float](0)
    val probeVec = probeEmb.map(_.toDouble).toArray
    val nearCentroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val dist = c.toArray.zip(probeVec).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, dist)
      }.sortBy(_._2).take(nProbe).map(_._1).toSeq
    val cand = assigned
      .filter(col("prediction").isin(nearCentroids: _*) && col("vec_id") =!= probeId)
    // exact cosine re-rank on the candidate lists only (native expression)
    val qlit = typedlit(probeEmb.toArray)
    cand.select(col("vec_id"),
        round(graft.functions.VectorOps.cosine(col("embedding"), qlit), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-vector sign-LSH buckets (vec_id, bk0..bk{LshTables-1}) from
    * the fixed q96 geometry: components quantized at [[QuantScale]] so
    * each per-bit dot is an exact integer sum, signs from
    * [[lshSign]]'s md5 parity. The ONE copy of the bucket rule q96 and
    * q38 share. One narrow projection, no shuffle, codegen-friendly.
    */
  private def signBuckets(emb: DataFrame): DataFrame = {
    val q = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * QuantScale + 0.5)).as("q"))
    val buckets = (0 until LshTables).map { t =>
      (0 until LshBits).map { b =>
        val signs = typedlit((0 until Dim).map(i => lshSign(t, b, i)).toArray)
        val bitsum = aggregate(
          zip_with(col("q"), signs, (x, sg) => x * sg),
          lit(0L), (acc, v) => acc + v)
        when(bitsum > 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _).as(s"bk$t")
    }
    q.select(col("vec_id") +: buckets: _*)
  }

  /** Exact cosine of every vector against EACH of the first `nProbes`
    * vectors (self-pairs excluded), 6-dp rounded — the multi-probe
    * generalization of [[cosineVsProbe]] shared by q38/q46. The probe
    * flat rows and norms are broadcast (nProbes × Dim rows —
    * metadata); the corpus side shuffles once on (probe_id, vec_id).
    */
  private def multiProbeCosine(f: DataFrame, nProbes: Int): DataFrame = {
    val pf = f.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("i").as("qi"),
        col("v").as("qv"))
    val pn = pf.groupBy("probe_id").agg(sum(col("qv") * col("qv")).as("qn"))
    f.join(broadcast(pf), col("i") === col("qi"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("v") * col("qv")).as("dot"),
        sum(col("v") * col("v")).as("nrm"))
      .join(broadcast(pn), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        round(col("dot") / (sqrt(col("nrm")) * sqrt(col("qn"))), 6)
          .as("cos_sim"))
  }

  /** Per-probe recall bookkeeping shared by q38/q46: from the
    * multi-probe cosine table and the (probe_id, vec_id) candidate
    * pairs, the per-probe candidate count, exact-top-k hit count, and
    * recall@k. Probes whose candidate set is empty drop out (both
    * engines agree; does not occur at these geometries).
    */
  private def probeRecallSummary(cos: DataFrame, cand: DataFrame,
      k: Int, scoreCol: String = "cos_sim",
      scoreAsc: Boolean = false): DataFrame = {
    val ord = if (scoreAsc) col(scoreCol).asc else col(scoreCol).desc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(ord, col("vec_id"))
    val exactK = cos.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select("probe_id", "vec_id")
    val nCand = cand.groupBy("probe_id")
      .agg(count(lit(1)).as("n_candidates"))
    val hits = exactK.join(cand, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    nCand.join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_candidates"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / k, 4)
          .as("recall_at_10"))
  }

  /** q38's body: deterministic multi-probe sign-LSH ANN. Candidates =
    * any shared bucket with the probe across the [[LshTables]] tables;
    * output = each probe's candidates re-ranked by exact cosine to the
    * top-k ranked neighbors, with the per-probe candidate count and
    * recall@k vs the in-plan brute-force top-k. Everything shuffles on
    * (probe_id, vec_id) hashes; the probe bucket rows are broadcast.
    */
  def annLshRecall(s: SparkSession, d: String,
      nProbes: Int = AnnNProbes, k: Int = 10): DataFrame =
    annLshRecallOf(Tables.embeddings(s, d), nProbes, k)

  /** Same, over an arbitrary (vec_id, embedding) frame — lets the
    * property spec feed random corpora through the identical bucket +
    * re-rank pipeline (q38 adds its table read at the query edge).
    */
  def annLshRecallOf(emb: DataFrame,
      nProbes: Int = AnnNProbes, k: Int = 10): DataFrame = {
    val bk = graft.CacheScope.retain(signBuckets(emb))
    val probes = bk.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id") +:
        (0 until LshTables).map(t => col(s"bk$t").as(s"pb$t")): _*)
    val anyShared = (0 until LshTables)
      .map(t => col(s"bk$t") === col(s"pb$t")).reduce(_ || _)
    val cand = graft.CacheScope.retain(
      bk.join(broadcast(probes),
          anyShared && col("vec_id") =!= col("probe_id"))
        .select("probe_id", "vec_id"))
    val f = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("v", col("v").cast("double"))
    val cos = graft.CacheScope.retain(multiProbeCosine(f, nProbes))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos_sim").desc, col("vec_id"))
    val annTopk = cos.join(cand, Seq("probe_id", "vec_id"), "left_semi")
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    annTopk
      .join(probeRecallSummary(cos, cand, k), "probe_id")
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("nbr_id"), col("cos_sim"),
        col("n_candidates"), col("hits"), col("recall_at_10"))
      .orderBy("probe_id", "rnk")
  }

  /** q46's body: IVF ANN through a quantizer TRAINED IN-QUERY —
    * [[KmIters]] Lloyd iterations over [[KmScale]]-quantized integer
    * components from md5-ordered seeds. Every assignment argmin
    * compares exact 64-bit-integer distances with a (d2, cid)
    * tie-break, and every centroid update is floor(sum/count + 0.5) of
    * exact integers — correctly-rounded double division of identical
    * inputs — so both engines walk the identical training trajectory
    * and the recall output hash-matches. Scale shape: each iteration
    * is one broadcast join (centroids are K × Dim rows — metadata) +
    * two map-side-combining aggregations over corpus × K narrow
    * integer rows; at 100 TB the trainer runs on a sample
    * ([[fitIvfQuantizer]]'s discipline) while THIS loop stays the
    * oracle-checkable twin of record.
    */
  def annIvfRecall(s: SparkSession, d: String,
      nProbes: Int = AnnNProbes, k: Int = 10): DataFrame =
    annIvfRecallOf(flat(s, d), nProbes, k)

  /** Same, over an arbitrary flat (vec_id, i, v) frame (q46 adds its
    * table read at the query edge).
    */
  private[graft] def annIvfRecallOf(flat0: DataFrame,
      nProbes: Int = AnnNProbes, k: Int = 10): DataFrame = {
    val f = graft.CacheScope.retain(flat0)
    val qf = graft.CacheScope.retain(f.select(col("vec_id"), col("i"),
      floor(col("v") * KmScale + lit(0.5)).cast("long").as("q")))
    val seedW = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    // seed selection: distributed top-K by md5 order, then ranked on
    // the K-row result (metadata-scale window)
    val seeds = qf.select("vec_id").distinct()
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(KmK)
      .withColumn("cid", row_number().over(seedW))
    val cent0 = qf.join(seeds, "vec_id")
      .select(col("cid"), col("i"), col("q").as("c"))
    def d2Of(cent: DataFrame): DataFrame =
      qf.join(broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
    val centT = (1 to KmIters).foldLeft(cent0) { (cent, _) =>
      val asg = d2Of(cent).groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      qf.join(asg, "vec_id").groupBy("cid", "i")
        .agg(floor(sum("q").cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("c"))
    }
    val d2F = graft.CacheScope.retain(d2Of(centT))
    val asgF = d2F.groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy("d2", "cid")
    val plists = d2F.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("cid"), col("d2"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= KmNProbe).select("probe_id", "cid")
    val cand = asgF.join(broadcast(plists), "cid")
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id")
    probeRecallSummary(multiProbeCosine(f, nProbes), cand, k)
      .orderBy("probe_id")
  }

  /** q178's body: IVF-PQ with residual encoding and ADC scoring, over
    * an arbitrary flat (vec_id, label, i, v) frame (the property spec
    * feeds synthetic corpora through the identical pipeline).
    *
    * Determinism: components are [[KmScale]]-quantized integers;
    * coarse centroids (one per label) and residual codewords (one per
    * (subspace, label)) are floor(sum/count + 0.5) of exact integers;
    * every argmin — coarse assignment, subspace encode, probe list
    * pick — compares exact integer distances with an id tie-break;
    * ADC itself sums integers, so the candidate order is exact. Only
    * the final exact-L2 re-rank is float, 6-dp-rounded before
    * ordering (the q121 rule).
    */
  private[graft] def ivfPqRecallOf(flat0: DataFrame,
      nProbes: Int = AnnNProbes, k: Int = 10): DataFrame = {
    val f = graft.CacheScope.retain(flat0)
    val cand = graft.CacheScope.retain(ivfPqCandidatesOf(f, nProbes))
      .select("probe_id", "vec_id")
    // exact L2 per (probe, vector), 6-dp rounded — the multi-probe twin
    // of exactL2Top10 (the PQ path's natural metric is L2, not cosine)
    val pf = f.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("i").as("qi"),
        col("v").as("qv"))
    val ml2 = f.join(broadcast(pf), col("i") === col("qi"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(round(sum((col("v") - col("qv")) * (col("v") - col("qv"))), 6)
        .as("l2"))
    // the shared q38/q46 bookkeeping, ranked ascending on L2; like
    // those queries, a probe with an empty candidate set drops out
    // (both engines agree; does not occur at these geometries)
    probeRecallSummary(ml2, cand, k, scoreCol = "l2", scoreAsc = true)
      .orderBy("probe_id")
  }

  /** The IVF-PQ candidate stage of q178: per-probe ordered
    * (probe_id, vec_id, adist), top [[PqNCand]] per probe — split out
    * so the property spec can compare the FULL ordered candidate
    * lists against an independent reference.
    */
  private[graft] def ivfPqCandidatesOf(f: DataFrame,
      nProbes: Int = AnnNProbes): DataFrame = {
    val qf = graft.CacheScope.retain(f.select(col("vec_id"), col("label"),
      col("i"), floor(col("v") * KmScale + lit(0.5)).cast("long").as("q")))
    // coarse quantizer: one integer centroid per label
    val cent = qf.groupBy(col("label").as("cl"), col("i").as("ci"))
      .agg(floor(sum("q").cast("double") / count(lit(1)) + lit(0.5))
        .cast("long").as("c"))
    val d2 = graft.CacheScope.retain(
      qf.join(broadcast(cent), col("i") === col("ci"))
        .groupBy("vec_id", "cl")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2")))
    val asg = graft.CacheScope.retain(d2.groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cl"))).as("m"))
      .select(col("vec_id"), col("m.cl").as("lst")))
    // residuals against the assigned coarse centroid
    val res = graft.CacheScope.retain(qf.join(asg, "vec_id")
      .join(broadcast(cent), col("lst") === col("cl")
        && col("i") === col("ci"))
      .select(col("vec_id"), col("label"), col("i"),
        (col("q") - col("c")).as("r"))
      .withColumn("m", floor(col("i") / PqSubDim).cast("int")))
    // residual codebooks: one integer codeword per (subspace, label)
    val cb = res.groupBy(col("m").as("cm"), col("label").as("ccl"),
        col("i").as("cbi"))
      .agg(floor(sum("r").cast("double") / count(lit(1)) + lit(0.5))
        .cast("long").as("cw"))
    // encode: nearest codeword per (vector, subspace), exact integers
    val pd2 = res.join(broadcast(cb), col("i") === col("cbi"))
      .groupBy("vec_id", "cm", "ccl")
      .agg(sum((col("r") - col("cw")) * (col("r") - col("cw"))).as("pd2"))
    val code = pd2.groupBy("vec_id", "cm")
      .agg(min(struct(col("pd2"), col("ccl"))).as("mn"))
      .select(col("vec_id"), col("cm"), col("mn.ccl").as("ccl"))
    // each probe's IvfPqNProbe nearest coarse lists (per-probe window
    // over the K-row distance table — metadata)
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy("d2", "cl")
    val plists = d2.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("cl"), col("d2"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= IvfPqNProbe)
      .select(col("probe_id"), col("cl").as("lst"))
    // per-(probe, list) query residual -> ADC distance tables
    // (metadata-scale: nProbes x nprobe x M x K rows)
    val probeComp = qf.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("i").as("pi"), col("q"))
    val qres = probeComp.join(plists, Seq("probe_id"))
      .join(broadcast(cent), col("lst") === col("cl")
        && col("pi") === col("ci"))
      .select(col("probe_id"), col("lst"), col("pi"),
        (col("q") - col("c")).as("qr"))
    val td = qres.join(cb, col("pi") === col("cbi"))
      .groupBy("probe_id", "lst", "cm", "ccl")
      .agg(sum((col("qr") - col("cw")) * (col("qr") - col("cw"))).as("td"))
    // candidates: members of each probe's lists, priced by lookups
    val adc = asg.join(broadcast(plists), "lst")
      .filter(col("vec_id") =!= col("probe_id"))
      .join(code, "vec_id")
      .join(broadcast(td), Seq("probe_id", "lst", "cm", "ccl"))
      .groupBy("probe_id", "vec_id").agg(sum("td").as("adist"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("adist"), col("vec_id"))
    adc.withColumn("rn", row_number().over(wC))
      .filter(col("rn") <= PqNCand)
      .select("probe_id", "vec_id", "adist")
      // the documented ordering contract — never rely on the window
      // operator's incidental partition-internal order surviving the
      // rest of the plan
      .orderBy("probe_id", "adist", "vec_id")
  }

  /** DuckDB twin of q178: the identical integer IVF-PQ — quantize,
    * label centroids, residuals, per-(subspace, label) codewords,
    * argmin encodes with (d2, id) tie-breaks, probe lists, ADC table
    * lookups — mirrored as CTEs, then the exact-L2 top-10 and recall.
    */
  private val ivfPqRecallOracleSql: String =
    s"""WITH kqf AS (SELECT vec_id, label,
           CAST(floor(CAST(v AS DOUBLE) * $KmScale + 0.5) AS BIGINT) AS q, i
         FROM (SELECT vec_id, label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS i FROM embeddings) x),
      cent AS (SELECT label AS cl, i AS ci,
                 CAST(floor(sum(q) * 1.0 / count(*) + 0.5) AS BIGINT) AS c
               FROM kqf GROUP BY 1, 2),
      d2 AS (SELECT f.vec_id, c.cl, sum((f.q - c.c) * (f.q - c.c)) AS d2
             FROM kqf f JOIN cent c ON f.i = c.ci GROUP BY 1, 2),
      asg AS (SELECT vec_id, cl AS lst FROM (
                SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                  ORDER BY d2, cl) AS rn FROM d2) z WHERE rn = 1),
      res AS (SELECT f.vec_id, f.label, f.i, f.q - c.c AS r,
                CAST(floor((f.i - 1) / $PqSubDim) AS INT) AS m
              FROM kqf f JOIN asg a USING (vec_id)
              JOIN cent c ON c.cl = a.lst AND c.ci = f.i),
      cb AS (SELECT m, label AS ccl, i,
               CAST(floor(sum(r) * 1.0 / count(*) + 0.5) AS BIGINT) AS cw
             FROM res GROUP BY 1, 2, 3),
      pd2 AS (SELECT s.vec_id, cb.m, cb.ccl,
                sum((s.r - cb.cw) * (s.r - cb.cw)) AS pd2
              FROM res s JOIN cb ON s.i = cb.i GROUP BY 1, 2, 3),
      code AS (SELECT vec_id, m, ccl FROM (
                 SELECT vec_id, m, ccl, row_number() OVER (
                   PARTITION BY vec_id, m ORDER BY pd2, ccl) AS rn
                 FROM pd2) z WHERE rn = 1),
      pl AS (SELECT probe_id, cl AS lst FROM (
               SELECT vec_id AS probe_id, cl, row_number() OVER (
                 PARTITION BY vec_id ORDER BY d2, cl) AS rn
               FROM d2 WHERE vec_id < $AnnNProbes) z
             WHERE rn <= $IvfPqNProbe),
      qres AS (SELECT p.probe_id, p.lst, f.i, f.q - c.c AS qr
               FROM kqf f JOIN pl p ON f.vec_id = p.probe_id
               JOIN cent c ON c.cl = p.lst AND c.ci = f.i),
      td AS (SELECT q.probe_id, q.lst, cb.m, cb.ccl,
               sum((q.qr - cb.cw) * (q.qr - cb.cw)) AS td
             FROM qres q JOIN cb ON cb.i = q.i GROUP BY 1, 2, 3, 4),
      c0 AS (SELECT p.probe_id, a.vec_id, a.lst
             FROM asg a JOIN pl p USING (lst)
             WHERE a.vec_id <> p.probe_id),
      adc AS (SELECT c0.probe_id, c0.vec_id, sum(t.td) AS adist
              FROM c0 JOIN code k USING (vec_id)
              JOIN td t ON t.probe_id = c0.probe_id AND t.lst = c0.lst
                AND t.m = k.m AND t.ccl = k.ccl
              GROUP BY 1, 2),
      cand AS (SELECT probe_id, vec_id FROM (
                 SELECT probe_id, vec_id, row_number() OVER (
                   PARTITION BY probe_id ORDER BY adist, vec_id) AS rn
                 FROM adc) z WHERE rn <= $PqNCand),
      flat AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM (
                 SELECT vec_id, unnest(embedding) AS v,
                        generate_subscripts(embedding, 1) AS i
                 FROM embeddings) x),
      pf AS (SELECT vec_id AS probe_id, i, v AS qv FROM flat
             WHERE vec_id < $AnnNProbes),
      ml2 AS (SELECT p.probe_id, f.vec_id,
                round(sum((f.v - p.qv) * (f.v - p.qv)), 6) AS l2
              FROM flat f JOIN pf p USING (i)
              WHERE f.vec_id <> p.probe_id GROUP BY 1, 2),
      exactk AS (SELECT probe_id, vec_id FROM (
                   SELECT probe_id, vec_id, row_number() OVER (
                     PARTITION BY probe_id ORDER BY l2, vec_id) AS rn
                   FROM ml2) z WHERE rn <= 10),
      nc AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_candidates
             FROM cand GROUP BY 1),
      h AS (SELECT e.probe_id, count(*) AS hits FROM exactk e
            JOIN cand c ON e.probe_id = c.probe_id
              AND e.vec_id = c.vec_id
            GROUP BY 1)
      SELECT nc.probe_id, nc.n_candidates,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             round(coalesce(h.hits, 0) / 10.0, 4) AS recall_at_10
      FROM nc LEFT JOIN h USING (probe_id)
      ORDER BY nc.probe_id"""
}
