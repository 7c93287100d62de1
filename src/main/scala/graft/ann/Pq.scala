package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze, Schmid 2011: "Product
  * Quantization for Nearest Neighbor Search") — the third canonical scale
  * path beside LSH and IVF, and the one with the COMPRESSION story: the
  * 64-dim float embedding (256 B) is encoded as [[SubSpaces]] 4-bit codes
  * (8 B, 32×). At 100 TB of embeddings, the PQ-coded corpus is the
  * representation that fits an executor-memory scan: ADC scoring reads
  * 8 bytes per vector instead of 256, and the exact re-rank touches only
  * the shortlist.
  *
  * Reference anchor: `src/vector_search/indexer.py:44` (HNSW build) — the
  * memory-bound regime PQ addresses is the same one the reference's
  * Typesense index hits at scale.
  *
  * How it works, all engine-replayable:
  *
  *  1. SPLIT the spherical q20 projection ([[Ann.ivfProj]] — the shared
  *     ANN geometry) into [[SubSpaces]] blocks of [[SubDim]] components.
  *  2. TRAIN one SHARED codebook over the union of all subvectors
  *     ([[graft.ml.DetKMeans]], raw-space mode — md5-seeded maxmin init,
  *     fixed iterations): [[CodeBook]] codewords of [[SubDim]] dims.
  *     Classic PQ trains one codebook per block; the shared variant is
  *     chosen deliberately — on the sphere projection the per-block
  *     subvector distributions are near-identical, so sharing costs no
  *     measured recall (PqSpec), trains on M× more points, and the
  *     oracle replays ONE fit instead of M (the M-fit form measured
  *     superlinear in DuckDB's CTE count and broke the default
  *     max_expression_depth at M=16). The codebook is a k×4 literal:
  *     constant-size at any corpus scale.
  *  3. ENCODE the corpus: each (vector, block) → its nearest codeword id.
  *     One projection pass; the M 4-bit codes ARE the stored index.
  *  4. ADC (asymmetric distance computation): per query, precompute the
  *     d² from each query subvector to every codeword (an M×16 table —
  *     tiny, broadcast); a corpus vector's approximate distance is the
  *     left-assoc sum of M table lookups. No per-vector float math at
  *     scan time.
  *  5. RE-RANK: exact fixed-point cosine over the ADC shortlist
  *     ([[adaptiveShortlist]] deep by default), emit top-k. Final quality
  *     = brute-force recall of the shortlist, so the depth is the
  *     recall/cost knob (measured curve below).
  *
  * Distance arithmetic is the exact-replay recipe throughout: z-features
  * are exact integers as doubles, codeword coordinates are the portable
  * DetKMeans means, every d² chain and the M-term ADC sum are
  * left-associated identically in the DuckDB oracle, and ties break on
  * vec_id — so the query is hash-gated, not rows-only. The fit, the
  * persisted index and the score path are [[VectorIndex]]'s PQ kind: one
  * list whose centroid is the origin, so each residual is the vector. */
object Pq {

  /** Shipped geometry, sized on the measured isotropic worst case (the
    * IVF-default lesson — size for the honest worst case, expose the
    * knobs). 16 subspaces of 4 dims × 16 codewords = 16 4-bit codes =
    * 8 B/vector (32× vs the 256 B float vector). Measured curves: with
    * per-block codebooks, coarser M=4 plateaued at 0.52 recall@10 with a
    * 50-deep shortlist while M=16 measured 0.84 @ R=50 / 0.95-0.97 @
    * R=100 / 0.99 @ R=150 (n=500) and 0.90/0.96/0.99 @ R=150/200/300
    * (n=2000); the SHIPPED shared-codebook M=16 defaults with the
    * adaptive shortlist measure recall@10 = 1.00 / 1.00 / 0.91 at
    * n=500/500/2000 (the three gate corpora). */
  val SubSpaces = 16
  val SubDim: Int = Ann.IvfDims / SubSpaces // 4
  val CodeBook = 16 // codewords (4-bit codes)
  val PqIters = 10

  /** Adaptive re-rank depth: max(200, n/10) clears 0.9 measured recall@10
    * at every gated corpus on the isotropic worst case; real clustered
    * corpora concentrate and the knob drops. Replayable: the oracle
    * computes the same GREATEST(200, n//10). */
  def adaptiveShortlist(n: Long): Int = math.max(200L, n / 10L).toInt

  def pqTopK(spark: SparkSession, dir: String, k: Int = 10,
             nCodes: Int = CodeBook, shortlist: Int = 0,
             subSpaces: Int = SubSpaces): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    VectorIndex.withFit(emb, VectorIndex.Kind.Pq, nCodes = nCodes, subSpaces = subSpaces)(
      VectorIndex.score(emb, emb.filter(col("vec_id") < 10), _, _, k, shortlist = shortlist))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver query. */
  def annPq(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pqTopK(spark, dir, k)

  /** Driver query: the persisted-index PQ path — oracle-identical to
    * ann_pq (same codes, same codebook, precomputed). */
  def annPqIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    VectorIndex.topK(spark, dir, VectorIndex.ensure(spark, dir, VectorIndex.Kind.Pq), k)
      .orderBy(col("query_id"), col("rank"))

  /** DuckDB oracle: ONE DetKMeans replay over the stacked subvectors
    * (uid = vec_id·M + m), then the code pivot, the per-query
    * codeword-distance table, the M-join ADC sum (left-assoc), the
    * adaptive shortlist window, and the exact q20 re-rank. */
  def annPqOracle(k: Int = 10, nCodes: Int = CodeBook,
                  subSpaces: Int = SubSpaces): String = {
    val subDim = Ann.IvfDims / subSpaces
    val pre =
      s"""pqv AS MATERIALIZED (
         |  SELECT vec_id, qe,
         |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
         |  FROM (SELECT vec_id,
         |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
         |        FROM embeddings)
         |), f AS (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |""".stripMargin +
        (0 until subDim).map { d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[$subDim*m + ${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d"
        }.mkString(",\n") +
        s"\n  FROM pqv CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub)"
    val d2 = (0 until subDim).map(i => s"(a.z$i - c.g$i) * (a.z$i - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val codePivot = (0 until subSpaces).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val adcSum = (0 until subSpaces).map(m => s"q$m.d2")
      .reduce((acc, x) => s"($acc + $x)")
    val adcJoins = (0 until subSpaces).map { m =>
      if (m == 0) s"JOIN qd q0 ON q0.m = 0 AND q0.j = cd.c0"
      else s"JOIN qd q$m ON q$m.m = $m AND q$m.j = cd.c$m AND q$m.query_id = q0.query_id"
    }.mkString("\n  ")
    "WITH " + graft.ml.DetKMeans.oracleCtes(pre, "uid", nFeats = subDim,
      k = nCodes, iters = PqIters, standardize = false) + ",\n" +
      s"""pcodes AS MATERIALIZED (
         |  SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, cluster AS code
         |  FROM afin
         |), cd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot
         |  FROM pcodes GROUP BY 1
         |), qd AS MATERIALIZED (
         |  SELECT a.uid // $subSpaces AS query_id, a.uid % $subSpaces AS m,
         |    c.cluster AS j, $d2 AS d2
         |  FROM afin a CROSS JOIN c$PqIters c
         |  WHERE a.uid // $subSpaces < 10
         |), adc AS MATERIALIZED (
         |  SELECT q0.query_id, cd.vec_id, $adcSum AS approx
         |  FROM cd
         |  $adcJoins
         |  WHERE cd.vec_id <> q0.query_id
         |), sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= GREATEST(200, (SELECT COUNT(*) FROM embeddings) // 10)
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM pqv
         |), pp AS (
         |  SELECT sl.query_id, sl.vec_id,
         |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
         |      i -> a.qe[i] * b.qe[i])) AS dot,
         |    a.nrm AS nrm, b.nrm AS q_nrm
         |  FROM sl
         |  JOIN nn a ON a.vec_id = sl.vec_id
         |  JOIN nn b ON b.vec_id = sl.query_id
         |), ss AS (
         |  SELECT query_id, vec_id,
         |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
         |  FROM pp
         |), rr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
         |  FROM ss
         |)
         |SELECT query_id, vec_id, cos_sim, "rank" FROM rr WHERE "rank" <= $k
         |ORDER BY query_id, "rank"""".stripMargin
  }
}
