package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVFADC — the inverted-file + product-quantization composite (Jégou,
  * Douze, Schmid 2011, §IV "combination with an inverted file system"):
  * the fourth ANN family, and the one production systems actually deploy
  * at billion-vector scale (FAISS `IVFx,PQy`). IVF alone still scans full
  * 256 B vectors in the probed lists; PQ alone still ADC-scans the WHOLE
  * corpus. The composite does neither: a coarse quantizer routes the
  * query to `nProbe` inverted lists, and within those lists vectors are
  * ranked by ADC over 8 B RESIDUAL codes — per query, ~nProbe/nLists of
  * the corpus at 1/32 the bytes.
  *
  * Residual encoding is the paper's key move: PQ codes the OFFSET from
  * the assigned coarse centroid, not the raw vector. Residuals
  * concentrate near the origin, so the same 16×16 codebook spends its
  * codewords on a tighter distribution. On the ISOTROPIC synthetic
  * embeddings the coarse clusters barely concentrate, so the measured
  * edge is small (shortlist-50 recall@10: 0.87 residual vs 0.86 raw at
  * sf0.01 — IvfPqSpec asserts matches-or-beats); on real clustered
  * corpora the gap is the reason IVFADC is the deployed default.
  * Shipped-default recall@10 measures 0.97 at sf0.01 (IvfPqSpec).
  *
  * Exact-replay recipe, every stage engine-replayable:
  *  - coarse quantizer = the IVF geometry verbatim ([[Ann.ivfProj]] +
  *    raw-space [[graft.ml.DetKMeans]], the ann_ivf oracle's fit);
  *  - residuals are EXACT INTEGERS: the coarse centroid is
  *    floor-quantized per dimension (`floor(g_i)` — one portable double
  *    op), so `r_i = x_i − floor(g_i)` stays at the q20 integer scale and
  *    the residual codebook trains through the same decimal-exact
  *    DetKMeans sums as every other fit (an exact mean would make
  *    residuals non-integer rationals; sub-unit centroid error at the
  *    2^20 scale is noise, and faiss quantizes coarse centroids to
  *    float32 for the same reason);
  *  - the shared residual codebook is [[Pq]]'s single-fit form (one
  *    oracle replay, not M — the CTE-budget lesson);
  *  - per-(query, probed-list) ADC tables are driver-built constants
  *    (the Pq codegen-budget lesson: ~70 rows of 16×16 doubles, IEEE
  *    left-assoc identical to the oracle's UNION-ALL form);
  *  - the ADC scan joins codes to the broadcast tables ON THE LIST ID —
  *    the inverted-file restriction is the join itself, no filter pass;
  *  - exact fixed-point-cosine re-rank over the adaptive shortlist.
  *
  * The fit, the persisted index, its appends and the score path are
  * [[VectorIndex]]'s IVFADC kind. Scale shape: fit + encode are one-time;
  * the per-query scan is
  * (nProbe/nLists)·n code rows × 16 array lookups, shuffle-free (codes
  * join a broadcast), and the only window is the per-query shortlist. */
object IvfPq {

  /** (query_id, vec_id, cos_sim, rank) top-k per query — the standard ANN
    * surface. Recall = IVF's probed-list coverage × the residual-ADC
    * shortlist quality; both knobs exposed. Coarse geometry: the ann_ivf
    * size-derived defaults; residual PQ geometry: the ann_pq defaults
    * (16 subspaces × 16 codewords = 8 B/vector). */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 10,
                nLists: Int = 0, nProbe: Int = 0,
                nCodes: Int = Pq.CodeBook, subSpaces: Int = Pq.SubSpaces,
                shortlist: Int = 0): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
    VectorIndex.withFit(emb, VectorIndex.Kind.IvfAdc, nLists, nCodes, subSpaces)(
      VectorIndex.score(emb, emb.filter(col("vec_id") < 10), _, _, k, nProbe, shortlist))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver query. */
  def annIvfPq(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    ivfPqTopK(spark, dir, k)

  /** Driver query: the persisted-index IVFADC path — oracle-identical to
    * ann_ivfpq (same lists, same codes, same codebooks, precomputed). */
  def annIvfPqIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    VectorIndex.topK(spark, dir, VectorIndex.ensure(spark, dir, VectorIndex.Kind.IvfAdc), k)
      .orderBy(col("query_id"), col("rank"))

  /** Driver query: the IVFADC append arc ([[VectorIndex.appendArc]]) —
    * the settled corpus builds the index, the remaining fifth arrives as
    * two assign-only appends, top-k comes back over the whole corpus. */
  def annIvfPqAppend(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    VectorIndex.appendArc(spark, dir, VectorIndex.Kind.IvfAdc, "ivfpq_append_idx", k)()

  /** DuckDB oracle: the ann_ivf coarse-fit replay, the floor-centroid /
    * integer-residual CTEs, ONE prefix-"p" DetKMeans replay over the
    * stacked residual subvectors, the probe ranking, the per-(query, list)
    * UNION-ALL ADC table, the M-join left-assoc ADC sum restricted to the
    * candidate's own list, the adaptive shortlist window, and the exact
    * q20 re-rank. */
  def ivfPqOracle(k: Int = 10,
                  nCodes: Int = Pq.CodeBook, subSpaces: Int = Pq.SubSpaces): String = {
    val subDim = Ann.IvfDims / subSpaces
    val D = Ann.IvfDims
    // coarse pre: identical to annIvfOracle's qv/f head
    val pre =
      """qv AS MATERIALIZED (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), f AS (
        |  SELECT vec_id,
        |""".stripMargin +
        (0 until D).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM qv),\n" + Ann.geoCtes(Ann.distinctFeatCountSql("f"))
    val coarse = graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = D,
      k = 0, iters = Ann.IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)")
    val fcCols = (0 until D).map(i => s"CAST(floor(g$i) AS BIGINT) AS fc$i").mkString(", ")
    val rCols = (0 until D).map(i => s"a.x$i - fc.fc$i AS r$i").mkString(", ")
    val pfCols = (0 until subDim).map { d =>
      "    CASE " + (0 until subSpaces).map(m =>
        s"WHEN m = $m THEN r${subDim * m + d}").mkString(" ") + s" END AS x$d"
    }.mkString(",\n")
    val pfPre =
      s"""pf AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM rf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub)""".stripMargin
    val pfit = graft.ml.DetKMeans.oracleCtes(pfPre, "uid", nFeats = subDim,
      k = nCodes, iters = Pq.PqIters, standardize = false, prefix = "p")
    val d2q = (0 until D).map(i => s"(q.z$i - c.g$i) * (q.z$i - c.g$i)")
      .reduce((a, x) => s"($a + $x)")
    val qrCols = (0 until D).map(i => s"q.x$i - fc.fc$i AS r$i").mkString(", ")
    val qdArms = (0 until subSpaces).map { m =>
      val d2 = (0 until subDim).map { i =>
        s"(CAST(r${subDim * m + i} AS DOUBLE) - c.g$i) * (CAST(r${subDim * m + i} AS DOUBLE) - c.g$i)"
      }.reduce((a, x) => s"($a + $x)")
      s"  SELECT query_id, list_id, $m AS m, c.cluster AS j, $d2 AS d2\n" +
        s"  FROM qr CROSS JOIN pc${Pq.PqIters} c"
    }.mkString("\n  UNION ALL\n")
    val codePivot = (0 until subSpaces).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val adcSum = (0 until subSpaces).map(m => s"q$m.d2")
      .reduce((a, x) => s"($a + $x)")
    val adcJoins = (0 until subSpaces).map { m =>
      if (m == 0) s"JOIN qd q0 ON q0.m = 0 AND q0.j = cd.c0 AND q0.list_id = cl.cluster"
      else s"JOIN qd q$m ON q$m.m = $m AND q$m.j = cd.c$m AND " +
        s"q$m.query_id = q0.query_id AND q$m.list_id = cl.cluster"
    }.mkString("\n  ")
    "WITH " + coarse + ",\n" + Ann.probeCtes() + ",\n" +
      s"""fc AS MATERIALIZED (SELECT cluster, $fcCols FROM c${Ann.IvfIters}),
         |cl AS MATERIALIZED (SELECT vec_id, cluster FROM afin),
         |rf AS MATERIALIZED (SELECT a.vec_id, $rCols FROM afin a JOIN fc ON a.cluster = fc.cluster),
         |""".stripMargin +
      pfit + ",\n" +
      s"""pcodes AS MATERIALIZED (
         |  SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, cluster AS code
         |  FROM pafin
         |), cd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM pcodes GROUP BY 1
         |), prb AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2q, c.cluster) AS rn
         |    FROM (SELECT vec_id AS query_id, * FROM afin WHERE vec_id < 10) q
         |    CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), qr AS MATERIALIZED (
         |  SELECT p.query_id, p.list_id, $qrCols
         |  FROM prb p
         |  JOIN fc ON fc.cluster = p.list_id
         |  JOIN (SELECT vec_id AS query_id, * FROM afin WHERE vec_id < 10) q
         |    ON q.query_id = p.query_id
         |), qd AS MATERIALIZED (
         |$qdArms
         |), adc AS MATERIALIZED (
         |  SELECT q0.query_id, cd.vec_id, $adcSum AS approx
         |  FROM cd
         |  JOIN cl ON cl.vec_id = cd.vec_id
         |  $adcJoins
         |  WHERE cd.vec_id <> q0.query_id
         |), sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= GREATEST(200, (SELECT COUNT(*) FROM embeddings) // 10)
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
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

  /** DuckDB oracle replaying [[annIvfPqAppend]] end-to-end: both fits
    * over the SETTLED subset only (vec_id % 5 ≠ 4), frozen-geometry
    * argmin assignment of the appended fifth to lists AND codewords
    * (row_number windows with the fit's (distance, id) tie-break), then
    * the standard ADC tail over settled ∪ appended codes. Raw-space mode
    * throughout, so z ≡ CAST(x AS DOUBLE) serves queries and appends
    * alike. Batch-independent appends ⇒ the streaming replay rides this
    * verbatim. */
  def ivfPqAppendOracle(k: Int = 10,
                        nCodes: Int = Pq.CodeBook,
                        subSpaces: Int = Pq.SubSpaces): String = {
    val subDim = Ann.IvfDims / subSpaces
    val D = Ann.IvfDims
    val pre =
      """qv AS (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), fall AS MATERIALIZED (
        |  SELECT vec_id,
        |""".stripMargin +
        (0 until D).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM qv\n), f AS (SELECT * FROM fall WHERE vec_id % 5 <> 4),\n" +
        Ann.geoCtes(Ann.distinctFeatCountSql("f"))
    val coarse = graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = D,
      k = 0, iters = Ann.IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)")
    val fcCols = (0 until D).map(i => s"CAST(floor(g$i) AS BIGINT) AS fc$i").mkString(", ")
    val rCols = (0 until D).map(i => s"a.x$i - fc.fc$i AS r$i").mkString(", ")
    val pfCols = (0 until subDim).map { d =>
      "    CASE " + (0 until subSpaces).map(m =>
        s"WHEN m = $m THEN r${subDim * m + d}").mkString(" ") + s" END AS x$d"
    }.mkString(",\n")
    val pfPre =
      s"""pf AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM rf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub)""".stripMargin
    val pfit = graft.ml.DetKMeans.oracleCtes(pfPre, "uid", nFeats = subDim,
      k = nCodes, iters = Pq.PqIters, standardize = false, prefix = "p")
    // raw-space frozen distances: z ≡ CAST(x AS DOUBLE)
    val d2x = (0 until D).map(i =>
      s"(CAST(a.x$i AS DOUBLE) - c.g$i) * (CAST(a.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val d2qx = (0 until D).map(i =>
      s"(CAST(q.x$i AS DOUBLE) - c.g$i) * (CAST(q.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val d2sub = (0 until subDim).map(i =>
      s"(CAST(s.x$i AS DOUBLE) - c.g$i) * (CAST(s.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val qrCols = (0 until D).map(i => s"q.x$i - fc.fc$i AS r$i").mkString(", ")
    val qdArms = (0 until subSpaces).map { m =>
      val d2 = (0 until subDim).map { i =>
        s"(CAST(r${subDim * m + i} AS DOUBLE) - c.g$i) * (CAST(r${subDim * m + i} AS DOUBLE) - c.g$i)"
      }.reduce((acc, x) => s"($acc + $x)")
      s"  SELECT query_id, list_id, $m AS m, c.cluster AS j, $d2 AS d2\n" +
        s"  FROM qr CROSS JOIN pc${Pq.PqIters} c"
    }.mkString("\n  UNION ALL\n")
    val codePivot = (0 until subSpaces).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val adcSum = (0 until subSpaces).map(m => s"q$m.d2")
      .reduce((acc, x) => s"($acc + $x)")
    val adcJoins = (0 until subSpaces).map { m =>
      if (m == 0) s"JOIN qd q0 ON q0.m = 0 AND q0.j = cd2.c0 AND q0.list_id = cl2.cluster"
      else s"JOIN qd q$m ON q$m.m = $m AND q$m.j = cd2.c$m AND " +
        s"q$m.query_id = q0.query_id AND q$m.list_id = cl2.cluster"
    }.mkString("\n  ")
    "WITH " + coarse + ",\n" + Ann.probeCtes() + ",\n" +
      s"""fc AS MATERIALIZED (SELECT cluster, $fcCols FROM c${Ann.IvfIters}),
         |rf AS MATERIALIZED (SELECT a.vec_id, $rCols FROM afin a JOIN fc ON a.cluster = fc.cluster),
         |""".stripMargin +
      pfit + ",\n" +
      s"""pcodes AS MATERIALIZED (
         |  SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, cluster AS code
         |  FROM pafin
         |), cd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM pcodes GROUP BY 1
         |), az AS MATERIALIZED (
         |  SELECT * FROM fall WHERE vec_id % 5 = 4
         |), al AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM (
         |    SELECT a.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $d2x, c.cluster) AS rn
         |    FROM az a CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn = 1
         |), arf AS MATERIALIZED (
         |  SELECT a.vec_id, $rCols
         |  FROM az a JOIN al ON al.vec_id = a.vec_id
         |  JOIN fc ON fc.cluster = al.cluster
         |), asub AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM arf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub
         |), ac AS MATERIALIZED (
         |  SELECT uid, code FROM (
         |    SELECT s.uid, c.cluster AS code,
         |      row_number() OVER (PARTITION BY s.uid ORDER BY $d2sub, c.cluster) AS rn
         |    FROM asub s CROSS JOIN pc${Pq.PqIters} c)
         |  WHERE rn = 1
         |), acd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM (
         |    SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, code FROM ac)
         |  GROUP BY 1
         |), cl2 AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM afin
         |  UNION ALL SELECT vec_id, cluster FROM al
         |), cd2 AS MATERIALIZED (
         |  SELECT * FROM cd UNION ALL SELECT * FROM acd
         |), prb AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2qx, c.cluster) AS rn
         |    FROM (SELECT vec_id AS query_id, * FROM fall WHERE vec_id < 10) q
         |    CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), qr AS MATERIALIZED (
         |  SELECT p.query_id, p.list_id, $qrCols
         |  FROM prb p
         |  JOIN fc ON fc.cluster = p.list_id
         |  JOIN (SELECT vec_id AS query_id, * FROM fall WHERE vec_id < 10) q
         |    ON q.query_id = p.query_id
         |), qd AS MATERIALIZED (
         |$qdArms
         |), adc AS MATERIALIZED (
         |  SELECT q0.query_id, cd2.vec_id, $adcSum AS approx
         |  FROM cd2
         |  JOIN cl2 ON cl2.vec_id = cd2.vec_id
         |  $adcJoins
         |  WHERE cd2.vec_id <> q0.query_id
         |), sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= GREATEST(200, (SELECT COUNT(*) FROM embeddings) // 10)
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
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
