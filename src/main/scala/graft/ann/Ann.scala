package graft.ann

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor over the `embeddings` table (brief
  * requirement; replaces the reference's external Typesense index at
  * src/vector_search/indexer.py:44 with Spark-native operators).
  *
  * - `bruteTopK`: broadcast the query set against a full scan — exact
  *   baseline, and the correct shape when |queries| is small: one pass over
  *   the corpus, no shuffle of the corpus itself.
  * - `lshTopK`: random-hyperplane (SRP) LSH — `tables` independent bucket
  *   tables of `bits` sign bits each; candidates are bucket collisions only.
  *   `bits` scales with log(corpus/target-bucket-size): 3 bits suits the
  *   500-row test set, ~20 suits 1e9 rows. Hyperplanes are seeded
  *   deterministically so plans replay identically.
  */
object Ann {

  /** Fused single-loop cosine — the custom codegen'd Catalyst expression
    * (graft.functions.ArrayCosine); one vector walk instead of the four the
    * aggregate/zip_with formulation needs. */
  private def cosine(spark: org.apache.spark.sql.SparkSession, a: String, b: String): Column = {
    graft.functions.VectorFunctions.register(spark)
    expr(s"array_cosine($a, $b)")
  }

  /** Exact cosine top-k of `queries` against `corpus` (both need
    * vec_id + embedding). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(corpus.sparkSession, "embedding", "q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Deterministic INTEGER hyperplanes: component (t, b, j) is the first
    * 8 md5 hex chars of "srp|seed|t|b|j" folded to a uint32, centered to
    * [−2^31, 2^31). Symmetric integer directions are the SimHash sign-
    * projection family; integer components keep every projection dot
    * product exact in a long, which is what lets the embed_neardup DuckDB
    * oracle replay the identical bucketing at any scale (the md5 digit-fold
    * is the hashBucketSql recipe — SQL-expressible, unlike a JVM-seeded
    * Gaussian stream). Driver-side cost: ≤ tables·20·64 ≈ 30k md5 calls. */
  private[graft] def planes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables * bits * dim) { i =>
      val t = i / (bits * dim); val b = (i / dim) % bits; val j = i % dim
      val hex = md.digest(s"srp|$seed|$t|$b|$j".getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) - 2147483648L
    }
  }

  /** One fused codegen'd pass (graft.functions.SrpBuckets) computes every
    * table's bucket key; posexplode turns them into (tbl, bucket) rows. */
  private[graft] def withBuckets(df: DataFrame, vecCol: String, pl: Array[Long],
                          tables: Int, bits: Int, dim: Int, seed: Long): DataFrame = {
    val fn = graft.functions.SrpBuckets.register(
      df.sparkSession, s"${tables}_${bits}_${dim}_$seed", pl, tables, bits, dim)
    df.withColumn("__buckets", expr(s"$fn($vecCol)"))
      .select(col("*"), posexplode(col("__buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
      .drop("__buckets")
  }

  /** Bucket bits sized so buckets average ~64 vectors: enough selectivity
    * that candidate volume stays ~n·tables·64 instead of n². Pure integer
    * rule — min b in [3,20] with 2^b·64 ≥ n ( ⇔ ceil(log2(n/64)) clamped) —
    * so the DuckDB oracle derives the identical geometry from COUNT(*)
    * without a float log2 that could flip at exact powers of two. */
  private[graft] def adaptiveBits(n: Long): Int =
    (3 to 20).find(b => (1L << b) * 64 >= n).getOrElse(20)

  /** Row count for adaptive-bits sizing, memoized per plan digest
    * ([[graft.PlanKey]]) — without it every auto-sized ANN/decontamination
    * call pays one extra full count job over the corpus. Safe because the
    * count only sizes bucket GEOMETRY (same count → same bits → same
    * buckets). */
  private[graft] def cachedCount(df: DataFrame): Long =
    graft.Memo.get("ann.count", graft.PlanKey.digest(df))(df.count())

  /** Shipped LSH table count, scaled with the bucket bits: 6·bits − 6.
    *
    * Adaptive bits grow log2(n/64) with the corpus, and each extra bit
    * multiplies a near pair's per-table collision odds by p < 1 — at a
    * FIXED table count recall decays as n grows (measured: 0.95 at
    * sf0.01/bits=3/12 tables but 0.69 at sf0.1/bits=5/12 tables, the same
    * dilution embed_neardup documents). Scaling tables with bits buys it
    * back: the r14 ladder at sf0.1/bits=5 measures 0.77 @ 16, 0.86 @ 20,
    * 0.91 @ 24, 0.95 @ 30 — 6·bits−6 lands 24 there and leaves the
    * sf0.001/sf0.01 geometry (bits=3 → 12 tables) bit-identical to every
    * prior round. Candidate volume stays ~n·tables·64 (linear in n, log-ish
    * in tables); the knob stays exposed for corpora with real structure. */
  def lshDefaultTables(bits: Int): Int = math.max(12, 6 * bits - 6)

  /** SRP-LSH cosine top-k: bucket-collision candidates (ids only through the
    * join — embeddings re-attached once for the exact re-score). `bits <= 0`
    * auto-sizes from the corpus row count (a metadata-only parquet count);
    * `tables <= 0` scales with the chosen bits ([[lshDefaultTables]]). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 0, bits: Int = 0, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val b = if (bits > 0) bits else adaptiveBits(cachedCount(corpus))
    val t = if (tables > 0) tables else lshDefaultTables(b)
    val pl = planes(t, b, dim, seed)
    val c = withBuckets(corpus.select("vec_id", "embedding"), "embedding", pl, t, b, dim, seed)
      .select("tbl", "bucket", "vec_id")
    val qIn = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val q = withBuckets(qIn, "q_emb", pl, t, b, dim, seed).select("tbl", "bucket", "query_id")
    val cand = c.join(q, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    val cEmb = corpus.select("vec_id", "embedding")
    val qEmb = broadcast(qIn)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    // re-score with the oracle-parity q20 fixed-point cosine (the
    // bruteTopKExact recipe): the bucketing was already engine-replayable,
    // so exact-integer scoring is what flips the whole query from
    // rows-only to hash-exact checking (round 10)
    cand.join(cEmb, "vec_id").join(qEmb, "query_id")
      .withColumn("cos_sim", fixedPointCosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** DuckDB oracle replaying annLshTopK end-to-end: the md5-integer SRP
    * hyperplanes, adaptive bits, bits-scaled table count (6·bits − 6, min
    * 12 — [[lshDefaultTables]]), exact-long bucket projections (the
    * embedNearDupsOracle machinery), bucket-collision candidates against
    * the `vec_id < 10` query set, q20 exact re-score, and the
    * (cos DESC, vec_id) top-k window. */
  def annLshOracle: String =
    """WITH nb AS (
      |  SELECT bits, GREATEST(12, 6 * bits - 6) AS tables FROM (
      |    SELECT COALESCE((SELECT MIN(b) FROM range(3, 21) t(b)
      |                     WHERE (1 << b) * 64 >= (SELECT COUNT(*) FROM embeddings)), 20) AS bits)
      |), pl AS (
      |  SELECT t.range AS t, b.range AS b,
      |    list_transform(range(0, 64), j ->
      |      CAST(list_sum(list_transform(range(1, 9), i ->
      |        (strpos('0123456789abcdef',
      |           substring(md5('srp|42|' || t.range || '|' || b.range || '|' || j), i, 1)) - 1)
      |        * (16.0 ** (8 - i)))) AS BIGINT) - 2147483648) AS hv
      |  FROM range(0, 114) t, range(0, 20) b, nb
      |  WHERE b.range < nb.bits AND t.range < nb.tables
      |), qv AS (
      |  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
      |  FROM embeddings
      |), bs AS (
      |  SELECT v.vec_id, p.t, p.b,
      |    list_sum(list_transform(range(1, LEAST(len(v.qe), 64) + 1),
      |      j -> CAST(v.qe[j] AS BIGINT) * p.hv[j])) AS s
      |  FROM qv v CROSS JOIN pl p
      |), bk AS (
      |  SELECT vec_id, t, SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS bucket
      |  FROM bs GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      |  FROM bk c JOIN bk q ON c.t = q.t AND c.bucket = q.bucket
      |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
      |), n AS (
      |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
      |), p2 AS (
      |  SELECT cand.query_id, cand.vec_id,
      |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
      |      i -> a.qe[i] * b.qe[i])) AS dot,
      |    a.nrm AS nrm, b.nrm AS q_nrm
      |  FROM cand
      |  JOIN n a ON a.vec_id = cand.vec_id
      |  JOIN n b ON b.vec_id = cand.query_id
      |), s2 AS (
      |  SELECT query_id, vec_id,
      |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
      |  FROM p2
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
      |  FROM s2
      |)
      |SELECT query_id, vec_id, cos_sim, "rank" FROM r WHERE "rank" <= 10""".stripMargin

  /** Fixed-point quantized embedding: floats scaled by 2^20 (a power of two —
    * the float→double widening and the multiply are both exact) and rounded
    * to integers. Every product (< 2^46) and partial sum (< 2^53) of the
    * resulting doubles is an exact integer, so cosine built from them is
    * bit-identical regardless of accumulation order or engine — the recipe
    * that lets brute-force top-k carry a DuckDB oracle with exact float
    * compare (SURVEY §3; quantization error ~1e-6 is part of the operator's
    * defined scoring, not a tolerance). */
  private[graft] def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1048576.0), 0))

  private def sqSum(c: Column): Column =
    aggregate(transform(c, v => v * v), lit(0.0), (acc, v) => acc + v)

  /** Oracle-parity cosine between two float-array columns: both sides
    * quantized to q20 integers, so every product and partial sum is an exact
    * integer and the score is bit-identical in any engine (the
    * bruteTopKExact recipe as a reusable scalar) — fused into one codegen'd
    * loop (graft.functions.ArrayCosineQ20; the declarative
    * quantize/zip_with/aggregate chain walked each array four times and
    * measured 23× slower on the near-dup candidate path). NULL when either
    * norm is zero. */
  private[graft] def fixedPointCosine(a: Column, b: Column): Column =
    graft.functions.ArrayCosineQ20.of(a, b)

  /** Exact cosine top-k with oracle-parity fixed-point scoring; same plan
    * shape as bruteTopK (broadcast queries × one corpus pass, no corpus
    * shuffle). */
  def bruteTopKExact(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .withColumn("nrm", sqSum(col("qe")))
    val q = queries
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .withColumn("nrm", sqSum(col("qe")))
    bruteTopKPreQuantized(c, q, k)
  }

  /** The brute-force tail over ALREADY-quantized vectors (vec_id, qe, nrm)
    * on both sides — shared by the inline path ([[bruteTopKExact]]) and the
    * persisted-index path ([[annRecall]], which reads the q20 vectors the
    * IVF index build materialized instead of re-quantizing the float corpus
    * per audit run). Quantization is deterministic and doubles round-trip
    * parquet bit-exactly, so the two entry points are bit-identical. */
  private[graft] def bruteTopKPreQuantized(corpus: DataFrame, queries: DataFrame,
                                           k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("qe").as("q_qe"), col("nrm").as("q_nrm")))
    val dot = aggregate(zip_with(col("qe"), col("q_qe"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val scored = corpus.select(col("vec_id"), col("qe"), col("nrm")).crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim",
        when(col("nrm") * col("q_nrm") === 0.0, lit(null).cast("double"))
          .otherwise(dot / sqrt(col("nrm") * col("q_nrm"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Query-table entries over the driver testdata. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    bruteTopKExact(emb, emb.filter(col("vec_id") < 10), k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Metadata-filtered ANN (reference: src/vector_search/typesense_client.py:120
    * `search_with_filters` — vector search constrained by attribute
    * predicates). Spark-first: the predicate is an ordinary Column pushed
    * into the corpus scan BEFORE scoring — the engine never scores vectors
    * the filter excludes, and at 100 TB the parquet reader skips row groups
    * via the pushed filter. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, pred: Column, k: Int): DataFrame =
    bruteTopKExact(corpus.filter(pred), queries, k)

  /** Driver query: top-k restricted to even-labelled corpus vectors. */
  def annFiltered(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    filteredTopK(emb, emb.filter(col("vec_id") < 10), col("label") % 2 === 0, k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB oracle for annFiltered — annTopKOracle with the label predicate
    * applied to the corpus side only. */
  def annFilteredOracle: String =
    annTopKOracle.replace(
      "), p AS (",
      """), cf AS (
        |  SELECT n.* FROM n JOIN embeddings e USING (vec_id) WHERE e.label % 2 = 0
        |), p AS (""".stripMargin)
      .replace("FROM n CROSS JOIN q", "FROM cf CROSS JOIN q")

  /** DuckDB oracle mirroring annTopK's fixed-point scoring. */
  def annTopKOracle: String =
    """WITH c AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM c
      |), q AS (
      |  SELECT vec_id AS query_id, qe AS q_qe, nrm AS q_nrm FROM n WHERE vec_id < 10
      |), p AS (
      |  SELECT query_id, vec_id,
      |    list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * q_qe[i])) AS dot,
      |    nrm, q_nrm
      |  FROM n CROSS JOIN q WHERE vec_id <> query_id
      |), s AS (
      |  SELECT query_id, vec_id,
      |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
      |  FROM p
      |), r AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
      |  FROM s
      |)
      |SELECT query_id, vec_id, cos_sim, "rank" FROM r WHERE "rank" <= 10""".stripMargin

  def annLshTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    lshTopK(emb, emb.filter(col("vec_id") < 10), k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Recall@k of the approximate ANN paths against the exact brute-force
    * top-k — measurement as a driver-gated query: the standard ANN quality
    * metric (|approx ∩ exact| / k per query) computed distributed, so an
    * index-quality dashboard at 100 TB is this one query, not a collect.
    * Both inputs are deterministic (fixed tie-breaks), so recall itself is
    * deterministic and hash-gateable — the oracle replays brute, LSH and
    * IVF end-to-end and intersects the same sets.
    *
    * Scale shape: two left-semi joins keyed (query_id, vec_id) over
    * ≤ |queries|·k rows each — bounded by the knob, not the corpus. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // brute force is the expensive exact scan and it feeds FOUR plan arms
    // (semi-join right + query list, × two methods) — materialize its
    // ≤ queries·k rows once instead of recomputing the corpus scan 4×.
    // The exact leg reads the q20 vectors the persisted IVF index already
    // materialized (fingerprint-validated via ensureIvfIndex) instead of
    // re-quantizing the float corpus per run — at 100× the audit leg was
    // 49.8 s of repeated quantization; the IVF leg rides the same index
    // (annIvfIndexed ≡ annIvfTopK bit-for-bit, same oracle).
    val idx = ensureIvfIndex(spark, dir)
    val vecs = spark.read.parquet(s"$idx/vectors")
    val brute = bruteTopKPreQuantized(vecs, vecs.filter(col("vec_id") < 10), k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(false)
    def per(method: String, approx: DataFrame): DataFrame = {
      val m = approx.select(col("query_id"), col("vec_id"))
        .join(brute, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_matched"))
      brute.select("query_id").distinct()
        .join(m, Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          (coalesce(col("n_matched"), lit(0L)).cast("double") / lit(k.toDouble))
            .as("recall_at_k"))
    }
    per("lsh", annLshTopK(spark, dir, k))
      .unionByName(per("ivf", annIvfIndexed(spark, dir, k)))
      .orderBy(col("method"), col("query_id"))
  }

  /** Oracle for [[annRecall]]: the three full replays (brute / LSH / IVF)
    * as parenthesized sub-WITH blocks — each oracle's CTE names stay
    * scoped to its own subquery — intersected per query. */
  def annRecallOracle(k: Int = 10): String = {
    // annTopKOracle/annLshOracle pin k=10 in their SQL; a non-default k
    // here would silently grade against a mismatched brute/LSH set — fail
    // loudly instead (the driver query only ever uses the default).
    require(k == 10, s"annRecallOracle replays the k=10 brute/LSH oracles; got k=$k")
    def setOf(inner: String) =
      s"(SELECT query_id, vec_id FROM ($inner))"
    s"""WITH brute AS ${setOf(annTopKOracle)},
       |lsh AS ${setOf(annLshOracle)},
       |ivf AS ${setOf(annIvfOracle(k))},
       |q AS (SELECT DISTINCT query_id FROM brute),
       |m_lsh AS (
       |  SELECT l.query_id, COUNT(*) AS n
       |  FROM lsh l JOIN brute b USING (query_id, vec_id) GROUP BY 1
       |),
       |m_ivf AS (
       |  SELECT i.query_id, COUNT(*) AS n
       |  FROM ivf i JOIN brute b USING (query_id, vec_id) GROUP BY 1
       |)
       |SELECT 'lsh' AS method, q.query_id,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_matched,
       |  CAST(coalesce(n, 0) AS DOUBLE) / $k.0 AS recall_at_k
       |FROM q LEFT JOIN m_lsh ON q.query_id = m_lsh.query_id
       |UNION ALL
       |SELECT 'ivf' AS method, q.query_id,
       |  CAST(coalesce(n, 0) AS BIGINT) AS n_matched,
       |  CAST(coalesce(n, 0) AS DOUBLE) / $k.0 AS recall_at_k
       |FROM q LEFT JOIN m_ivf ON q.query_id = m_ivf.query_id""".stripMargin
  }

  /** IVF (inverted-file) ANN — the other canonical scale path besides LSH:
    * a coarse quantizer partitions the corpus into `nLists` inverted lists;
    * each query probes only its `nProbe` nearest centroids and
    * exact-rescored candidates come from those lists alone, so a query
    * scores ~nProbe/nLists of the corpus.
    *
    * Round 10 replaced the MLlib KMeans quantizer with
    * [[graft.ml.DetKMeans]] over the q20-quantized embedding components
    * themselves: each component is already an exact long (round(x·2²⁰)),
    * so the deterministic Lloyd's clusters the FULL vector space (on the
    * 2^20 sphere — see withProj) while standardization, init, iterations,
    * probe ranking, and re-score are all engine-replayable, which flips
    * ann_ivf from rows-only to hash-exact; recall vs brute force is
    * AnnSpec's measured recall/coverage curve (0.63 @ nProbe 3, 0.83 @ 5 —
    * and the honest finding that the MLlib fit this replaced reached
    * "0.8 @ 3" only through degenerate singleton+giant lists covering 67%
    * of the corpus). A first cut clustered an 8-d random-projection sketch
    * instead — recall collapsed to 0.55 on the isotropic test embeddings,
    * the classic projection-loses-high-intrinsic-dimension failure.
    *
    * Spark shape: centroids are a k×IvfDims literal (constant-size at any
    * corpus scale); list assignment is one projection pass; the probe join
    * shuffles on the list id — the inverted lists ARE the partitioning at
    * 100 TB. */
  val IvfDims = 64
  val IvfIters = 10

  /** Shipped probe default, scaled with the list count — piecewise on the
    * two MEASURED regimes (tools/RecallProbe, isotropic worst case):
    *
    *  - nLists ≤ 8 (the min-clamp regime, n ≤ 64): 7/8 coverage
    *    (nLists − max(1, nLists/8)), the r14 rule — at 8 coarse lists
    *    recall ≈ coverage (0.96/0.98 measured at 7/8), so nothing
    *    cheaper clears 0.9;
    *  - nLists > 8 (size-derived ⌈√n⌉ geometry): 3/4 coverage. The r16
    *    ladder at the derived geometry measures recall ABOVE coverage —
    *    with more, smaller lists the query's probe RANKING concentrates
    *    the true neighbors into the nearest lists even on isotropic
    *    data. Measured @ 3/4: 0.96 (sf0.001, 23 lists), 0.98 (sf0.01,
    *    23), 0.97 (sf0.1, 45); 5/8 measured 0.87 at sf0.001 — below the
    *    floor, which is why the default is 3/4 and not cheaper. Still a
    *    14% probe-cost cut vs the old 7/8 rule, with ≥ 0.96 margin.
    *
    * On real clustered corpora recall concentrates further and nProbe can
    * drop along the measured curve. r17: that drop is now AUTOMATIC —
    * [[adaptiveProbe]] layers an exact-integer clusteredness decision on
    * top of this rule and probes nLists/8 when the corpus is a real
    * mixture (measured 1.00 recall@10 at 1/8 coverage on the --cluster
    * corpora); THIS function remains the honest isotropic floor the
    * adaptive rule falls back to. */
  def ivfDefaultProbe(nLists: Int): Int =
    if (nLists <= 8) math.max(1, nLists - math.max(1, nLists / 8))
    else math.max(1, (3 * nLists) / 4)

  /** Data-adaptive probe default (r17, closing the r16 watch item): the
    * isotropic 3/4-coverage floor is the honest WORST case, but on
    * clustered corpora — the shape real embedding spaces actually have —
    * IVF's whole point is nProbe ≪ nLists. Measured on the
    * mixture-of-Gaussians corpora (`replicate.py --cluster`, BASELINE
    * r17): recall@10 = 1.00 at 1/8 coverage on both K=16 and K=64
    * mixtures (vs 0.13 at 1/32-coverage isotropic), so the clustered
    * branch probes nLists/8 — a 6x probe-cost cut exactly where the index
    * is supposed to pay. The decision bit comes from [[isClustered]],
    * exact integer arithmetic on both engines. */
  def adaptiveProbe(nLists: Int, clustered: Boolean): Int =
    if (clustered && nLists > 8) math.max(1, nLists / 8)
    else ivfDefaultProbe(nLists)

  /** floor(center) as exact longs — the IvfPq residual-floor recipe,
    * reused for the clusteredness statistic. */
  private[graft] def floorCenters(centers: Array[Array[Double]]): Array[Array[Long]] =
    centers.map(_.map(g => math.floor(g).toLong))

  /** Exact clusteredness decision over the FINAL fit assignment:
    * `4*withinSS < totalSS`, where withinSS uses FLOORED centers and
    * totalSS a TRUNCATED global mean — so both sides of the comparison
    * are exact integers (long sums with a BigInteger carry + BigInteger
    * compare here, HUGEINT there, [[probeCtes]]) and the threshold can
    * never drift between engines, even for a corpus sitting exactly on
    * it. Flooring perturbs the ratio by ~1e-6 relative on q20-scale
    * features — irrelevant three orders of magnitude from the 1/4
    * threshold on either side (isotropic KMeans at k << n leaves
    * wss/tss ~ 0.9; a real cluster mixture leaves ~1e-6).
    *
    * Cost: ONE typed treeAggregate over the assigned rows (one Spark job)
    * accumulates per-cluster exact moments (m_c, Σx_d, Σx_d²) in an
    * [[graft.Exact.LongSums]] buffer — per-row long adds, the x·x term a
    * `Math.multiplyExact`, a BigInteger only when a long partial would
    * overflow — the cost shape of the [[DetKMeans]] Lloyd's loop that
    * precedes it. The driver then reconstructs both sums from the k×d
    * moments by the integer identity Σ(x−c)² = Σx² − 2cΣx + n·c². The
    * DataFrame form this replaces (a groupBy with 129 decimal(38,0) sum
    * buffers, then a 130-expression aggregate of 64-way element_at sums)
    * cost ~10 s and 3 jobs of every cold ann_ivf at 2,000 rows, nearly
    * all of it planning and code generation before the first row. Same
    * integers, same truncated mean, same compare, so the bit — and every
    * oracle gate — is unchanged. Memoized per assignment plan (the plan
    * digest embeds the centers literal): a fit is deterministic, so its
    * statistic is fit-once data, exactly like the [[DetKMeans]] model
    * cache and [[cachedCount]] this mirrors. */
  private[graft] def isClustered(assigned: DataFrame,
                                 centers: Array[Array[Double]]): Boolean =
    graft.Memo.get("ann.clustered", graft.PlanKey.digest(assigned))(
      computeClustered(assigned, centers))

  /** The un-memoized decision behind [[isClustered]]. */
  private[graft] def computeClustered(assigned: DataFrame,
                                      centers: Array[Array[Double]]): Boolean = {
    val (wss, tss) = clusteredSums(assigned, centers)
    wss.shiftLeft(2).compareTo(tss) < 0
  }

  /** (withinSS, totalSS) of [[computeClustered]] as exact integers (both 0
    * for an empty frame). `assigned` carries `cluster` in
    * [0, centers.length) and integral `x0..x{IvfDims-1}`. */
  private[graft] def clusteredSums(assigned: DataFrame, centers: Array[Array[Double]])
      : (java.math.BigInteger, java.math.BigInteger) = {
    def big(v: Long) = java.math.BigInteger.valueOf(v)
    val k = centers.length
    val dims = IvfDims
    // per-cluster buffer slots: Σx_d at (c·dims + d)·2, Σx_d² right after
    def zero = (new Array[Long](k), new graft.Exact.LongSums(2 * k * dims))
    val (ms, sums) = assigned
      .select(col("cluster").cast("int") +:
        (0 until dims).map(d => col(s"x$d").cast("long")): _*)
      .rdd.treeAggregate(zero)(
        seqOp = { (acc, r) =>
          val c = r.getInt(0)
          acc._1(c) += 1
          val base = 2 * c * dims
          var d = 0
          while (d < dims) {
            val x = r.getLong(d + 1)
            acc._2.add(base + 2 * d, x)
            acc._2.add(base + 2 * d + 1, Math.multiplyExact(x, x))
            d += 1
          }
          acc
        },
        combOp = { (a, b) =>
          var c = 0
          while (c < k) { a._1(c) += b._1(c); c += 1 }
          a._2.merge(b._2)
          a
        })
    val n = big(ms.sum)
    val fc = floorCenters(centers)
    // wss = Σ_c Σ_d (q − 2·fc·s + m·fc²); tss = Σ_d (Q − 2·gm·S + n·gm²)
    // with gm_d = trunc(S_d / n) — BigInteger.divide truncates toward zero,
    // like the oracle's //
    var wss = java.math.BigInteger.ZERO
    var tss = java.math.BigInteger.ZERO
    var d = 0
    while (d < dims) {
      var sD = java.math.BigInteger.ZERO
      var qD = java.math.BigInteger.ZERO
      var c = 0
      while (c < k) {
        val s = sums.total(2 * (c * dims + d))
        val q = sums.total(2 * (c * dims + d) + 1)
        val g = big(fc(c)(d))
        wss = wss.add(q.subtract(big(2L).multiply(g).multiply(s))
          .add(big(ms(c)).multiply(g).multiply(g)))
        sD = sD.add(s)
        qD = qD.add(q)
        c += 1
      }
      val gm = if (n.signum() == 0) n else sD.divide(n)
      tss = tss.add(qD.subtract(big(2L).multiply(gm).multiply(sD))
        .add(n.multiply(gm).multiply(gm)))
      d += 1
    }
    (wss, tss)
  }

  /** SQL twin of [[isClustered]] + [[adaptiveProbe]] over a completed
    * DetKMeans replay: reads `${F}afin` (exact-integer x cols + cluster)
    * and `${F}c$iters` (final centers g), plus `${G}geo`; emits
    * `${P}gm`/`${P}wt`/`${P}probe`. Consumers read
    * `(SELECT p FROM ${P}probe)` instead of `(SELECT p FROM geo)`. All
    * HUGEINT — the decision is an exact integer comparison. */
  private[graft] def probeCtes(geoPrefix: String = "", fitPrefix: String = "",
                               prefix: String = "",
                               iters: Int = IvfIters): String = {
    val G = geoPrefix; val F = fitPrefix; val P = prefix
    val gmCols = (0 until IvfDims).map(i =>
      s"SUM(CAST(x$i AS HUGEINT)) // COUNT(*) AS m$i").mkString(",\n    ")
    val wd = (0 until IvfDims).map(i =>
      s"(CAST(a.x$i AS HUGEINT) - CAST(floor(c.g$i) AS HUGEINT)) * " +
        s"(CAST(a.x$i AS HUGEINT) - CAST(floor(c.g$i) AS HUGEINT))")
      .mkString("\n      + ")
    val td = (0 until IvfDims).map(i =>
      s"(CAST(a.x$i AS HUGEINT) - g.m$i) * (CAST(a.x$i AS HUGEINT) - g.m$i)")
      .mkString("\n      + ")
    s"${P}gm AS MATERIALIZED (\n" +
      s"  SELECT\n    $gmCols\n  FROM ${F}afin),\n" +
      s"${P}wt AS MATERIALIZED (\n" +
      s"  SELECT\n    SUM($wd) AS wss,\n    SUM($td) AS tss\n" +
      s"  FROM ${F}afin a\n" +
      s"  JOIN ${F}c$iters c ON a.cluster = c.cluster\n" +
      s"  CROSS JOIN ${P}gm g),\n" +
      s"${P}probe AS MATERIALIZED (\n" +
      s"  SELECT CASE WHEN geo.k <= 8 THEN geo.p\n" +
      s"              WHEN 4 * wt.wss < wt.tss THEN GREATEST(1, geo.k // 8)\n" +
      s"              ELSE geo.p END AS p\n" +
      s"  FROM ${G}geo geo, ${P}wt wt)"
  }

  /** Size-derived list count (advice r14/r15, closed r16): the smallest
    * p with p·p ≥ n — an exact-integer ⌈√n⌉ (float sqrt + ±1 correction,
    * so an exact power flips on neither engine) — clamped to [8, 65536].
    * √n is the FAISS nlist sizing: fit cost n·√n, probe candidates
    * n/√n·probes; both stay subquadratic at any corpus. `n` is the
    * DISTINCT projected-vector count: replicated rows add no geometry, so
    * a 100×-replicated corpus keeps its 1× list count (and its 1× oracle
    * replay cost) while a genuinely larger corpus gets more lists. */
  def nListsFor(n: Long): Int = {
    val p0 = math.sqrt(math.max(0L, n).toDouble).toLong
    val p =
      if ((p0 - 1) * (p0 - 1) >= n) p0 - 1
      else if (p0 * p0 >= n) p0
      else p0 + 1
    math.min(65536L, math.max(8L, p)).toInt
  }

  /** Distinct projected-vector count of an [[ivfProj]] frame — the `n`
    * that [[nListsFor]] sizes from, memoized via [[cachedCount]]. */
  private[graft] def distinctFeatCount(feats: DataFrame): Long =
    cachedCount(feats
      .select((0 until IvfDims).map(i => col(s"x$i")): _*).distinct())

  /** Size-derived list count for a testdata dir's embeddings corpus —
    * the one derivation the builders, ensure-keys and specs all share. */
  private[graft] def derivedLists(spark: SparkSession, dir: String): Int =
    nListsFor(distinctFeatCount(ivfProj(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "embedding")))

  /** The [[nListsFor]]+[[ivfDefaultProbe]] rules as DuckDB CTEs over an
    * `n`-producing scalar subquery (usually a COUNT DISTINCT over the fit
    * frame). Emits `${P}geo0/${P}geo1/${P}geo`; consumers read
    * `(SELECT k FROM ${P}geo)` (list count) and `(SELECT p FROM ${P}geo)`
    * (probe count). Same float-sqrt-plus-correction integer rule as the
    * Scala side, so the geometry can never drift between engines. */
  private[graft] def geoCtes(nSql: String, prefix: String = ""): String = {
    val P = prefix
    s"""${P}geo0 AS MATERIALIZED (SELECT CAST(($nSql) AS BIGINT) AS n),
       |${P}geo1 AS (SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS p0 FROM ${P}geo0),
       |${P}geo AS MATERIALIZED (
       |  SELECT k, GREATEST(1, CASE WHEN k <= 8 THEN k - GREATEST(1, k // 8)
       |                             ELSE (3 * k) // 4 END) AS p FROM (
       |    SELECT LEAST(65536, GREATEST(8,
       |      CASE WHEN (p0 - 1) * (p0 - 1) >= n THEN p0 - 1
       |           WHEN p0 * p0 >= n THEN p0 ELSE p0 + 1 END)) AS k
       |    FROM ${P}geo1))""".stripMargin
  }

  /** `SELECT COUNT(*) FROM (SELECT DISTINCT x0..x63 FROM <f>)` — the SQL
    * twin of [[distinctFeatCount]]. */
  private[graft] def distinctFeatCountSql(fCte: String): String =
    s"SELECT COUNT(*) FROM (SELECT DISTINCT " +
      (0 until IvfDims).map(i => s"x$i").mkString(", ") + s" FROM $fCte)"

  /** q20-quantized embedding as exact longs. */
  private def qeLong(c: Column): Column = transform(quantize(c), x => x.cast("long"))

  /** Spherical features: each q20 component re-projected onto the 2^20
    * sphere (round(qe·2^20/||qe||) — exact-integer in, one portable
    * division + round out), so Euclidean Lloyd's clusters ANGULAR
    * neighborhoods — the metric cosine top-k actually probes; magnitude
    * differences stop pulling list boundaries (on the near-unit test
    * embeddings the raw and spherical fits measure alike; on real
    * mixed-norm corpora only the sphere is correct). Vectors shorter than
    * IvfDims zero-pad; the zero vector maps to the origin (both engines). */
  private[graft] def ivfProj(df: DataFrame, emb: String): DataFrame = {
    val qe = qeLong(col(emb)).as("__qe")
    val base = df.select(col("*"), qe)
    val nrm = aggregate(transform(col("__qe"), v => v * v), lit(0L), (a, v) => a + v)
    val withN = base.withColumn("__nrm", nrm)
    withN.select(col("*") +:
      (0 until IvfDims).map { d =>
        val q = coalesce(try_element_at(col("__qe"), lit(d + 1)), lit(0L))
        when(col("__nrm") === 0L, lit(0L))
          .otherwise(round(q.cast("double") * lit(1048576.0) /
            sqrt(col("__nrm").cast("double")), 0).cast("long")).as(s"x$d")
      }: _*)
      .drop("__qe", "__nrm")
  }

  /** The probe + exact-re-score tail shared by the fit-per-session and
    * persisted-index IVF paths: rank every query's z-vector against the
    * (broadcast, constant-size) centroid table, keep `nProbe` lists, score
    * only corpus vectors in the probed lists. Bit-identical for the same
    * (lists, centroids, mu, sigma) however those were obtained. */
  private def ivfProbeScore(corpus: DataFrame, queries: DataFrame,
                            lists: DataFrame, centroids: DataFrame,
                            mu: Array[Double], sigma: Array[Double],
                            k: Int, nProbe: Int): DataFrame = {
    val q = ivfProj(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), "q_emb")
    // one select, not a 64-step withColumn foldLeft: each withColumn
    // re-analyzes the whole (already 64-column) plan, and this runs on
    // every probe-scoring call — measured as driver-side gap time between
    // jobs in the r17 phase profile (guide §7.3: planning, not execution)
    val qz = q.select(col("*") +: (0 until IvfDims).map(i =>
      ((col(s"x$i").cast("double") - lit(mu(i))) / lit(sigma(i))).as(s"qz$i")): _*)
    val d2 = (0 until IvfDims).map { i =>
      (col(s"qz$i") - element_at(col("g"), i + 1)) *
        (col(s"qz$i") - element_at(col("g"), i + 1))
    }.reduce(_ + _)
    val wq = Window.partitionBy(col("query_id")).orderBy(col("__d2"), col("c_id"))
    val probes = qz.crossJoin(broadcast(centroids))
      .withColumn("__d2", d2)
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("c_id").as("list_id"), col("q_emb"))
    // candidates = corpus vectors in the probed lists; exact q20 re-score
    val cand = lists.join(probes, "list_id")
      .filter(col("vec_id") =!= col("query_id"))
    val cEmb = corpus.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    cand.join(cEmb, "vec_id")
      .withColumn("cos_sim", fixedPointCosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 0, nProbe: Int = 0): DataFrame = {
    // no seed parameter since r10: the deterministic fit consumes no
    // randomness (md5-rank init + fixed iterations)
    val spark = corpus.sparkSession
    val xs = (0 until IvfDims).map(i => s"x$i")
    val feats = ivfProj(corpus.select(col("vec_id"), col("embedding")), "embedding")
      .persist()
    // nLists = 0 (the default) sizes the geometry from the corpus
    val nl = if (nLists > 0) nLists else nListsFor(distinctFeatCount(feats))
    val (assigned, model) = graft.ml.DetKMeans.fitCached(
      feats, "vec_id", xs, nl, IvfIters, standardize = false,
      rankInit = true)
    // adaptive probe default reads the FIT, so it must follow it (r17)
    val probes = if (nProbe > 0) nProbe
      else adaptiveProbe(nl, isClustered(assigned, model.centers))
    val lists = assigned.select(col("vec_id"), col("cluster").as("list_id"))
    // the persist exists for the iterative fit; releasing here means the
    // one downstream list-assignment pass recomputes the cheap projection
    // instead of pinning corpus-sized blocks for the lazy frame's lifetime
    feats.unpersist()
    // centroid table: constant-size (nLists × IvfDims) in z-space
    val centroids = spark.createDataFrame(
      model.centers.toIndexedSeq.zipWithIndex
        .map { case (g, i) => (i.toLong, g.toSeq) })
      .toDF("c_id", "g")
    ivfProbeScore(corpus, queries, lists, centroids, model.mu, model.sigma, k, probes)
  }

  def annIvfTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfTopK(emb, emb.filter(col("vec_id") < 10), k)
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------- persisted IVF index

  /** One-time IVF index build under `indexDir`: `lists` (vec_id, list_id,
    * sorted within partitions for rowgroup pruning on the probe join),
    * `centroids` (c_id, z-space center), `model` (mu/sigma arrays) and
    * `meta` (geometry + corpus fingerprint, written LAST as the commit
    * marker — a half-built index from a killed run rebuilds). The
    * 3+iters-scan Lloyd's fit happens ONCE here: warm sessions and
    * restarted executors read constant-size centroids/model plus the
    * (vec_id, list_id) table instead of refitting — the in-memory
    * DetKMeans model memo only helps within one JVM. Doubles round-trip parquet
    * bit-exactly, so the indexed probe is bit-identical to the fit path. */
  /** Cheap corpus content digest for index-staleness fingerprints: XOR of
    * per-row xxhash64(vec_id, embedding). Order-independent, overflow-free,
    * and sensitive to in-place content rewrites that preserve (count,
    * max vec_id) — the aliasing hole advice-r15 flagged in the ensure*
    * recipes. One columnar pass, runs once per JVM per index dir. */
  private[graft] def corpusDigest(emb: DataFrame): Long = {
    val r = emb.agg(expr("bit_xor(xxhash64(vec_id, embedding))")).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def buildIvfIndex(spark: SparkSession, dir: String, indexDir: String,
                    nLists: Int = 0): Unit =
    buildIvfIndexFrom(spark, Tables.embeddings(spark, dir), indexDir, nLists)

  /** [[buildIvfIndex]] over an explicit corpus frame — the settled-subset
    * entry the append arc ([[annIvfAppend]]) and its spec build from. */
  /** `withVectors = false` skips the q20 `vectors` artifact: it exists
    * solely for [[annRecall]]'s brute-force audit leg (read through the
    * fingerprint-validated persisted index), and the append-arc SCRATCH
    * builds ([[annIvfAppend]], the streaming replay) never serve that leg —
    * writing it there was a full corpus quantize+write per call for an
    * artifact nothing read (optimization r18, guide §1.2: don't compute
    * things you throw away). Persisted-index builds keep the default. */
  private[graft] def buildIvfIndexFrom(spark: SparkSession, emb: DataFrame,
                                       indexDir: String, nLists: Int = 0,
                                       withVectors: Boolean = true): Unit = {
    graft.Memo.invalidate("ivf.model", indexDir) // a rebuild replaces mu/sigma in place
    val xs = (0 until IvfDims).map(i => s"x$i")
    val feats = ivfProj(emb.select(col("vec_id"), col("embedding")), "embedding")
      .persist()
    val lists = if (nLists > 0) nLists else nListsFor(distinctFeatCount(feats))
    val (assigned, model) = graft.ml.DetKMeans.fitCached(
      feats, "vec_id", xs, lists, IvfIters, standardize = false,
      rankInit = true)
    // clusteredness decided at BUILD time and persisted: indexed reads
    // must probe exactly what the fresh-fit path (and the oracle's
    // replayed decision) would — see adaptiveProbe
    val clustered = isClustered(assigned, model.centers)
    assigned.select(col("vec_id"), col("cluster").as("list_id"))
      .sortWithinPartitions("list_id")
      .write.mode("overwrite").parquet(s"$indexDir/lists")
    feats.unpersist()
    // q20-quantized vectors + norms, persisted once: the exact audit legs
    // (annRecall's brute force) read these instead of re-quantizing the
    // float corpus per run. Exact-integer doubles round-trip parquet
    // bit-exactly, so consumers are bit-identical to the inline path.
    if (withVectors)
      emb.select(col("vec_id"), quantize(col("embedding")).as("qe"))
        .withColumn("nrm", sqSum(col("qe")))
        .write.mode("overwrite").parquet(s"$indexDir/vectors")
    import spark.implicits._
    model.centers.toIndexedSeq.zipWithIndex
      .map { case (g, i) => (i.toLong, g.toSeq) }
      .toDF("c_id", "g")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    Seq((model.mu.toSeq, model.sigma.toSeq)).toDF("mu", "sigma")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/model")
    // one corpus pass for fingerprint AND digest (was two separate aggs)
    val fp = emb.agg(count(lit(1)), max(col("vec_id")),
      expr("bit_xor(xxhash64(vec_id, embedding))")).head
    // n_lists = EFFECTIVE count (centers.length ≤ requested when n < k;
    // validates the centroids table), n_lists_req = the REQUESTED clamped
    // k — the probe default derives from n_lists_req so indexed reads
    // match the fresh-fit path and the oracle geo CTE on tiny corpora
    // (advice r16: effective < requested when n < 8 probed fewer lists)
    Seq((model.centers.length, lists, IvfDims, IvfIters, fp.getLong(0),
      if (fp.isNullAt(1)) -1L else fp.getLong(1),
      if (fp.isNullAt(2)) 0L else fp.getLong(2),
      clustered))
      .toDF("n_lists", "n_lists_req", "dims", "iters", "nvecs",
        "max_vec_id", "content_digest", "clustered")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** IVF top-k against a prebuilt index: same probe + exact-re-score tail
    * as [[ivfTopK]], quantizer artifacts read from `indexDir` — no fit. */
  def ivfTopKIndexed(spark: SparkSession, dir: String, indexDir: String,
                     k: Int = 10, nProbe: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val lists = spark.read.parquet(s"$indexDir/lists")
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val (mu, sigma, _, nListsReq, clustered) = readIvfModel(spark, indexDir)
    val probes = if (nProbe > 0) nProbe else adaptiveProbe(nListsReq, clustered)
    ivfProbeScore(emb, emb.filter(col("vec_id") < 10), lists, centroids,
      mu, sigma, k, probes)
  }

  /** The index's frozen standardization vector + list counts — a 1-row
    * driver-side artifact; reading it is a (tiny) Spark job per call, so
    * memoize per index dir. Stale entries are impossible while the dir is
    * memo-validated: [[buildIvfIndexFrom]] invalidates the entry, and
    * [[ensureIvfIndex]] is keyed on the same dir. Returns (mu, sigma, effective
    * n_lists, requested n_lists): probe defaults derive from REQUESTED so
    * tiny corpora (effective < requested when n < 8) probe the same list
    * count as the fresh-fit path and the oracle geo CTE; validation of the
    * centroids table uses EFFECTIVE. Pre-r17 meta lacks `n_lists_req` —
    * fall back to effective (the two only diverge below the 8-clamp). */
  private def readIvfModel(spark: SparkSession, indexDir: String)
      : (Array[Double], Array[Double], Int, Int, Boolean) = {
    graft.Memo.get("ivf.model", indexDir) {
      val m = spark.read.parquet(s"$indexDir/model").head
      val meta = spark.read.parquet(s"$indexDir/meta").head
      val nl = meta.getAs[Int]("n_lists")
      val nlReq =
        if (meta.schema.fieldNames.contains("n_lists_req"))
          meta.getAs[Int]("n_lists_req") else nl
      // pre-r17 meta lacks the flag: fall back to the isotropic default
      val clustered =
        meta.schema.fieldNames.contains("clustered") &&
          meta.getAs[Boolean]("clustered")
      (m.getSeq[Double](m.fieldIndex("mu")).toArray,
        m.getSeq[Double](m.fieldIndex("sigma")).toArray, nl, nlReq, clustered)
    }
  }

  // ------------------------------------------------- IVF append arc

  /** Assign-only append to a persisted IVF index — the lambda-architecture
    * move for ANN at 100 TB: arriving batches do NOT refit the coarse
    * quantizer (a Lloyd's fit over the full corpus is a periodic campaign,
    * not a per-batch cost); each new vector is PROJECTED with the index's
    * frozen geometry, assigned to its nearest existing centroid, and the
    * (vec_id, list_id) rows land under an exactly-once batch marker
    * (write-then-rename, replays skip). Readers union base + committed
    * appended lists; the probe/re-score tail is unchanged.
    *
    * Assignment replays DetKMeans's final assignment rule exactly — argmin
    * z-distance with ties to the smallest centroid id — so appending a
    * vector that WAS in the fit corpus lands it in the list the fit chose
    * (IvfAppendSpec pins this; the [[annIvfAppendOracle]] replays the rule
    * in SQL). Periodic refit = a fresh [[buildIvfIndex]], the compaction
    * story, same shape as the hybrid index's fold. Cost per batch: one
    * constant-size centroid literal riding a single projection over the
    * batch — no corpus scan, no shuffle at all. */
  def appendToIvfIndex(spark: SparkSession, indexDir: String,
                       batch: DataFrame, batchId: Long): Unit = {
    val root = s"$indexDir/appends"
    if (graft.streaming.ExactlyOnce.isCommitted(spark, root, batchId)) return
    val (mu, sigma, nLists, _, _) = readIvfModel(spark, indexDir)
    // centroid literal: nLists rows (bounded by the 65536 clamp), same
    // collect contract as IvfPq.loadCoarse; c_id IS the array position
    // (zipWithIndex at build time), so KMeansAssign's ties-to-first-index
    // rule is exactly the old window's ORDER BY (__d2, c_id)
    val coarse = spark.read.parquet(s"$indexDir/centroids")
      .orderBy("c_id").collect().map(r => r.getSeq[Double](1).toArray)
    require(coarse.length == nLists,
      s"IVF index at $indexDir: centroids table has ${coarse.length} rows " +
        s"but meta says n_lists=$nLists — inconsistent index; rebuild")
    val feats = ivfProj(batch.select(col("vec_id"), col("embedding")), "embedding")
    // frozen coarse argmin via the codegen'd KMeansAssign kernel: one
    // projection over the batch instead of a batch×nLists crossJoin plus a
    // per-vec_id window shuffle (r16 verdict #1 — at the 65536-list clamp
    // the old shape materialized ~65B intermediate rows for a 1M-row
    // batch). z_i = (x_i − mu_i)/sigma_i matches the fit's standardization;
    // the kernel's ascending-dim d += t·t IS the old left-assoc reduce, so
    // assignments (and the DuckDB oracle) are bit-identical.
    val zArr = array((0 until IvfDims).map(i =>
      (col(s"x$i").cast("double") - lit(mu(i))) / lit(sigma(i))): _*)
    feats
      .select(col("vec_id"),
        graft.functions.KMeansAssign.of(
          zArr, typedLit(coarse.map(_.toSeq).toSeq)).as("list_id"))
      .sortWithinPartitions("list_id")
      .write.mode("overwrite").parquet(s"$root/batch=$batchId/lists")
    graft.streaming.ExactlyOnce.commit(spark, root, batchId)
  }

  /** [[ivfTopKIndexed]] over base ∪ committed appended lists — the read
    * side of the append arc. Uncommitted (crashed) append dirs are
    * invisible by the marker protocol. */
  def ivfTopKIndexedWithAppends(spark: SparkSession, dir: String,
                                indexDir: String, k: Int = 10,
                                nProbe: Int = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = spark.read.parquet(s"$indexDir/lists")
    val appended = graft.streaming.ExactlyOnce
      .committedBatches(spark, s"$indexDir/appends")
    val lists =
      if (appended.isEmpty) base
      else base.unionByName(
        spark.read.parquet(appended.map(_ + "/lists"): _*))
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val (mu, sigma, _, nListsReq, clustered) = readIvfModel(spark, indexDir)
    val probes = if (nProbe > 0) nProbe else adaptiveProbe(nListsReq, clustered)
    ivfProbeScore(emb, emb.filter(col("vec_id") < 10), lists, centroids,
      mu, sigma, k, probes)
  }

  /** Driver query: the full ANN lambda arc as one gateable value. The
    * settled corpus (vec_id % 5 ≠ 4) fits the quantizer into a per-run
    * scratch index; the remaining fifth arrives as two assign-only appends
    * (vec_id % 10 = 4, then % 10 = 9) through the exactly-once marker
    * protocol; the probe unions base + appended lists and exact-rescored
    * top-k comes back over the WHOLE corpus — so the appended vectors are
    * both findable (in lists) and queryable (queries 4 and 9 are appended
    * ids). Scratch dirs via ReplayScratch (JVM-exit cleanup), the
    * verification-surface precedent from the streaming replays. */
  def annIvfAppend(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = graft.streaming.ReplayScratch.dir("ivf_append_idx")
    buildIvfIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), idx,
      withVectors = false) // scratch index never serves annRecall's audit leg
    appendToIvfIndex(spark, idx, emb.filter(col("vec_id") % 10 === 4), 0L)
    appendToIvfIndex(spark, idx, emb.filter(col("vec_id") % 10 === 9), 1L)
    ivfTopKIndexedWithAppends(spark, dir, idx, k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB oracle replaying [[annIvfAppend]] end-to-end: the DetKMeans
    * chain over the SETTLED subset only, frozen-centroid argmin assignment
    * of the appended fifth (the same min-struct tie-break as the fit's
    * final step), probe + exact re-score over the union — raw-space mode,
    * so z ≡ CAST(x AS DOUBLE) for every vector and one `zall` projection
    * serves queries and appended assignment alike. */
  def annIvfAppendOracle(k: Int = 10): String = {
    val xsel = (0 until IvfDims).map(d =>
      s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
        s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
      .mkString(",\n")
    val pre =
      s"""qv AS (
         |  SELECT vec_id, qe,
         |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
         |  FROM (SELECT vec_id,
         |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
         |        FROM embeddings)
         |), fall AS MATERIALIZED (
         |  SELECT vec_id,
         |$xsel
         |  FROM qv
         |), f AS (SELECT * FROM fall WHERE vec_id % 5 <> 4),
         |""".stripMargin + geoCtes(distinctFeatCountSql("f"))
    val zs = (0 until IvfDims).map(i => s"z$i")
    val d2 = (0 until IvfDims).map(i => s"(q.z$i - c.g$i) * (q.z$i - c.g$i)")
      .reduce((a, x) => s"($a + $x)")
    val d2a = (0 until IvfDims).map(i => s"(z$i - g$i) * (z$i - g$i)")
      .reduce((a, x) => s"($a + $x)")
    "WITH " + graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = IvfDims,
      k = 0, iters = IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)") + ",\n" +
      probeCtes() + ",\n" +
      s"""zall AS MATERIALIZED (
         |  SELECT vec_id, ${(0 until IvfDims).map(i => s"CAST(x$i AS DOUBLE) AS z$i").mkString(", ")}
         |  FROM fall
         |), aap AS MATERIALIZED (
         |  SELECT vec_id, (min({'d': $d2a, 'j': cluster})).j AS cluster
         |  FROM (SELECT * FROM zall WHERE vec_id % 5 = 4) CROSS JOIN c$IvfIters
         |  GROUP BY vec_id
         |), alists AS (
         |  SELECT vec_id, cluster FROM afin
         |  UNION ALL
         |  SELECT vec_id, cluster FROM aap
         |), qzq AS MATERIALIZED (SELECT vec_id AS query_id, ${zs.mkString(", ")} FROM zall WHERE vec_id < 10),
         |pr AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2, c.cluster) AS rn
         |    FROM qzq q CROSS JOIN c$IvfIters c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), cnd AS (
         |  SELECT a.vec_id, p.query_id
         |  FROM alists a JOIN pr p ON a.cluster = p.list_id
         |  WHERE a.vec_id <> p.query_id
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
         |), pp AS (
         |  SELECT cnd.query_id, cnd.vec_id,
         |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
         |      i -> a.qe[i] * b.qe[i])) AS dot,
         |    a.nrm AS nrm, b.nrm AS q_nrm
         |  FROM cnd
         |  JOIN nn a ON a.vec_id = cnd.vec_id
         |  JOIN nn b ON b.vec_id = cnd.query_id
         |), ss AS (
         |  SELECT query_id, vec_id,
         |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
         |  FROM pp
         |), rr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
         |  FROM ss
         |)
         |SELECT query_id, vec_id, cos_sim, "rank" FROM rr WHERE "rank" <= $k""".stripMargin
  }

  /** Build-once glue for the persisted vector indexes (IVF, PQ, IVFADC):
    * the index lives under java.io.tmpdir at a path named by the MD5 of
    * `key` (dir + geometry + layout version), and its meta carries the
    * build-time corpus fingerprint — count, max vec_id and
    * [[corpusDigest]]. A mismatch with the live embeddings table, a
    * pre-fingerprint meta, or a meta that cannot be read (a run killed
    * mid-write leaves meta/ with only _temporary) runs `build` instead of
    * serving or wedging. */
  private[graft] def ensureVectorIndex(spark: SparkSession, tag: String, dir: String,
                                       key: String)(build: String => Unit): String =
    persistedIndex(tag, key) { idx =>
      val p = new org.apache.hadoop.fs.Path(s"$idx/meta")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fresh = fs.exists(p) && scala.util.Try {
        val meta = spark.read.parquet(s"$idx/meta")
        meta.columns.contains("content_digest") && {
          val m = meta.head
          val live = Tables.embeddings(spark, dir)
          val fp = live.agg(count(lit(1)), max(col("vec_id"))).head
          m.getAs[Long]("nvecs") == fp.getLong(0) &&
            m.getAs[Long]("max_vec_id") ==
              (if (fp.isNullAt(1)) -1L else fp.getLong(1)) &&
            m.getAs[Long]("content_digest") == corpusDigest(live)
        }
      }.getOrElse(false)
      if (!fresh) build(idx)
    }

  /** `java.io.tmpdir/graft_<tag>_idx_<md5(key)>`, passed through `validate`
    * once per JVM. The on-disk fingerprint exists to protect ACROSS process
    * restarts (a durable index must not serve data regenerated at the same
    * path after the process that built it is gone); re-proving it on every
    * call would charge each query a corpus scan, so the first use validates
    * and later uses trust the dir until the memo forgets it. */
  private[graft] def persistedIndex(tag: String, key: String)(validate: String => Unit): String = {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val idx = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_${tag}_idx_$hash").getAbsolutePath
    graft.Memo.get(s"$tag.ensure", idx)(validate(idx))
    idx
  }

  /** The persisted IVF index for `dir` ([[ensureVectorIndex]]). */
  private[graft] def ensureIvfIndex(spark: SparkSession, dir: String,
                                    nLists: Int = 0): String = {
    // nLists = 0 derives the size-derived geometry BEFORE keying, so the
    // key (and the index layout behind it) is pinned to the derived value
    val lists = if (nLists > 0) nLists else derivedLists(spark, dir)
    // "v3": r16 switched the coarse fit to rank init + size-derived lists —
    // version retires v2 maxmin-fit dirs by never touching them
    ensureVectorIndex(spark, "ivf", dir, s"$dir|$IvfDims|$IvfIters|$lists|v3")(
      buildIvfIndex(spark, dir, _, lists))
  }

  /** Driver query: the persisted-index IVF path — oracle-identical to
    * ann_ivf (same lists, same centroids, precomputed). */
  def annIvfIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    ivfTopKIndexed(spark, dir, ensureIvfIndex(spark, dir), k)
      .orderBy(col("query_id"), col("rank"))

  /** Size-adaptive ANN dispatch — the hybrid_search_auto lesson (31×/query
    * at 100×) applied to the ANN family: below [[AnnAutoThreshold]] corpus
    * vectors the exact brute scan IS the right plan (one corpus pass, no
    * index to build or keep fresh); at or above it the query routes to the
    * persisted-IVF probe, whose shipped default now measures ≥ 0.9 recall@10
    * on the isotropic worst case ([[ivfDefaultProbe]]). The corpus count is
    * a metadata-only parquet count, memoized ([[cachedCount]]).
    *
    * Unlike hybrid_search_auto the two routes are NOT bit-identical — one is
    * exact, one approximate by contract — so the parity obligation moves to
    * the DISPATCH itself: the oracle replays the same count-vs-threshold
    * rule in SQL ([[annAutoOracle]]), AnnSpec pins the routing exactly AT
    * the threshold (≥ routes to IVF) and one below it, and each route is
    * bit-identical to its standalone query (ann_topk / ann_ivf_indexed),
    * both already hash-gated at every SF. */
  val AnnAutoThreshold = 50000L

  private[graft] def annAutoRouted(spark: SparkSession, dir: String, k: Int = 10,
                                   threshold: Long = AnnAutoThreshold): (String, DataFrame) = {
    val n = cachedCount(Tables.embeddings(spark, dir))
    if (n < threshold) ("brute", annTopK(spark, dir, k))
    else ("ivf", annIvfIndexed(spark, dir, k))
  }

  def annAuto(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    annAutoRouted(spark, dir, k)._2

  /** Oracle for [[annAuto]]: both route oracles guarded by the SAME
    * count-vs-threshold predicate the Scala dispatch evaluates — the oracle
    * replays the routing, so the gate proves dispatch + routed plan at
    * whatever side of the threshold the gated corpus lands on (brute at the
    * SF gates, IVF at the 100× corpus: 200k ≥ 50k). */
  def annAutoOracle: String =
    s"""SELECT * FROM ($annTopKOracle)
       |WHERE (SELECT COUNT(*) FROM embeddings) < $AnnAutoThreshold
       |UNION ALL
       |SELECT * FROM (${annIvfOracle()})
       |WHERE (SELECT COUNT(*) FROM embeddings) >= $AnnAutoThreshold""".stripMargin

  /** DuckDB oracle replaying annIvfTopK end-to-end: the q20 component
    * features (zero-padded past the vector length), the DetKMeans CTE
    * chain over them, centroid probing in z-space, and the q20 re-score +
    * top-k tail (the annLshOracle tail). The driver's query set is
    * `vec_id < 10` ⊂ corpus, so query z-vectors come straight from
    * `afin`. */
  def annIvfOracle(k: Int = 10): String = {
    val pre =
      """qv AS (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), f AS (
        |  SELECT vec_id,
        |""".stripMargin +
      (0 until IvfDims).map(d =>
        s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
          s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
        .mkString(",\n") +
      "\n  FROM qv),\n" + geoCtes(distinctFeatCountSql("f"))
    val d2 = (0 until IvfDims).map(i => s"(q.z$i - c.g$i) * (q.z$i - c.g$i)")
      .reduce((a, x) => s"($a + $x)")
    "WITH " + graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = IvfDims,
      k = 0, iters = IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)") + ",\n" +
      probeCtes() + ",\n" +
      s"""qzq AS MATERIALIZED (SELECT vec_id AS query_id, ${(0 until IvfDims).map(i => s"z$i").mkString(", ")} FROM afin WHERE vec_id < 10),
         |pr AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2, c.cluster) AS rn
         |    FROM qzq q CROSS JOIN c$IvfIters c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), cnd AS (
         |  SELECT a.vec_id, p.query_id
         |  FROM afin a JOIN pr p ON a.cluster = p.list_id
         |  WHERE a.vec_id <> p.query_id
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
         |), pp AS (
         |  SELECT cnd.query_id, cnd.vec_id,
         |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
         |      i -> a.qe[i] * b.qe[i])) AS dot,
         |    a.nrm AS nrm, b.nrm AS q_nrm
         |  FROM cnd
         |  JOIN nn a ON a.vec_id = cnd.vec_id
         |  JOIN nn b ON b.vec_id = cnd.query_id
         |), ss AS (
         |  SELECT query_id, vec_id,
         |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
         |  FROM pp
         |), rr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
         |  FROM ss
         |)
         |SELECT query_id, vec_id, cos_sim, "rank" FROM rr WHERE "rank" <= $k""".stripMargin
  }

  /** Embedding-cosine near-dup pairs via shared LSH buckets. `threshold` is
    * a demo value for the synthetic set (max pairwise cosine ≈ 0.51); real
    * near-dup dedup uses ~0.95. */
  /** `tables` defaults higher than the top-k path's 12: the pair-list goal
    * is "every pair above threshold", and at the demo threshold 0.4 a
    * near-threshold pair's per-table collision probability is low, so
    * recall needs more independent tables than top-k (which only competes
    * within the candidate pool). Measured recall vs the exact all-pairs
    * set: 1.0 at sf0.001/sf0.01, ~0.94 at sf0.1 (adaptive bits grow with n
    * and dilute per-table collision odds — the standard LSH recall/cost
    * trade; production near-dup thresholds ~0.95 sit far less exposed).
    * The DuckDB oracle therefore replays the deterministic bucketing
    * itself (see embedNearDupsOracle) — an any-scale implementation-parity
    * check — while recall stays AnnSpec's measured property. */
  def embeddingNearDups(spark: SparkSession, dir: String, threshold: Double = 0.4,
                        tables: Int = 24, bits: Int = 0,
                        ordered: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def sorted(df: DataFrame): DataFrame =
      if (ordered) df.orderBy(col("vec_a"), col("vec_b")) else df
    // identical vectors collapse to one keeper before the LSH stage (same
    // rationale as the text dedup collapse: m copies per vector inflate
    // buckets m× and pairs m²); cross pairs inherit the keeper pair's
    // cosine, within pairs score the keeper against itself so values match
    // the uncollapsed pipeline bit-for-bit. Adaptive: skipped when the
    // corpus has (almost) no identical vectors.
    if (graft.dedup.Collapse.duplicationFactor(emb, col("embedding"))
        < graft.dedup.Collapse.CollapseThreshold)
      return sorted(lshVectorPairs(spark, emb, threshold, tables, bits))
    val keeperByVec = emb.groupBy("embedding").agg(min(col("vec_id")).as("keeper"))
    val members = emb.join(keeperByVec, "embedding").select("vec_id", "keeper")
      .localCheckpoint(false)
    val keepers = emb.join(
      members.filter(col("vec_id") === col("keeper")).select("vec_id"), "vec_id")
    // auto-sized bucket bits come from the PRE-collapse corpus count so the
    // hyperplane/bucket geometry — and hence the candidate set — is the same
    // on both adaptive paths (a metadata-only parquet count)
    val kPairs = lshVectorPairs(spark, keepers, threshold, tables, bits,
      countForBits = cachedCount(emb))
    val mA = members.select(col("keeper").as("vec_a"), col("vec_id").as("a_id"))
    val mB = members.select(col("keeper").as("vec_b"), col("vec_id").as("b_id"))
    val cross = kPairs.join(mA, "vec_a").join(mB, "vec_b")
      .select(least(col("a_id"), col("b_id")).as("vec_a"),
        greatest(col("a_id"), col("b_id")).as("vec_b"), col("cos_sim"))
    val selfCos = keepers
      .withColumn("cos_sim", fixedPointCosine(col("embedding"), col("embedding")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id").as("keeper"), col("cos_sim"))
    val within = members.join(selfCos, "keeper").as("x")
      .join(members.as("y"),
        col("x.keeper") === col("y.keeper") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"), col("x.cos_sim"))
    sorted(cross.unionByName(within))
  }

  /** DuckDB oracle for embeddingNearDups (threshold 0.4): a full replay of
    * the SRP-LSH pipeline — the md5-integer hyperplanes, the q20 exact-long
    * bucket projections, the adaptive bit count from COUNT(*), the bucket-
    * collision candidate join, and the q20 exact rescore. Every stage is
    * exact integer arithmetic (projections in BIGINT/HUGEINT, rescore
    * products exact ints in doubles < 2^53), so the pair set AND the scores
    * match bit-for-bit at ANY scale — an implementation-parity check, not a
    * recall assumption. (The previous oracle was the exact all-pairs set and
    * leaned on "SRP recall is 1.0 at the gate SFs"; a full sf0.1 crosscheck
    * measured recall 0.94 at the demo threshold 0.4 — recall dilutes as
    * adaptive bits grow with n, so that contract could not scale. Recall vs
    * brute force is AnnSpec's measured property instead.) */
  def embedNearDupsOracle: String =
    """WITH nb AS (
      |  SELECT COALESCE((SELECT MIN(b) FROM range(3, 21) t(b)
      |                   WHERE (1 << b) * 64 >= (SELECT COUNT(*) FROM embeddings)), 20) AS bits
      |), pl AS (
      |  SELECT t.range AS t, b.range AS b,
      |    list_transform(range(0, 64), j ->
      |      CAST(list_sum(list_transform(range(1, 9), i ->
      |        (strpos('0123456789abcdef',
      |           substring(md5('srp|42|' || t.range || '|' || b.range || '|' || j), i, 1)) - 1)
      |        * (16.0 ** (8 - i)))) AS BIGINT) - 2147483648) AS hv
      |  FROM range(0, 24) t, range(0, 20) b, nb
      |  WHERE b.range < nb.bits
      |), qv AS (
      |  SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
      |  FROM embeddings
      |), bs AS (
      |  SELECT v.vec_id, p.t, p.b,
      |    list_sum(list_transform(range(1, LEAST(len(v.qe), 64) + 1),
      |      j -> CAST(v.qe[j] AS BIGINT) * p.hv[j])) AS s
      |  FROM qv v CROSS JOIN pl p
      |), bk AS (
      |  SELECT vec_id, t, SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS bucket
      |  FROM bs GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      |), n AS (
      |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
      |), p AS (
      |  SELECT c.vec_a, c.vec_b,
      |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1), i -> a.qe[i] * b.qe[i])) AS dot,
      |    a.nrm AS na, b.nrm AS nb
      |  FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
      |)
      |SELECT vec_a, vec_b,
      |  CASE WHEN na * nb = 0.0 THEN NULL ELSE dot / sqrt(na * nb) END AS cos_sim
      |FROM p
      |WHERE na * nb > 0 AND dot / sqrt(na * nb) >= 0.4""".stripMargin

  /** SRP-LSH candidate pairs over a vector set with exact cosine re-score:
    * ids only through the bucket join, embeddings re-attached once per side.
    * `countForBits` overrides the row count used for auto-sizing `bits`
    * (callers that pre-filter the vector set pass the original corpus count
    * so both paths share one bucket geometry). */
  private def lshVectorPairs(spark: SparkSession, vectors: DataFrame,
      threshold: Double, tables: Int, bits: Int,
      countForBits: Long = -1L): DataFrame = {
    val b0 = if (bits > 0) bits
      else adaptiveBits(if (countForBits >= 0) countForBits else cachedCount(vectors))
    val pl = planes(tables, b0, 64, 42L)
    val buckets = withBuckets(vectors.select("vec_id", "embedding"), "embedding", pl, tables, b0, 64, 42L)
      .select("tbl", "bucket", "vec_id")
    val a = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
    val b = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"))
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
    val ea = vectors.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = vectors.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // fixed-point (q20) re-score: candidates are few, and the quantized
    // score is what lets the pair list carry an exact DuckDB oracle when
    // banding recall is 100% (same contract as dedup_minhash)
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos_sim", fixedPointCosine(col("emb_a"), col("emb_b")))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }
}
