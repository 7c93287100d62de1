package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic train/eval contamination — the embedding-level sibling of
  * `contamination_check`: a paraphrased or lightly-rewritten benchmark
  * document shares almost no 5-grams with its source, but its embedding
  * still sits next to the training copy, and a training pipeline that only
  * runs the lexical check ships the leak. Beyond-reference LLM-pipeline
  * surface (the reference has neither check).
  *
  * For every NON-train document (the md5 hash-split recipe on the stable
  * id — `vec_id` shares the documents id space), find its best-cosine
  * training neighbor through the shared SRP-LSH bucket tables and flag it
  * when the similarity clears `threshold`.
  *
  * Scale shape (100 TB corpus): both sides bucket through ONE deterministic
  * hyperplane family (`Ann.planes`, adaptive bits from the full corpus
  * count — in production the train side is the persisted ANN index);
  * candidates carry ids only (eval×train bucket collisions, never a cross
  * product), the q20 exact re-score touches candidate pairs, and the
  * per-eval-doc best is one max-struct aggregate. Detection recall follows
  * the LSH geometry (collision-probability of near pairs across `tables`
  * tables — DecontaminationSpec measures it against brute force on the
  * test corpus); the DuckDB oracle replays the bucketing itself, so the
  * hash check is implementation-parity at any scale, not a recall
  * assumption (the embed_neardup contract).
  */
object Decontamination {

  def semanticContamination(spark: SparkSession, dir: String,
                            threshold: Double = 0.4, tables: Int = 24,
                            bits: Int = 0): DataFrame = {
    import graft.ann.Ann
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val withSplit = emb
      .withColumn("__bucket", TrainPrep.hashBucket(col("vec_id"), 100))
      .withColumn("split",
        when(col("__bucket") < 80, "train")
          .when(col("__bucket") < 90, "val")
          .otherwise("test"))
    // adaptive bits from the CACHED corpus count (Ann.cachedCount): sizing
    // geometry is the only consumer, so the memo lookup replaces a
    // full count job per call
    val b = if (bits > 0) bits else Ann.adaptiveBits(Ann.cachedCount(emb))
    val pl = Ann.planes(tables, b, 64, 42L)
    val train = withSplit.filter(col("split") === "train")
    val eval = withSplit.filter(col("split") =!= "train")
    val tb = Ann.withBuckets(train.select(col("vec_id").as("train_id"),
        col("embedding").as("t_emb")), "t_emb", pl, tables, b, 64, 42L)
      .select("tbl", "bucket", "train_id")
    val ebk = Ann.withBuckets(eval.select(col("vec_id"), col("embedding")),
        "embedding", pl, tables, b, 64, 42L)
      .select("tbl", "bucket", "vec_id")
    val cand = ebk.join(tb, Seq("tbl", "bucket"))
      .select("vec_id", "train_id")
      .dropDuplicates("vec_id", "train_id")
    val eEmb = emb.select(col("vec_id"), col("embedding"))
    val tEmb = emb.select(col("vec_id").as("train_id"), col("embedding").as("t_emb"))
    // best training neighbor per eval doc: max cosine, ties to the smaller
    // train id — the (cos, −id) struct max, deterministic on both engines
    val best = cand.join(eEmb, "vec_id").join(tEmb, "train_id")
      .withColumn("cos_sim",
        graft.functions.ArrayCosineQ20.of(col("embedding"), col("t_emb")))
      .filter(col("cos_sim").isNotNull)
      .groupBy("vec_id")
      .agg(max(struct(col("cos_sim"), (-col("train_id")).as("neg"))).as("__b"))
      .select(col("vec_id"), (-col("__b.neg")).cast("long").as("best_train_id"),
        col("__b.cos_sim").as("best_cosine"))
    eval.select(col("vec_id"), col("split"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("is_contaminated",
        coalesce(col("best_cosine") >= threshold, lit(false)))
  }

  /** DuckDB oracle: full replay — md5 split buckets, the SRP hyperplane /
    * adaptive-bits / exact-long bucket machinery (annLshOracle head at
    * tables = 24), eval×train bucket candidates, q20 re-score, and the
    * window-ranked best neighbor. */
  def semanticContaminationOracle(threshold: Double = 0.4): String =
    s"""WITH nb AS (
       |  SELECT COALESCE((SELECT MIN(b) FROM range(3, 21) t(b)
       |                   WHERE (1 << b) * 64 >= (SELECT COUNT(*) FROM embeddings)), 20) AS bits
       |), sp AS (
       |  SELECT vec_id,
       |    CASE WHEN ${TrainPrep.hashBucketSql("vec_id", 100)} < 80 THEN 'train'
       |         WHEN ${TrainPrep.hashBucketSql("vec_id", 100)} < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM embeddings
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
       |  SELECT DISTINCT e.vec_id, tr.vec_id AS train_id
       |  FROM bk e JOIN sp se ON e.vec_id = se.vec_id AND se.split <> 'train'
       |  JOIN bk tr ON e.t = tr.t AND e.bucket = tr.bucket
       |  JOIN sp st ON tr.vec_id = st.vec_id AND st.split = 'train'
       |), n AS (
       |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
       |), p2 AS (
       |  SELECT cand.vec_id, cand.train_id,
       |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
       |      i -> a.qe[i] * b.qe[i])) AS dot,
       |    a.nrm AS nrm, b.nrm AS t_nrm
       |  FROM cand
       |  JOIN n a ON a.vec_id = cand.vec_id
       |  JOIN n b ON b.vec_id = cand.train_id
       |), s2 AS (
       |  SELECT vec_id, train_id,
       |    CASE WHEN nrm * t_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * t_nrm) END AS cos_sim
       |  FROM p2 WHERE nrm * t_nrm > 0
       |), best AS (
       |  SELECT vec_id, train_id AS best_train_id, cos_sim AS best_cosine
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cos_sim DESC, train_id) AS rn FROM s2)
       |  WHERE rn = 1
       |)
       |SELECT sp.vec_id, sp.split, best_train_id, best_cosine,
       |  COALESCE(best_cosine >= $threshold, FALSE) AS is_contaminated
       |FROM sp LEFT JOIN best ON sp.vec_id = best.vec_id
       |WHERE sp.split <> 'train'""".stripMargin
}
