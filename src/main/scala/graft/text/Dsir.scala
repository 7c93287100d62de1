package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely
  * its hashed bag-of-ngrams is under a TARGET-domain distribution than
  * under the raw-corpus distribution, and keep the target-like tail. The
  * standard published recipe for "give me web data that looks like my
  * curated domain" — the selection step upstream of every domain-tuned
  * pretraining mix, complementing the quality/repetition filters
  * (`TrainPrep`) that judge documents in isolation.
  *
  * Reference anchor: the reference pipeline filters on per-document
  * quality only (`src/etl/silver`, data_quality rules); distribution-level
  * selection against a target corpus is the published complement.
  *
  * Spark-first shape, and the 100 TB story:
  *
  *  1. One corpus tokenize pass (the tfidf_topterms lesson) → hashed
  *     unigram buckets (salted md5 % [[Buckets]] — the portable hash
  *     recipe shared with hash_split/temperature_sample).
  *  2. Raw and target bucket distributions are TWO grouped aggregates
  *     onto a ≤[[Buckets]]-row frame — the model is bounded by the hash
  *     width, never by corpus size. Target here: the corpus's own
  *     English slice (`lang = 'en'`), the fixture stand-in for "my
  *     curated domain"; any target frame slots in.
  *  3. Per-bucket log-likelihood ratios λ_b = ln(p_tgt(b)/p_raw(b))
  *     (Laplace-smoothed) are computed ONCE on that tiny frame through
  *     [[graft.operators.Drift.portableLn]]'s staged ladder (pure IEEE
  *     arithmetic — bit-identical on both engines) and broadcast.
  *  4. A document's importance log-weight is Σ_b n_b·λ_b — folded over
  *     the bucket-SORTED term array (the psi_drift recipe), so the
  *     double summation order is pinned and the oracle hash-matches.
  *  5. Selection is row-local: `is_selected = log_weight > 0` (more
  *     target-like than raw). Budgeted variants compose with the
  *     existing stratified/budget samplers downstream; nothing here
  *     shuffles more than the bucket aggregates.
  */
object Dsir {

  /** Hash width: the model size (and the per-doc fold width bound). 256
    * keeps the λ table broadcast-trivial while leaving unigram collisions
    * rare enough to rank on (the paper itself runs 10k buckets at web
    * scale — the knob, not the recipe, changes). */
  val Buckets = 256

  /** Target-domain predicate over documents: the fixture's curated slice. */
  val TargetLang = "en"

  def dsirSelection(spark: SparkSession, dir: String,
                    buckets: Int = Buckets): DataFrame = {
    import graft.operators.Drift
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .withColumn("__tokens", expr("""split(lower(trim(text)), '\\s+')"""))
      // explode_outer: one split per row (TextOps.withTokens)
      .select(col("doc_id"), col("lang"), explode_outer(col("__tokens")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("bucket",
        TrainPrep.hashBucket(concat(lit("dsir:"), col("token")), buckets))
      .localCheckpoint(false) // read 3× (doc counts, raw, target) — once
    val docBuckets = toks.groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("nb"))
    val raw = toks.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("lang") === TargetLang)
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    val tot = toks.agg(
      count(lit(1)).as("rtot"),
      sum(when(col("lang") === TargetLang, 1L).otherwise(0L)).as("ttot"))

    // λ_b on the ≤`buckets`-row frame: smoothed ratio, staged portable ln
    val lamBase = raw
      .join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__pt",
        (coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
          (col("ttot") + lit(buckets.toLong)).cast("double"))
      .withColumn("__pr",
        (col("cr") + lit(1L)).cast("double") /
          (col("rtot") + lit(buckets.toLong)).cast("double"))
      .withColumn("__r", col("__pt") / col("__pr"))
    val lam = Drift.withPortableLn(lamBase, "__r", "lam")
      .select(col("bucket"), col("lam"))

    // per-doc fold over the bucket-sorted terms (pinned summation order)
    val weights = docBuckets.join(broadcast(lam), "bucket")
      .withColumn("term", col("nb").cast("double") * col("lam"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("bucket"), col("term"))).as("__cells"))
      .withColumn("log_weight",
        aggregate(sort_array(col("__cells")), lit(0.0),
          (acc, x) => acc + x.getField("term")))
      .select(col("doc_id"), col("log_weight"))
    val nTok = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))

    docs.select(col("doc_id"), col("lang"))
      .join(nTok, Seq("doc_id"), "left")
      .join(weights, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("log_weight"),
        coalesce(col("log_weight") > 0.0, lit(false)).as("is_selected"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle: same tokenize/hash/count/smooth/ln/fold tree — the
    * λ ladder staged through CTE columns, the per-doc Σ as the
    * list_sort + list_reduce left fold (psi_drift's pattern). */
  def dsirSelectionOracle(buckets: Int = Buckets): String = {
    import graft.operators.Drift
    val bucketExpr = TrainPrep.hashBucketSql("'dsir:' || token", buckets)
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $bucketExpr AS bucket
       |  FROM (
       |    SELECT doc_id, lang, t.tok AS token
       |    FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
       |    WHERE length(t.tok) > 0)
       |), db AS (
       |  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS nb FROM toks GROUP BY 1, 2
       |), raw AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY 1
       |), tgt AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM toks
       |  WHERE lang = '$TargetLang' GROUP BY 1
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS rtot,
       |    CAST(SUM(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS ttot
       |  FROM toks
       |), l0 AS (
       |  SELECT bucket,
       |    (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(ttot + $buckets AS DOUBLE)) /
       |    (CAST(cr + 1 AS DOUBLE) / CAST(rtot + $buckets AS DOUBLE)) AS r
       |  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
       |), l1 AS (
       |  SELECT bucket, ${Drift.lnLadderSqlK("r")} AS k, ${Drift.lnLadderSqlM("r")} AS m
       |  FROM l0
       |), l2 AS (
       |  SELECT bucket, k, (m - 1.0) / (m + 1.0) AS z FROM l1
       |), l3 AS (
       |  SELECT bucket, k, z, z * z AS z2 FROM l2
       |), lam AS (
       |  SELECT bucket,
       |    (k * CAST(${Drift.Ln2} AS DOUBLE)) +
       |      ((CAST(2.0 AS DOUBLE) * z) * ${Drift.lnHornerSql("z2")}) AS lam
       |  FROM l3
       |), trm AS (
       |  SELECT db.doc_id, db.bucket, CAST(db.nb AS DOUBLE) * lam AS term
       |  FROM db JOIN lam USING (bucket)
       |), fold AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0.0, list_transform(
       |      list_sort(list({'bucket': bucket, 'term': term})), x -> x.term)),
       |      (a, b) -> a + b) AS log_weight
       |  FROM trm GROUP BY doc_id
       |), nt AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1
       |)
       |SELECT d.doc_id, d.lang, COALESCE(nt.n_tokens, 0) AS n_tokens,
       |  fold.log_weight,
       |  COALESCE(fold.log_weight > 0.0, false) AS is_selected
       |FROM documents d
       |LEFT JOIN nt USING (doc_id)
       |LEFT JOIN fold USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }
}
