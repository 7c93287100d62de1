package graft.text

import graft.Tables
import graft.Exact.countAll
import graft.operators.RankOps
import graft.text.TextOps.{enStop, sqlList}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators the reference's ETL stops short of
  * but a large-scale LLM-data pipeline needs as first-class queries:
  * deterministic hash splits, class balancing, eval-set contamination
  * checks, Gopher-style repetition filters, fixed-token-budget sequence
  * packing, and source-mixture weighting. All run over the `documents`
  * table; every statistic is exact integer / fixed-order arithmetic so each
  * query is hash-comparable against a DuckDB oracle.
  *
  * Scale notes per operator are on the methods; the common theme is that
  * per-document statistics are pure projections (no shuffle), corpus-level
  * statistics are single grouped aggregates, and anything needing a global
  * order goes through RankOps' range-repartition machinery — never a
  * single-partition window.
  */
object TrainPrep {

  /** Whitespace tokens, the corpus-wide convention (TextOps). */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("__w", expr("""split(lower(trim(text)), '\\s+')"""))

  private val hexDigits = "0123456789abcdef"

  /** First 4 md5 hex chars of the doc id as an integer 0..65535 — the
    * deterministic, engine-portable split key. Seeding on the STABLE id
    * (not the text) keeps a document's split assignment fixed across
    * re-crawls that mutate its content — the property that keeps eval sets
    * honest over pipeline generations. */
  private[graft] def hashBucket(id: Column, mod: Int): Column =
    (conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % mod)

  /** DuckDB twin of hashBucket (no base-16 conv builtin — digit-fold the
    * hex, the chunk_embeddings recipe). */
  private[graft] def hashBucketSql(idExpr: String, mod: Int): String =
    s"""CAST(list_sum(list_transform(range(1, 5), j ->
       |    (strpos('$hexDigits', substring(md5(CAST($idExpr AS VARCHAR)), j, 1)) - 1)
       |      * (16.0 ** (4 - j)))) AS BIGINT) % $mod""".stripMargin

  // ---------------------------------------------------------------- split

  /** Deterministic 80/10/10 train/val/test assignment by md5 bucket of the
    * doc id. A pure projection — no shuffle, no state, reproducible on any
    * engine; the split of a 100 TB corpus is decided row-locally at scan
    * speed. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      hashBucket(col("doc_id"), 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))

  def hashSplitOracle: String =
    s"""SELECT doc_id, lang, source,
       |  ${hashBucketSql("doc_id", 100)} AS bucket,
       |  CASE WHEN ${hashBucketSql("doc_id", 100)} < 80 THEN 'train'
       |       WHEN ${hashBucketSql("doc_id", 100)} < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  // -------------------------------------------------------------- balance

  /** Class-balanced downsample: keep, per language, the `m` documents with
    * the smallest md5 rank, where `m` is the size of the smallest class —
    * the standard majority-downsampling step before training a classifier.
    *
    * Scale shape: the per-class rank is NOT a `Window.partitionBy(lang)`
    * (5 classes ⇒ 5 single-threaded partitions at 100 TB) but RankOps'
    * grouped rank over (lang; hash, id) — a distributed sort; `m` comes from
    * the ≤ #classes-row count frame (driver-side, like StarSchema's 1-row
    * collect). */
  def classBalance(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      md5(col("doc_id").cast("string")).as("__hk"))
    val m = keyed.groupBy("lang").agg(countAll.as("__c")).collect().map(_.getLong(1)).min
    RankOps.withGroupedRank(keyed, "class_rank", Seq("lang"), Seq(col("__hk"), col("doc_id")))
      .withColumn("is_kept", col("class_rank") <= m)
      .select("doc_id", "lang", "class_rank", "is_kept")
  }

  def classBalanceOracle: String =
    """WITH k AS (
      |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
      |), r AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT)
      |      AS class_rank
      |  FROM k
      |), m AS (
      |  SELECT MIN(c) AS m FROM (SELECT COUNT(*) AS c FROM k GROUP BY lang)
      |)
      |SELECT doc_id, lang, class_rank, class_rank <= m AS is_kept
      |FROM r, m""".stripMargin

  // -------------------------------------------------------- contamination

  /** Benchmark-contamination check: word 5-gram overlap between each corpus
    * document and a held-out eval set (docs with id ≡ 0 mod 97 stand in for
    * the benchmark). A document sharing > 20% of its distinct 5-grams with
    * the eval set is flagged — the standard n-gram decontamination test run
    * before pretraining.
    *
    * Scale shape: distinct 5-grams per doc are a pure projection; the
    * overlap is ONE left-semi join on the gram string (shuffle keyed by
    * gram — fine at any corpus size) followed by a per-doc count. Real eval
    * sets are benchmark-sized, so the semi-join's build side is small and
    * AQE turns it into a broadcast automatically; the shuffle formulation
    * here is the shape that still works when the "eval set" is itself huge
    * (e.g. decontaminating against an entire held-out shard). */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextKernels.register(spark)
    val d = withWords(Tables.documents(spark, dir))
      .withColumn("__grams",
        when(size(col("__w")) >= 5, array_distinct(expr("word_ngrams(__w, 5)")))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("__grams"))
    // explode_outer, NOT explode: InferFiltersFromGenerate infers a
    // size(arr) > 0 filter for a plain explode and predicate pushdown then
    // inlines the whole interpreted gram build into that filter — the
    // expression runs 3× per row and this query measured 7.4 s instead of
    // 1.5 s. The rule skips outer generators, and the extra null rows an
    // outer explode emits for gram-less docs can never match a join key.
    val evalGrams = d.filter(col("doc_id") % 97 === 0)
      .select(explode_outer(col("__grams")).as("g")).distinct()
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
    val overlap = corpus.select(col("doc_id"), explode_outer(col("__grams")).as("g"))
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(countAll.as("__ov"))
    corpus.join(overlap, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("__grams")).cast("long").as("n_ngrams"),
        coalesce(col("__ov"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_ngrams") === 0, 0.0)
          .otherwise(col("n_overlap").cast("double") / col("n_ngrams")))
      .withColumn("is_contaminated", col("overlap_frac") > 0.2)
  }

  def contaminationCheckOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform(range(1, len(toks) - 3),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))
      |    ELSE []::VARCHAR[] END AS grams
      |  FROM t
      |), eg AS (
      |  SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id % 97 = 0
      |), cg AS (
      |  SELECT doc_id, unnest(grams) AS gr FROM g WHERE doc_id % 97 <> 0
      |), ov AS (
      |  SELECT doc_id, COUNT(*) AS c FROM cg WHERE gr IN (SELECT gr FROM eg) GROUP BY 1
      |)
      |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_ngrams,
      |  coalesce(c, 0) AS n_overlap,
      |  CASE WHEN len(grams) = 0 THEN 0.0
      |       ELSE CAST(coalesce(c, 0) AS DOUBLE) / len(grams) END AS overlap_frac,
      |  (CASE WHEN len(grams) = 0 THEN 0.0
      |        ELSE CAST(coalesce(c, 0) AS DOUBLE) / len(grams) END) > 0.2 AS is_contaminated
      |FROM g LEFT JOIN ov ON g.doc_id = ov.doc_id
      |WHERE g.doc_id % 97 <> 0""".stripMargin

  // ----------------------------------------------------------- repetition

  /** Gopher-style repetition quality filters (Rae et al. 2021 §A1.1, re-cut
    * for single-line docs): distinct-word ratio, top-unigram fraction,
    * top-bigram fraction, and the fraction of trigrams that are duplicates.
    * The keep rule mirrors the paper's AND-of-thresholds shape.
    *
    * Scale shape: every statistic is computed INSIDE the row with
    * higher-order array functions (distinct → per-distinct-element counts →
    * max/sum) — a pure codegen'd projection, zero shuffles, O(words ×
    * distinct words) per doc. The explode-and-groupBy alternative would
    * shuffle the whole tokenized corpus. */
  // Run statistics (max occurrence count `mx`, distinct count `nd`,
  // duplicate mass `dup`) and the sliding word n-gram build are the native
  // codegen kernels `run_stats` / `word_ngrams` (functions/TextKernels
  // .scala) — the SQL `aggregate`-lambda and `transform(sequence(…))`
  // formulations they replaced evaluate interpreted, which cost ~3× on
  // these per-word projections. The DuckDB oracles pin the shared
  // semantics.
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextKernels.register(spark)
    val d = withWords(Tables.documents(spark, dir))
      .withColumn("__n", size(col("__w")).cast("long"))
      .withColumn("__ws", expr("run_stats(__w)"))
      .withColumn("__g2",
        when(col("__n") >= 2, expr("word_ngrams(__w, 2)"))
          .otherwise(array().cast("array<string>")))
      .withColumn("__g2s", expr("run_stats(__g2)"))
      .withColumn("__g3",
        when(col("__n") >= 3, expr("word_ngrams(__w, 3)"))
          .otherwise(array().cast("array<string>")))
      .withColumn("__g3s", expr("run_stats(__g3)"))
    d.select(
      col("doc_id"), col("__n").as("n_words"),
      col("__ws.nd").as("n_distinct"),
      (col("__ws.nd").cast("double") / col("__n")).as("distinct_ratio"),
      col("__ws.mx").as("top_word_count"),
      (col("__ws.mx").cast("double") / col("__n")).as("top_word_frac"),
      when(size(col("__g2")) === 0, 0.0)
        .otherwise(col("__g2s.mx").cast("double") / size(col("__g2")))
        .as("top_bigram_frac"),
      // (max − 1)/count: zero for any repetition-free doc regardless of
      // length — the raw fraction is 1/(n−1) even with no repetition, which
      // would auto-filter every short doc
      when(size(col("__g2")) === 0, 0.0)
        .otherwise((col("__g2s.mx") - 1).cast("double") / size(col("__g2")))
        .as("excess_bigram_frac"),
      when(size(col("__g3")) === 0, 0.0)
        .otherwise(col("__g3s.dup").cast("double") / size(col("__g3")))
        .as("dup_trigram_frac"))
      .withColumn("is_kept",
        col("distinct_ratio") >= 0.2 && col("top_word_frac") <= 0.2 &&
          col("excess_bigram_frac") <= 0.1 && col("dup_trigram_frac") <= 0.3)
  }

  def repetitionFilterOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |), s AS (
      |  SELECT doc_id, len(w) AS n,
      |    list_transform(list_distinct(w), u -> len(list_filter(w, x -> x = u))) AS wc,
      |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
      |      i -> concat_ws(' ', w[i], w[i+1])) ELSE []::VARCHAR[] END AS g2,
      |    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
      |      i -> concat_ws(' ', w[i], w[i+1], w[i+2])) ELSE []::VARCHAR[] END AS g3
      |  FROM t
      |), c AS (
      |  SELECT doc_id, n, wc, g2, g3,
      |    list_transform(list_distinct(g2), u -> len(list_filter(g2, x -> x = u))) AS g2c,
      |    list_transform(list_distinct(g3), u -> len(list_filter(g3, x -> x = u))) AS g3c
      |  FROM s
      |), f AS (
      |  SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      |    CAST(len(wc) AS BIGINT) AS n_distinct,
      |    CAST(len(wc) AS DOUBLE) / n AS distinct_ratio,
      |    CAST(list_max(wc) AS BIGINT) AS top_word_count,
      |    CAST(list_max(wc) AS DOUBLE) / n AS top_word_frac,
      |    CASE WHEN len(g2) = 0 THEN 0.0
      |         ELSE CAST(list_max(g2c) AS DOUBLE) / len(g2) END AS top_bigram_frac,
      |    CASE WHEN len(g2) = 0 THEN 0.0
      |         ELSE CAST(list_max(g2c) - 1 AS DOUBLE) / len(g2) END AS excess_bigram_frac,
      |    CASE WHEN len(g3) = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(g3c,
      |                c -> CASE WHEN c > 1 THEN c ELSE 0 END)) AS DOUBLE) / len(g3)
      |    END AS dup_trigram_frac
      |  FROM c
      |)
      |SELECT *,
      |  distinct_ratio >= 0.2 AND top_word_frac <= 0.2
      |    AND excess_bigram_frac <= 0.1 AND dup_trigram_frac <= 0.3 AS is_kept
      |FROM f""".stripMargin

  // -------------------------------------------------------------- packing

  /** GPT-style sequence packing: concatenate the token stream in doc-id
    * order and cut it into fixed `budget`-token blocks; report per-block
    * document spans and utilization. This is the packing accountant a
    * pretraining data loader needs — which docs land in which block, how
    * many are cut at block boundaries, how full the final block is.
    *
    * Scale shape: the token-offset prefix sum is RankOps.withGlobalCumSum
    * (range repartition, a partition-local running sum plus ≤ #partitions
    * broadcast offsets — no window and no re-exchange of the frame after
    * the range shuffle); each doc then explodes
    * into only the blocks it overlaps (≤ tokens/budget + 1 rows), and one
    * grouped aggregate on block id builds the report. */
  def sequencePacking(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val b = lit(budget.toLong)
    val toks = withWords(Tables.documents(spark, dir))
      .select(col("doc_id"), size(col("__w")).cast("long").as("__nt"))
      .filter(col("__nt") > 0)
    val cum = RankOps.withGlobalCumSum(toks, "__cum", col("__nt"), Seq(col("doc_id").asc))
      .withColumn("__st", col("__cum") - col("__nt"))
    val spans = cum.select(
      col("doc_id"), col("__st"), col("__cum"),
      explode(expr(s"sequence(__st div ${budget}L, (__cum - 1) div ${budget}L)"))
        .as("pack_id"))
    spans.groupBy(col("pack_id"))
      .agg(
        countAll.as("n_docs"),
        sum(least(col("__cum"), (col("pack_id") + 1) * b)
          - greatest(col("__st"), col("pack_id") * b)).cast("long").as("n_tokens"),
        sum(when(col("__st") < col("pack_id") * b || col("__cum") > (col("pack_id") + 1) * b, 1L)
          .otherwise(0L)).cast("long").as("n_split_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("utilization", col("n_tokens").cast("double") / budget.toDouble)
  }

  def sequencePackingOracle: String =
    """WITH t AS (
      |  SELECT doc_id, len(string_split_regex(lower(trim(text)), '\s+')) AS nt FROM documents
      |), c AS (
      |  SELECT doc_id, nt,
      |    CAST(SUM(nt) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum
      |  FROM t WHERE nt > 0
      |), e AS (
      |  SELECT doc_id, cum - nt AS st, cum,
      |    unnest(generate_series((cum - nt) // 256, (cum - 1) // 256)) AS pack_id
      |  FROM c
      |)
      |SELECT CAST(pack_id AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(least(cum, (pack_id + 1) * 256) - greatest(st, pack_id * 256)) AS BIGINT)
      |    AS n_tokens,
      |  CAST(SUM(CASE WHEN st < pack_id * 256 OR cum > (pack_id + 1) * 256 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_split_docs,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
      |  CAST(SUM(least(cum, (pack_id + 1) * 256) - greatest(st, pack_id * 256)) AS DOUBLE)
      |    / 256.0 AS utilization
      |FROM e GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- mixing

  /** Source-mixture weighting: per-source token mass and the sampling
    * weight that flattens the mixture to uniform-over-sources — the knob a
    * pretraining run turns to up/down-weight domains. One grouped aggregate
    * plus a broadcast 1-row total; weight = total / (k · source_tokens) is
    * a single IEEE division from exact longs. */
  def mixingWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = withWords(Tables.documents(spark, dir))
      .groupBy(col("source"))
      .agg(countAll.as("n_docs"), sum(size(col("__w")).cast("long")).as("n_tokens"))
    val totals = broadcast(perSrc.agg(
      sum(col("n_tokens")).as("__tt"), countAll.as("__k")))
    perSrc.crossJoin(totals)
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("__tt")).as("token_share"),
        (col("__tt").cast("double") / (col("__k") * col("n_tokens"))).as("mix_weight"))
  }

  def mixingWeightsOracle: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt, COUNT(*) AS k FROM s
      |)
      |SELECT source, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / tt AS token_share,
      |  CAST(tt AS DOUBLE) / (k * n_tokens) AS mix_weight
      |FROM s, t""".stripMargin

  // --------------------------------------------------------- corpus stats

  /** Dataset-card rollup: per (source, lang) cell — document/token/char/
    * byte masses, tokens per document, bytes per token (the tokenizer-
    * fertility proxy that decides a token budget), and the cell's share of
    * the corpus token mass. The first page of every dataset card, as one
    * query.
    *
    * Scale shape: ONE grouped aggregate to a #sources×#langs-row frame plus
    * a broadcast 1-row total; every ratio is a single IEEE division of
    * exact longs. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val cells = withWords(Tables.documents(spark, dir))
      .groupBy(col("source"), col("lang"))
      .agg(
        countAll.as("n_docs"),
        sum(size(col("__w")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
    val total = broadcast(cells.agg(sum(col("n_tokens")).as("__tt")))
    cells.crossJoin(total)
      .select(
        col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_bytes"),
        (col("n_tokens").cast("double") / col("n_docs")).as("tokens_per_doc"),
        (col("n_bytes").cast("double") / col("n_tokens")).as("bytes_per_token"),
        (col("n_tokens").cast("double") / col("__tt")).as("token_share"))
  }

  def corpusStatsOracle: String =
    """WITH c AS (
      |  SELECT source, lang, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(len(text)) AS BIGINT) AS n_chars,
      |    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes
      |  FROM documents GROUP BY 1, 2
      |), t AS (
      |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM c
      |)
      |SELECT source, lang, n_docs, n_tokens, n_chars, n_bytes,
      |  CAST(n_tokens AS DOUBLE) / n_docs AS tokens_per_doc,
      |  CAST(n_bytes AS DOUBLE) / n_tokens AS bytes_per_token,
      |  CAST(n_tokens AS DOUBLE) / tt AS token_share
      |FROM c, t""".stripMargin

  // ---------------------------------------------------------- strat sample

  /** Budget for [[stratifiedSample]]: total docs across all strata. */
  val SampleBudget = 200L

  /** Per-stratum floor: even a tiny source contributes this many docs. */
  val SampleFloor = 5L

  /** Stratified eval-set sampling: allocate a fixed document budget over
    * source strata proportionally to stratum size with a minimum floor
    * (quota_s = max(floor, B·n_s div N) — integer arithmetic, portable),
    * then take each stratum's quota deterministically by md5 rank. How an
    * eval slice gets drawn so every domain is represented but big domains
    * don't drown the budget.
    *
    * Scale shape: the per-stratum rank is the classBalance recipe —
    * RankOps' grouped rank over (source; hash, id); a
    * `Window.partitionBy(source)` would collapse each stratum onto one
    * thread at corpus scale. Quotas are a projection of the rank's group
    * count and N, the corpus count (driver-side). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(
      col("doc_id"), col("source"),
      md5(concat(lit("ss:"), col("doc_id").cast("string"))).as("__hk"))
    val n = keyed.count()
    RankOps.withGroupedRank(keyed, "strat_rank", Seq("source"), Seq(col("__hk"), col("doc_id")),
        countCol = Some("__c"))
      .withColumn("quota", greatest(lit(SampleFloor), expr(s"${SampleBudget}L * __c div ${n}L")))
      .withColumn("is_sampled", col("strat_rank") <= col("quota"))
      .select("doc_id", "source", "strat_rank", "quota", "is_sampled")
  }

  def stratifiedSampleOracle: String =
    s"""WITH k AS (
       |  SELECT doc_id, source,
       |    md5('ss:' || CAST(doc_id AS VARCHAR)) AS hk
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT)
       |      AS strat_rank
       |  FROM k
       |), q AS (
       |  SELECT source,
       |    greatest($SampleFloor, $SampleBudget * COUNT(*) //
       |      (SELECT COUNT(*) FROM k)) AS quota
       |  FROM k GROUP BY source
       |)
       |SELECT doc_id, r.source, strat_rank, quota, strat_rank <= quota AS is_sampled
       |FROM r JOIN q ON r.source = q.source""".stripMargin

  // -------------------------------------------------------------- shuffle

  /** Deterministic global training shuffle: order the corpus by
    * md5(doc_id), assign each document a shuffle position, and deal
    * positions round-robin into `nShards` data-loader shards. The
    * reproducible shuffle every pretraining run needs — same corpus, same
    * shard files, byte-for-byte, on any engine.
    *
    * Scale shape: the shuffle position is RankOps' range-repartitioned
    * global rank (a distributed sort on the hash key — no single-partition
    * window), and the shard/offset math is a row-local projection on top.
    * Round-robin dealing makes every shard the same size ±1 regardless of
    * corpus skew. */
  def trainingShuffle(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val keyed = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      md5(col("doc_id").cast("string")).as("__hk"))
    RankOps.withGlobalRank(keyed, "__r", Seq(col("__hk").asc, col("doc_id").asc))
      .select(
        col("doc_id"), col("lang"), col("source"),
        (col("__r") - 1).cast("long").as("shuffle_pos"),
        ((col("__r") - 1) % nShards).cast("long").as("shard_id"),
        expr(s"(__r - 1) div ${nShards}L").cast("long").as("shard_offset"))
  }

  def trainingShuffleOracle: String =
    """WITH r AS (
      |  SELECT doc_id, lang, source,
      |    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
      |      AS BIGINT) AS shuffle_pos
      |  FROM documents
      |)
      |SELECT doc_id, lang, source, shuffle_pos,
      |  shuffle_pos % 16 AS shard_id, shuffle_pos // 16 AS shard_offset
      |FROM r""".stripMargin

  // ---------------------------------------------------------- temperature

  /** Language temperature resampling (the multilingual-pretraining mixture
    * flattener): per-language keep probability sqrt(min_tokens / tokens) —
    * i.e. sampling weight ∝ share^(α−1) at α = 0.5, which moves every
    * language's token mass to the geometric mean of itself and the smallest
    * language. The per-document keep decision is a salted md5 bucket
    * compared against the language's keep probability — deterministic,
    * engine-portable, and independent of the split hash (different salt).
    * α is pinned at 0.5 because sqrt is correctly rounded in IEEE 754 —
    * pow(x, 0.3) is not bitwise-portable across engines, sqrt is.
    *
    * Scale shape: one grouped aggregate to the ≤ #languages-row frame, a
    * broadcast of that frame plus its 1-row min, and a row-local keep
    * decision — the 100 TB corpus is never shuffled. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val toks = withWords(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), size(col("__w")).cast("long").as("__nt"))
    val perLang = toks.groupBy("lang").agg(sum(col("__nt")).as("lang_tokens"))
    val minRow = broadcast(perLang.agg(min(col("lang_tokens")).as("__mn")))
    val rates = broadcast(perLang.crossJoin(minRow)
      .select(col("lang"), col("lang_tokens"),
        sqrt(col("__mn").cast("double") / col("lang_tokens")).as("keep_prob")))
    toks.join(rates, "lang")
      .select(
        col("doc_id"), col("lang"), col("lang_tokens"), col("keep_prob"),
        (hashBucket(concat(lit("ts:"), col("doc_id").cast("string")), 65536)
          .cast("double") / 65536.0).as("u"))
      .withColumn("is_kept", col("u") < col("keep_prob"))
  }

  def temperatureSampleOracle: String = {
    val bucket =
      s"""CAST(list_sum(list_transform(range(1, 5), j ->
         |    (strpos('$hexDigits', substring(md5('ts:' || CAST(doc_id AS VARCHAR)), j, 1)) - 1)
         |      * (16.0 ** (4 - j)))) AS BIGINT) % 65536""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
       |  FROM documents
       |), s AS (
       |  SELECT lang, CAST(SUM(nt) AS BIGINT) AS lang_tokens FROM t GROUP BY 1
       |), m AS (
       |  SELECT MIN(lang_tokens) AS mn FROM s
       |), r AS (
       |  SELECT lang, lang_tokens, sqrt(CAST(mn AS DOUBLE) / lang_tokens) AS keep_prob
       |  FROM s, m
       |)
       |SELECT doc_id, t.lang, lang_tokens, keep_prob,
       |  CAST($bucket AS DOUBLE) / 65536.0 AS u,
       |  CAST($bucket AS DOUBLE) / 65536.0 < keep_prob AS is_kept
       |FROM t JOIN r ON t.lang = r.lang""".stripMargin
  }

  // ------------------------------------------------------------- lm score

  /** Char-trigram LM quality score (the CCNet-style "does this look like
    * the corpus" filter, with the corpus itself as the LM training set):
    * build a vocabulary of every character trigram whose corpus-wide count
    * clears a scale-free floor (0.01% of the trigram mass), then score each
    * document by the fraction of its trigram instances found in the
    * vocabulary. Gibberish, encoding junk, and wrong-script text score low;
    * a real deployment swaps the self-trained vocab for one trained on a
    * trusted corpus without changing the plan shape.
    *
    * Scale shape: two passes, like any train-then-score pipeline. Pass 1
    * aggregates exploded trigrams — the result is bounded by charset³, not
    * corpus size, so the vocab frame is always tiny. Pass 2 re-explodes and
    * left-semi joins the vocab (AQE broadcasts it) and reduces back to one
    * row per document. Nothing driver-side, no all-pairs. */
  def lmQualityScore(spark: SparkSession, dir: String): DataFrame = {
    // n_grams is arithmetic (len − 2), not the size of a materialized gram
    // array. The gram build's history is a perf case study: substring(i,3)
    // per index was O(len²) per doc (21 s at sf0.1 under the noop action);
    // the per-char split + interpreted transform fixed the asymptotics but
    // allocated one UTF8String PER CHARACTER; the trigram_keys kernel
    // (functions/TextKernels.scala) is now one compiled pass — same packed
    // 21-bit-per-code-unit long keys, so both gram shuffles move longs and
    // the DuckDB oracle keeps its substr() formulation untouched.
    val d = Tables.documents(spark, dir)
      .withColumn("__c", lower(trim(col("text"))))
      .withColumn("n_grams",
        when(col("__c").isNotNull && length(col("__c")) >= 3,
          (length(col("__c")) - 2).cast("long")).otherwise(0L))
      .select(col("doc_id"), col("__c"), col("n_grams"))
    // explode_outer: dodges InferFiltersFromGenerate duplicating the gram
    // build into a pushed-down filter (see contaminationCheck); the
    // n_grams > 0 pre-filter already guarantees non-empty arrays, so outer
    // emits exactly the same rows
    graft.functions.TextKernels.register(spark)
    val grams = d.filter(col("n_grams") > 0)
      .select(col("doc_id"),
        explode_outer(expr("trigram_keys(__c, n_grams)")).as("g"))
    val total = broadcast(grams.agg(countAll.as("__tot")))
    // floor: 0.01% of the trigram mass, and never below 2 — singleton
    // trigrams (hapax junk) must not self-certify at small corpus sizes
    val vocab = grams.groupBy("g").agg(countAll.as("__c"))
      .crossJoin(total)
      .filter(col("__c") >= greatest(lit(2L), expr("__tot div 10000L")))
      .select("g")
    val hits = grams.join(vocab, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(countAll.as("__hits"))
    d.join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"))
      .withColumn("hit_rate",
        when(col("n_grams") === 0, lit(null).cast("double"))
          .otherwise(col("n_hits").cast("double") / col("n_grams")))
      .withColumn("is_kept", coalesce(col("hit_rate") >= 0.8, lit(false)))
  }

  def lmQualityScoreOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lower(trim(text)) AS c FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(c) - 1), i -> substr(c, i, 3))) AS gr
      |  FROM d WHERE c IS NOT NULL AND len(c) >= 3
      |), tot AS (
      |  SELECT COUNT(*) AS tt FROM g
      |), v AS (
      |  SELECT gr FROM g, tot GROUP BY gr, tt HAVING COUNT(*) >= greatest(2, tt // 10000)
      |), h AS (
      |  SELECT doc_id, COUNT(*) AS hits FROM g WHERE gr IN (SELECT gr FROM v) GROUP BY 1
      |), n AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN c IS NOT NULL AND len(c) >= 3 THEN len(c) - 2 ELSE 0 END AS BIGINT)
      |      AS n_grams
      |  FROM d
      |)
      |SELECT n.doc_id, n_grams, coalesce(hits, 0) AS n_hits,
      |  CASE WHEN n_grams = 0 THEN NULL
      |       ELSE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams END AS hit_rate,
      |  coalesce((CASE WHEN n_grams = 0 THEN NULL
      |                 ELSE CAST(coalesce(hits, 0) AS DOUBLE) / n_grams END) >= 0.8,
      |           false) AS is_kept
      |FROM n LEFT JOIN h ON n.doc_id = h.doc_id""".stripMargin

  // --------------------------------------------------------------- funnel

  /** Curation-funnel accounting: apply the row-local keep rules in pipeline
    * order and report, per stage, how many documents entered, dropped, and
    * survived — the "where did my corpus go" report every curation run
    * ships with. Stages: minimum length (≥ 10 tokens), repetition
    * (distinct-word ratio ≥ 0.2 AND top-word fraction ≤ 0.2, the
    * repetitionFilter rules), stopword quality (quality_score ≥ 0.5, the
    * textStats formula), symbol load (non-alphanumeric-non-space chars
    * ≤ 30%). Decontamination is deliberately absent: it is a separate
    * join-shaped stage (contaminationCheck), while this funnel is the
    * row-local ladder.
    *
    * Scale shape: every rule is computed inside the row (one codegen'd
    * projection), the funnel is ONE aggregate of running-AND sums, and the
    * per-stage rows explode from that single aggregate row — corrPairs'
    * explode-of-structs pattern. No joins, no windows, one shuffle of five
    * longs. */
  /** Per-doc running-AND funnel flags k1..k4 (the row-local keep ladder) —
    * shared by [[curationFunnel]] (stage accounting), [[curatedCorpus]]
    * (the emission), and `streaming.StreamOps.curationStream` (a pure
    * projection, so it applies to an unbounded stream with zero state). */
  def funnelFlagsOf(docs: DataFrame): DataFrame = {
    graft.functions.TextKernels.register(docs.sparkSession)
    val d = withWords(docs)
      .withColumn("__n", size(col("__w")).cast("long"))
      .withColumn("__ws", expr("run_stats(__w)"))
      .withColumn("__stop", graft.functions.CountIn.of(docs.sparkSession, col("__w"), enStop))
      .withColumn("__sym",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("long"))
      .withColumn("__len", length(col("text")).cast("long"))
    d.withColumn("k1", col("__n") >= 10)
      .withColumn("k2", col("k1") &&
        col("__ws.nd").cast("double") / col("__n") >= 0.2 &&
        col("__ws.mx").cast("double") / col("__n") <= 0.2)
      .withColumn("k3", col("k2") &&
        least(lit(1.0), col("__n").cast("double") / 100.0) * 0.5 +
          when(col("__n") === 0, 0.0)
            .otherwise(least(lit(1.0), lit(4.0) * col("__stop") / col("__n")) * 0.5) >= 0.5)
      .withColumn("k4", col("k3") &&
        col("__sym").cast("double") / col("__len") <= 0.3)
  }

  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val flagged = funnelFlagsOf(Tables.documents(spark, dir))
    val agg = flagged.agg(
      countAll.as("n0"),
      sum(when(col("k1"), 1L).otherwise(0L)).cast("long").as("n1"),
      sum(when(col("k2"), 1L).otherwise(0L)).cast("long").as("n2"),
      sum(when(col("k3"), 1L).otherwise(0L)).cast("long").as("n3"),
      sum(when(col("k4"), 1L).otherwise(0L)).cast("long").as("n4"))
    val stages = Seq(
      (1, "min_length", "n0", "n1"), (2, "repetition", "n1", "n2"),
      (3, "stopword_quality", "n2", "n3"), (4, "symbol_load", "n3", "n4"))
    val rows = stages.map { case (i, name, in, out) =>
      struct(lit(i).as("stage"), lit(name).as("rule"),
        col(in).as("n_in"), (col(in) - col(out)).as("n_dropped"), col(out).as("n_out"),
        (when(col(in) === 0, 0.0)
          .otherwise((col(in) - col(out)).cast("double") / col(in))).as("drop_frac"))
    }
    agg.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  def curationFunnelOracle: String = {
    val stages = Seq(
      (1, "min_length", "n0", "n1"), (2, "repetition", "n1", "n2"),
      (3, "stopword_quality", "n2", "n3"), (4, "symbol_load", "n3", "n4"))
    val unioned = stages.map { case (i, name, in, out) =>
      s"""SELECT $i AS stage, '$name' AS rule, $in AS n_in, $in - $out AS n_dropped,
         |  $out AS n_out,
         |  CASE WHEN $in = 0 THEN 0.0 ELSE CAST($in - $out AS DOUBLE) / $in END AS drop_frac
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), f AS (
       |  SELECT
       |    CAST(len(w) AS BIGINT) AS n,
       |    list_transform(list_distinct(w), u -> len(list_filter(w, x -> x = u))) AS wc,
       |    CAST(len(list_filter(w, x -> x IN (${sqlList(enStop)}))) AS BIGINT) AS stop,
       |    CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS sym,
       |    CAST(len(text) AS BIGINT) AS ln
       |  FROM t
       |), kf AS (
       |  SELECT *,
       |    coalesce(n >= 10, false) AS k1,
       |    coalesce(n >= 10 AND CAST(len(wc) AS DOUBLE) / n >= 0.2
       |      AND CAST(list_max(wc) AS DOUBLE) / n <= 0.2, false) AS k2
       |  FROM f
       |), kq AS (
       |  SELECT *,
       |    coalesce(k2 AND least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.5 +
       |      (CASE WHEN n = 0 THEN 0.0
       |            ELSE least(1.0, 4.0 * stop / n) * 0.5 END) >= 0.5, false) AS k3
       |  FROM kf
       |), ks AS (
       |  SELECT *, coalesce(k3 AND CAST(sym AS DOUBLE) / ln <= 0.3, false) AS k4 FROM kq
       |), a AS (
       |  SELECT COUNT(*) AS n0,
       |    CAST(SUM(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(SUM(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM ks
       |)
       |$unioned""".stripMargin
  }

  // ------------------------------------------------------ curated corpus

  /** The end-to-end curation emission as ONE Spark plan: a document makes
    * the final training corpus iff it (a) survives the row-local funnel
    * ladder (k4), (b) is not benchmark-contaminated (> 20% distinct-5-gram
    * overlap with the eval slice — which is itself excluded), and (c) keeps
    * ≤ 50% duplicated tokens; what it emits is the SPAN-CLEANED text (the
    * Lee-et-al. removal), i.e. exactly what a pretraining run would feed
    * the tokenizer.
    *
    * Scale shape: three doc-keyed frames — a pure projection (flags), a
    * gram-keyed semi-join rollup (contamination), and the island pipeline
    * (span removal) — combined with doc-keyed joins; nothing new beyond
    * the constituent stages' own shuffles, and the final filter prunes
    * before the wide cleaned_text column moves anywhere. */
  def curatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val flags = funnelFlagsOf(Tables.documents(spark, dir)).select(col("doc_id"), col("k4"))
    val contam = contaminationCheck(spark, dir)
      .select(col("doc_id"), col("is_contaminated"))
    val cleaned = graft.dedup.DupSpans.spanRemoval(spark, dir)
    cleaned
      .join(flags, "doc_id")
      .join(contam, "doc_id") // inner: drops the eval slice from the corpus
      .filter(col("k4") && !col("is_contaminated") &&
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_removed").cast("double") / col("n_tokens"))
          <= graft.dedup.DupSpans.KeepFrac)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("n_tokens") - col("n_removed")).as("n_tokens_out"),
        col("cleaned_text"))
  }

  def curatedCorpusOracle: String = {
    s"""WITH d0 AS (
       |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), n AS (
       |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nt FROM d0
       |), ff AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n,
       |    list_transform(list_distinct(w), u -> len(list_filter(w, x -> x = u))) AS wc,
       |    CAST(len(list_filter(w, x -> x IN (${sqlList(enStop)}))) AS BIGINT) AS stop,
       |    CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS sym,
       |    CAST(len(text) AS BIGINT) AS ln
       |  FROM d0
       |), k AS (
       |  SELECT doc_id,
       |    coalesce(n >= 10
       |      AND CAST(len(wc) AS DOUBLE) / n >= 0.2
       |      AND CAST(list_max(wc) AS DOUBLE) / n <= 0.2
       |      AND least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.5 +
       |        (CASE WHEN n = 0 THEN 0.0 ELSE least(1.0, 4.0 * stop / n) * 0.5 END) >= 0.5
       |      AND CAST(sym AS DOUBLE) / ln <= 0.3, false) AS k4
       |  FROM ff
       |), cg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
       |      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))
       |    ELSE []::VARCHAR[] END AS grams
       |  FROM d0
       |), eg AS (
       |  SELECT DISTINCT unnest(grams) AS gr FROM cg WHERE doc_id % 97 = 0
       |), cc AS (
       |  SELECT doc_id, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(grams) AS gr FROM cg WHERE doc_id % 97 <> 0) cx
       |  WHERE gr IN (SELECT gr FROM eg) GROUP BY 1
       |), contam AS (
       |  SELECT g.doc_id,
       |    (CASE WHEN len(grams) = 0 THEN 0.0
       |          ELSE CAST(coalesce(c, 0) AS DOUBLE) / len(grams) END) > 0.2 AS is_cont
       |  FROM cg g LEFT JOIN cc ON g.doc_id = cc.doc_id
       |  WHERE g.doc_id % 97 <> 0
       |), ${graft.dedup.DupSpans.spanRemovalCtes}
       |SELECT sr.doc_id, nt AS n_tokens, nrem AS n_removed,
       |  nt - nrem AS n_tokens_out, ct AS cleaned_text
       |FROM sr
       |JOIN k ON k.doc_id = sr.doc_id
       |JOIN contam ON contam.doc_id = sr.doc_id
       |WHERE k.k4 AND NOT contam.is_cont
       |  AND (CASE WHEN nt = 0 THEN 0.0
       |            ELSE CAST(nrem AS DOUBLE) / nt END) <= ${graft.dedup.DupSpans.KeepFrac}""".stripMargin
  }

  // ------------------------------------------------------- dataset card

  /** The POST-curation dataset card: per (source, lang) cell, the raw and
    * surviving document/token masses plus a per-stage drop ledger — how
    * many documents each curation stage removed (the four row-local funnel
    * rules, the eval holdout, contamination, the dup-span budget) — and
    * the cell's share of the CURATED token mass. [[corpusStats]] profiles
    * the raw corpus; this is the artifact a training-data team ships with
    * the cleaned corpus: curatedCorpus's decision ladder, accounted per
    * cell. Every count is an exact long; every rate is one IEEE division.
    *
    * Scale shape: reuses the three constituent per-doc frames (funnel
    * flags = pure projection, contamination = gram-keyed semi-join, span
    * removal = island pipeline) with doc-keyed joins, then ONE grouped
    * aggregate to a #sources×#langs-row frame plus a broadcast 1-row
    * curated-token total — nothing beyond the constituent stages' own
    * shuffles, and no wide text column ever reaches the aggregate. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("lang"))
    val flags = funnelFlagsOf(Tables.documents(spark, dir))
      .select(col("doc_id"), col("k1"), col("k2"), col("k3"), col("k4"))
    val contam = contaminationCheck(spark, dir)
      .select(col("doc_id"), col("is_contaminated"))
    val sr = graft.dedup.DupSpans.spanRemoval(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"))
    val perDoc = docs.join(flags, "doc_id").join(sr, "doc_id")
      .join(contam, Seq("doc_id"), "left") // eval docs carry null is_contaminated
      .withColumn("is_eval", col("doc_id") % 97 === 0)
      .withColumn("over_dup",
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_removed").cast("double") / col("n_tokens"))
          > graft.dedup.DupSpans.KeepFrac)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L)).cast("long")
    val kept = col("k4") && !col("is_eval") && !col("is_contaminated") && !col("over_dup")
    val cells = perDoc.groupBy(col("source"), col("lang")).agg(
      countAll.as("n_docs_raw"),
      cnt(!col("k1")).as("d_min_length"),
      cnt(col("k1") && !col("k2")).as("d_repetition"),
      cnt(col("k2") && !col("k3")).as("d_stopword_quality"),
      cnt(col("k3") && !col("k4")).as("d_symbol_load"),
      cnt(col("k4") && col("is_eval")).as("d_eval_holdout"),
      cnt(col("k4") && !col("is_eval") && col("is_contaminated")).as("d_contaminated"),
      cnt(col("k4") && !col("is_eval") && !col("is_contaminated") && col("over_dup"))
        .as("d_dup_span"),
      cnt(kept).as("n_docs_kept"),
      sum(col("n_tokens")).cast("long").as("n_tokens_raw"),
      sum(when(kept, col("n_tokens") - col("n_removed")).otherwise(0L))
        .cast("long").as("n_tokens_kept"))
    val total = broadcast(cells.agg(sum(col("n_tokens_kept")).as("__tt")))
    cells.crossJoin(total).select(
      col("source"), col("lang"), col("n_docs_raw"),
      col("d_min_length"), col("d_repetition"), col("d_stopword_quality"),
      col("d_symbol_load"), col("d_eval_holdout"), col("d_contaminated"),
      col("d_dup_span"), col("n_docs_kept"),
      col("n_tokens_raw"), col("n_tokens_kept"),
      (col("n_docs_kept").cast("double") / col("n_docs_raw")).as("doc_keep_rate"),
      when(col("n_tokens_raw") === 0, 0.0)
        .otherwise(col("n_tokens_kept").cast("double") / col("n_tokens_raw"))
        .as("token_keep_rate"),
      when(col("__tt") === 0, 0.0)
        .otherwise(col("n_tokens_kept").cast("double") / col("__tt"))
        .as("token_share"))
  }

  /** Oracle: the curatedCorpus replay chain (stagewise funnel flags kept
    * per doc, the contamination gram chain, the span-removal CTEs), then
    * the same per-cell ledger. CTE names avoid spanRemovalCtes' g/dup/sp/
    * isl/ia/tk/kk/cl/sr and the contamination chain's cg/eg/cc/contam. */
  def datasetCardOracle: String = {
    val keep = s"""k4 AND NOT is_eval AND NOT coalesce(is_cont, false)
       | AND NOT ((CASE WHEN nt = 0 THEN 0.0 ELSE CAST(nrem AS DOUBLE) / nt END)
       |          > ${graft.dedup.DupSpans.KeepFrac})""".stripMargin.replace("\n", " ")
    s"""WITH d0 AS (
       |  SELECT doc_id, source, lang, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), n AS (
       |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nt FROM d0
       |), ff AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS fn,
       |    list_transform(list_distinct(w), u -> len(list_filter(w, x -> x = u))) AS wc,
       |    CAST(len(list_filter(w, x -> x IN (${sqlList(enStop)}))) AS BIGINT) AS stop,
       |    CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS sym,
       |    CAST(len(text) AS BIGINT) AS ln
       |  FROM d0
       |), k12 AS (
       |  SELECT doc_id, fn, stop, sym, ln,
       |    coalesce(fn >= 10, false) AS k1,
       |    coalesce(fn >= 10 AND CAST(len(wc) AS DOUBLE) / fn >= 0.2
       |      AND CAST(list_max(wc) AS DOUBLE) / fn <= 0.2, false) AS k2
       |  FROM ff
       |), k3s AS (
       |  SELECT *,
       |    coalesce(k2 AND least(1.0, CAST(fn AS DOUBLE) / 100.0) * 0.5 +
       |      (CASE WHEN fn = 0 THEN 0.0
       |            ELSE least(1.0, 4.0 * stop / fn) * 0.5 END) >= 0.5, false) AS k3
       |  FROM k12
       |), k4s AS (
       |  SELECT doc_id, k1, k2, k3,
       |    coalesce(k3 AND CAST(sym AS DOUBLE) / ln <= 0.3, false) AS k4
       |  FROM k3s
       |), cg AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(range(1, len(w) - 3),
       |      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))
       |    ELSE []::VARCHAR[] END AS grams
       |  FROM d0
       |), eg AS (
       |  SELECT DISTINCT unnest(grams) AS gr FROM cg WHERE doc_id % 97 = 0
       |), cc AS (
       |  SELECT doc_id, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(grams) AS gr FROM cg WHERE doc_id % 97 <> 0) cx
       |  WHERE gr IN (SELECT gr FROM eg) GROUP BY 1
       |), contam AS (
       |  SELECT g.doc_id,
       |    (CASE WHEN len(grams) = 0 THEN 0.0
       |          ELSE CAST(coalesce(c, 0) AS DOUBLE) / len(grams) END) > 0.2 AS is_cont
       |  FROM cg g LEFT JOIN cc ON g.doc_id = cc.doc_id
       |  WHERE g.doc_id % 97 <> 0
       |), ${graft.dedup.DupSpans.spanRemovalCtes}
       |, pd AS (
       |  SELECT d0.doc_id, d0.source, d0.lang, k1, k2, k3, k4,
       |    d0.doc_id % 97 = 0 AS is_eval, contam.is_cont, sr.nt, sr.nrem
       |  FROM d0
       |  JOIN k4s ON d0.doc_id = k4s.doc_id
       |  JOIN sr ON d0.doc_id = sr.doc_id
       |  LEFT JOIN contam ON d0.doc_id = contam.doc_id
       |), cells AS (
       |  SELECT source, lang, COUNT(*) AS n_docs_raw,
       |    CAST(SUM(CASE WHEN NOT k1 THEN 1 ELSE 0 END) AS BIGINT) AS d_min_length,
       |    CAST(SUM(CASE WHEN k1 AND NOT k2 THEN 1 ELSE 0 END) AS BIGINT) AS d_repetition,
       |    CAST(SUM(CASE WHEN k2 AND NOT k3 THEN 1 ELSE 0 END) AS BIGINT) AS d_stopword_quality,
       |    CAST(SUM(CASE WHEN k3 AND NOT k4 THEN 1 ELSE 0 END) AS BIGINT) AS d_symbol_load,
       |    CAST(SUM(CASE WHEN k4 AND is_eval THEN 1 ELSE 0 END) AS BIGINT) AS d_eval_holdout,
       |    CAST(SUM(CASE WHEN k4 AND NOT is_eval AND is_cont THEN 1 ELSE 0 END) AS BIGINT) AS d_contaminated,
       |    CAST(SUM(CASE WHEN k4 AND NOT is_eval AND NOT is_cont
       |      AND (CASE WHEN nt = 0 THEN 0.0 ELSE CAST(nrem AS DOUBLE) / nt END)
       |          > ${graft.dedup.DupSpans.KeepFrac} THEN 1 ELSE 0 END) AS BIGINT) AS d_dup_span,
       |    CAST(SUM(CASE WHEN $keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       |    CAST(SUM(nt) AS BIGINT) AS n_tokens_raw,
       |    CAST(SUM(CASE WHEN $keep THEN nt - nrem ELSE 0 END) AS BIGINT) AS n_tokens_kept
       |  FROM pd GROUP BY 1, 2
       |), tt AS (
       |  SELECT CAST(SUM(n_tokens_kept) AS BIGINT) AS tot FROM cells
       |)
       |SELECT source, lang, n_docs_raw, d_min_length, d_repetition,
       |  d_stopword_quality, d_symbol_load, d_eval_holdout, d_contaminated,
       |  d_dup_span, n_docs_kept, n_tokens_raw, n_tokens_kept,
       |  CAST(n_docs_kept AS DOUBLE) / n_docs_raw AS doc_keep_rate,
       |  CASE WHEN n_tokens_raw = 0 THEN 0.0
       |       ELSE CAST(n_tokens_kept AS DOUBLE) / n_tokens_raw END AS token_keep_rate,
       |  CASE WHEN tot = 0 THEN 0.0
       |       ELSE CAST(n_tokens_kept AS DOUBLE) / tot END AS token_share
       |FROM cells, tt""".stripMargin
  }
}
