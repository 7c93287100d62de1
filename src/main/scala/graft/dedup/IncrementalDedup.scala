package graft.dedup

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (new-batch-vs-corpus) deduplication — the shape every
  * continuously-crawled corpus needs: the nightly batch must dedup against
  * the existing corpus WITHOUT re-deduping the corpus against itself.
  * Reference analog: none (its dedup is whole-corpus only); beyond-reference
  * LLM-pipeline surface. The batch here is the `src0` slice of `documents`
  * standing in for "the new crawl"; everything else is the settled corpus.
  *
  * Decisions, in precedence order:
  *   - `drop_exact`     — the batch document's content hash already exists
  *                        in the corpus (keeper = smallest corpus doc_id);
  *   - `drop_batch_dup` — first seen in THIS batch under the same hash
  *                        (keeper = smallest batch doc_id with the hash);
  *   - `keep`           — new content.
  *
  * Scale shape (100 TB corpus, small daily batch): the corpus side reduces
  * to one (hash → min doc_id) aggregate — distinct hashes, not documents —
  * then joins the batch on the hash key; AQE broadcasts the batch side when
  * it is small, and the shuffle formulation stays correct when a backfill
  * makes it huge. Within-batch dedup is a hash-partitioned min window over
  * the batch only. The settled corpus is never self-joined.
  */
object IncrementalDedup {

  val BatchSource = "src0"

  private def hashed(df: DataFrame): DataFrame =
    df.withColumn("content_hash",
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = hashed(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), col("content_hash"))
    val batch = docs.filter(col("source") === BatchSource)
    val corpusKeepers = docs.filter(col("source") =!= BatchSource)
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("corpus_keeper_id"))
    val w = Window.partitionBy(col("content_hash"))
    val out = batch
      .withColumn("batch_keeper_id", min(col("doc_id")).over(w))
      .join(corpusKeepers, Seq("content_hash"), "left")
      .withColumn("decision",
        when(col("corpus_keeper_id").isNotNull, "drop_exact")
          .when(col("batch_keeper_id") < col("doc_id"), "drop_batch_dup")
          .otherwise("keep"))
      .withColumn("keeper_id",
        when(col("decision") === "drop_exact", col("corpus_keeper_id"))
          .when(col("decision") === "drop_batch_dup", col("batch_keeper_id"))
          .otherwise(lit(null).cast("long")))
    out.select(col("doc_id"), col("content_hash"), col("decision"), col("keeper_id"))
  }

  /** Incremental NEAR-dup: the nightly batch probed against the settled
    * corpus (and earlier batch docs) through MinHash-LSH buckets, with
    * exact-Jaccard verify on candidates — the near-duplicate sibling of
    * [[incrementalDedup]]. Decisions per batch doc, precedence order:
    * `drop_near_corpus` (jaccard ≥ threshold with ANY corpus doc; keeper =
    * best match by jaccard, tie → min id) > `drop_near_batch` (≥ threshold
    * with a SMALLER-id batch doc) > `keep`.
    *
    * Scale shape (100 TB corpus, small daily batch): the corpus is bucketed
    * once (same banding as the whole-corpus detector — in production those
    * bucket tables are the persisted LSH index and this query's corpus side
    * is a scan of it, not a recompute); the bucket join PROBES batch
    * buckets against the index, so candidate volume is batch-sized ×
    * collision rate — corpus×corpus pairs are never enumerated. Jaccard
    * verify re-attaches shingles only for candidate ids. */
  def incrementalNearDup(spark: SparkSession, dir: String,
                         threshold: Double = 0.8, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val docs = Tables.documents(spark, dir)
    // adaptive exact-dup collapse (the dedup_minhash precedent): at a
    // replicated corpus every doc has m verbatim twins on BOTH sides of the
    // probe and the collision-pair set inflates m² — the 1000× probe
    // measured this query at 954.5 s / ~36 GB live shuffle. Collapsing to
    // per-(content, side) representatives bounds the bucket join by
    // distinct content; the fan-back is |batch| rows. Gated on measured
    // duplication so low-dup corpora keep the direct single-pass plan.
    val collapse = threshold <= 1.0 &&
      Collapse.duplicationFactor(docs, Collapse.normHash) >= Collapse.CollapseThreshold
    // the batch's bucket rows number at most bands × |docs|: the same
    // memoized scan bounds them, with no job of its own
    val broadcastProbe = Collapse.rowsAndIdentities(docs, Collapse.normHash)._1 * bands <=
      graft.operators.GraphOps.BroadcastRanksMaxNodes
    if (collapse) incrementalNearDupCollapsed(docs, threshold, numHashes, bands, broadcastProbe)
    else incrementalNearDupDirect(docs, threshold, numHashes, bands, broadcastProbe)
  }

  /** Rep-level probe + member fan-back. Why the fan-back is EXACT (not an
    * approximation): jaccard depends only on (normalized) content, so for a
    * batch doc d in content group G —
    *   - its best corpus match is a property of G alone (per-group struct
    *     max picks the same (jaccard, -min_corpus_id(H)) the per-doc max
    *     picks), so every member inherits the rep's drop_near_corpus
    *     verbatim;
    *   - a non-minimal member always has its group's min batch member as a
    *     jaccard-1.0 candidate, which dominates every cross-group candidate
    *     (1.0 is attainable only within the group), so absent a corpus
    *     match it decides drop_near_batch(keeper = group min, jaccard 1.0)
    *     — exactly the direct path's struct max — unless the content is
    *     shingle-ineligible (<3 tokens), where the direct path has no
    *     candidates at all and the member keeps;
    *   - the min batch member's cross-group batch candidates reduce to
    *     smaller-id batch REPS (per group H the only per-doc winner is
    *     min(H_batch), and it qualifies iff it beats this rep's id), which
    *     is precisely the rep pipeline's candidate filter.
    * Identical content ⇒ identical signatures ⇒ identical banding, so
    * collapse never changes LSH recall either. */
  private[graft] def incrementalNearDupCollapsed(docs: DataFrame, threshold: Double,
                                          numHashes: Int, bands: Int,
                                          broadcastProbe: Boolean = false): DataFrame = {
    val hashed = docs
      .withColumn("h", Collapse.normHash)
      .withColumn("is_batch", col("source") === BatchSource)
      .select("doc_id", "h", "is_batch")
    // side-scoped reps: the min batch id AND the min corpus id per content
    // (membership side is part of the identity — the same content can be
    // both settled corpus and tonight's crawl)
    val reps = hashed.groupBy("h", "is_batch").agg(min("doc_id").as("rep"))
    val members = hashed.join(reps, Seq("h", "is_batch"))
      .select("doc_id", "rep", "is_batch")
      .localCheckpoint(false)
    val repDocs = docs.join(
      members.filter(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
    val repDecisions = incrementalNearDupDirect(repDocs, threshold, numHashes, bands, broadcastProbe)
      .withColumnRenamed("doc_id", "rep")
      .withColumnRenamed("decision", "rep_decision")
      .withColumnRenamed("keeper_id", "rep_keeper")
      .withColumnRenamed("jaccard", "rep_jaccard")
    // twins pair at jaccard 1.0 only if the content shingles at all
    val eligible = MinHashLsh.shingleDocs(repDocs.select("doc_id", "text"))
      .select(col("doc_id").as("rep"), lit(true).as("__elig"))
    members.filter(col("is_batch"))
      .join(repDecisions, "rep")
      .join(eligible, Seq("rep"), "left")
      .withColumn("__is_rep", col("doc_id") === col("rep"))
      .select(
        col("doc_id"),
        when(col("__is_rep") || col("rep_decision") === "drop_near_corpus",
          col("rep_decision"))
          .when(col("__elig"), lit("drop_near_batch"))
          .otherwise(lit("keep")).as("decision"),
        when(col("__is_rep") || col("rep_decision") === "drop_near_corpus",
          col("rep_keeper"))
          .when(col("__elig"), col("rep"))
          .otherwise(lit(null).cast("long")).as("keeper_id"),
        when(col("__is_rep") || col("rep_decision") === "drop_near_corpus",
          col("rep_jaccard"))
          .when(col("__elig"), lit(1.0))
          .otherwise(lit(null).cast("double")).as("jaccard"))
  }

  /** `broadcastProbe` pins the batch buckets as the broadcast side. Left to
    * AQE, a corpus small enough to broadcast races the batch: whichever
    * shuffle stage finishes first is broadcast, so the join's generated
    * class changed from run to run and a warm pass recompiled it. */
  private[graft] def incrementalNearDupDirect(docs: DataFrame, threshold: Double,
                                       numHashes: Int, bands: Int,
                                       broadcastProbe: Boolean = false): DataFrame = {
    val signed = MinHashLsh.withSignatures(MinHashLsh.shingleDocs(docs), numHashes)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .localCheckpoint(false)
    val buckets = bandBuckets(signed, numHashes, bands)
      .select(col("doc_id"), col("source"), col("band"), col("bucket"))
    val probe = buckets.filter(col("source") === BatchSource)
      .select(col("band"), col("bucket"), col("doc_id"))
    val index = buckets
      .select(col("band"), col("bucket"), col("doc_id").as("other_id"),
        (col("source") =!= BatchSource).as("other_is_corpus"))
    val cand = (if (broadcastProbe) broadcast(probe) else probe).join(index, Seq("band", "bucket"))
      .filter(col("other_id") =!= col("doc_id"))
      // a batch doc defers only to EARLIER batch docs (min-id keeper rule);
      // corpus docs match regardless of id
      .filter(col("other_is_corpus") || col("other_id") < col("doc_id"))
      .select("doc_id", "other_id", "other_is_corpus")
      .dropDuplicates("doc_id", "other_id")
    val shA = signed.select(col("doc_id"), col("shingles").as("sh_a"))
    val shB = signed.select(col("doc_id").as("other_id"), col("shingles").as("sh_b"))
    jaccardDecisions(docs.filter(col("source") === BatchSource).select(col("doc_id")),
      cand, shA, shB, threshold)
  }

  /** Band-bucket explode shared by the batch detector and the streaming
    * per-micro-batch probe ([[graft.streaming.StreamingNearDup]]) — sharing
    * the geometry is what makes stream and batch decisions comparable.
    * Keeps the input's columns and adds `band` / `bucket`. */
  private[graft] def bandBuckets(signed: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until r).map(i => col("sig").getItem(b * r + i))
      struct(lit(b).as("band"), xxhash64(concat_ws("|", slice: _*)).as("bucket"))
    }
    signed
      .withColumn("__band", explode(array(bandStructs: _*)))
      .withColumn("band", col("__band.band"))
      .withColumn("bucket", col("__band.bucket"))
      .drop("__band")
  }

  /** Exact-Jaccard verify + decision ladder over LSH candidates, shared by
    * the batch detector and the streaming probe. `cand` carries
    * (doc_id, other_id, other_is_corpus); shingles re-attach per side; best
    * match per (doc, side) is max jaccard with ties to the smaller id — the
    * struct max is (jaccard, -id) lexicographic, deterministic both engines.
    * Output: one row per probe doc — (doc_id, decision, keeper_id, jaccard)
    * with the drop_near_corpus > drop_near_batch > keep precedence. */
  private[graft] def jaccardDecisions(probeDocs: DataFrame, cand: DataFrame,
                                      shA: DataFrame, shB: DataFrame,
                                      threshold: Double): DataFrame = {
    val matches = cand.join(shA, "doc_id").join(shB, "other_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("other_id"), col("other_is_corpus"), col("jaccard"))
    def best(side: DataFrame): DataFrame = side
      .groupBy("doc_id")
      .agg(max(struct(col("jaccard"), (-col("other_id")).as("neg"))).as("__b"))
      .select(col("doc_id"), (-col("__b.neg")).cast("long").as("match_id"),
        col("__b.jaccard").as("match_jaccard"))
    val corpusBest = best(matches.filter(col("other_is_corpus")))
      .withColumnRenamed("match_id", "corpus_id")
      .withColumnRenamed("match_jaccard", "corpus_jaccard")
    val batchBest = best(matches.filter(!col("other_is_corpus")))
      .withColumnRenamed("match_id", "batch_id")
      .withColumnRenamed("match_jaccard", "batch_jaccard")
    probeDocs
      .join(corpusBest, Seq("doc_id"), "left")
      .join(batchBest, Seq("doc_id"), "left")
      .withColumn("decision",
        when(col("corpus_id").isNotNull, "drop_near_corpus")
          .when(col("batch_id").isNotNull, "drop_near_batch")
          .otherwise("keep"))
      .withColumn("keeper_id",
        when(col("corpus_id").isNotNull, col("corpus_id"))
          .otherwise(col("batch_id")))
      .withColumn("jaccard",
        when(col("corpus_id").isNotNull, col("corpus_jaccard"))
          .otherwise(col("batch_jaccard")))
      .select("doc_id", "decision", "keeper_id", "jaccard")
  }

  /** DuckDB twin of [[incrementalNearDup]]: exact inverted-index Jaccard
    * between batch docs and (corpus ∪ earlier batch docs), same decision
    * ladder, window-ranked best match (jaccard DESC, id ASC). */
  def incrementalNearDupOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS toks
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, source, toks FROM t WHERE len(toks) >= 3
       |), sh AS (
       |  SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS sh
       |  FROM e
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT b.doc_id AS bid, a.doc_id AS oid, a.source AS osrc, count(*) AS isect
       |  FROM sh b JOIN sh a ON b.sh = a.sh
       |  WHERE b.source = '$BatchSource' AND a.doc_id <> b.doc_id
       |    AND (a.source <> '$BatchSource' OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2, 3
       |), pairs AS (
       |  SELECT bid, oid, osrc,
       |    CAST(isect AS DOUBLE) / (cb.n + ca.n - isect) AS jaccard
       |  FROM inter
       |  JOIN cnt cb ON bid = cb.doc_id JOIN cnt ca ON oid = ca.doc_id
       |  WHERE CAST(isect AS DOUBLE) / (cb.n + ca.n - isect) >= 0.8
       |), ranked AS (
       |  SELECT bid, oid, osrc, jaccard,
       |    row_number() OVER (PARTITION BY bid, osrc = '$BatchSource'
       |      ORDER BY jaccard DESC, oid ASC) AS rn
       |  FROM pairs
       |), cb AS (
       |  SELECT bid, oid AS corpus_id, jaccard AS corpus_jaccard
       |  FROM ranked WHERE osrc <> '$BatchSource' AND rn = 1
       |), bb AS (
       |  SELECT bid, oid AS batch_id, jaccard AS batch_jaccard
       |  FROM ranked WHERE osrc = '$BatchSource' AND rn = 1
       |)
       |SELECT d.doc_id,
       |  CASE WHEN corpus_id IS NOT NULL THEN 'drop_near_corpus'
       |       WHEN batch_id IS NOT NULL THEN 'drop_near_batch'
       |       ELSE 'keep' END AS decision,
       |  CASE WHEN corpus_id IS NOT NULL THEN corpus_id ELSE batch_id END AS keeper_id,
       |  CASE WHEN corpus_id IS NOT NULL THEN corpus_jaccard
       |       ELSE batch_jaccard END AS jaccard
       |FROM (SELECT doc_id FROM documents WHERE source = '$BatchSource') d
       |LEFT JOIN cb ON d.doc_id = cb.bid
       |LEFT JOIN bb ON d.doc_id = bb.bid""".stripMargin

  def incrementalDedupOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
       |  FROM documents
       |), corpus AS (
       |  SELECT content_hash, MIN(doc_id) AS corpus_keeper_id
       |  FROM h WHERE source <> '$BatchSource' GROUP BY 1
       |), batch AS (
       |  SELECT doc_id, content_hash,
       |    MIN(doc_id) OVER (PARTITION BY content_hash) AS batch_keeper_id
       |  FROM h WHERE source = '$BatchSource'
       |)
       |SELECT doc_id, batch.content_hash,
       |  CASE WHEN corpus_keeper_id IS NOT NULL THEN 'drop_exact'
       |       WHEN batch_keeper_id < doc_id THEN 'drop_batch_dup'
       |       ELSE 'keep' END AS decision,
       |  CASE WHEN corpus_keeper_id IS NOT NULL THEN corpus_keeper_id
       |       WHEN batch_keeper_id < doc_id THEN batch_keeper_id
       |       ELSE NULL END AS keeper_id
       |FROM batch LEFT JOIN corpus ON batch.content_hash = corpus.content_hash""".stripMargin
}
