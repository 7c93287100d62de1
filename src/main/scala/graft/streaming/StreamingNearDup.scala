package graft.streaming

import graft.Tables
import graft.dedup.{IncrementalDedup, MinHashLsh}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming incremental NEAR-dup: the lambda-architecture completion of
  * [[graft.dedup.IncrementalDedup.incrementalNearDup]] — each micro-batch of
  * an unbounded document stream is LSH-probed against a PERSISTED corpus
  * bucket index, decisions land exactly-once via the batchId marker protocol
  * ([[ExactlyOnce]]), and the batch's own buckets/shingles are appended to
  * the index so later micro-batches dedup against earlier ones. Reference
  * analog: none (its dedup is whole-corpus batch only); this is the shape a
  * continuously-crawled 100 TB corpus actually needs — the settled corpus is
  * indexed ONCE, each nightly/streaming slice probes it, and the corpus is
  * never self-joined again.
  *
  * Stream/batch parity: the probe shares the batch detector's signature
  * family (MinHashSig is corpus-independent per doc), band geometry
  * ([[IncrementalDedup.bandBuckets]]), Jaccard verify, and decision ladder
  * ([[IncrementalDedup.jaccardDecisions]]), so when micro-batches arrive in
  * doc_id order the streamed decisions equal the whole-batch run's
  * bit-for-bit (StreamingNearDupSpec pins this). "Earlier arrival wins"
  * replaces "smaller id wins" when arrival order diverges from id order —
  * the only semantic difference, inherent to streaming.
  *
  * Crash safety: per batch the sink writes the decision dir, then the index
  * append dir, then marks index, then marks output (the skip key). A crash
  * between the two markers replays the probe with the batch's own docs
  * already in the index — harmless, because the candidate filter
  * (`other_id =!= doc_id`, batch side `other_id < doc_id`) makes the replay
  * compute identical decisions, and both dirs are overwrite-idempotent.
  *
  * Scale shape per micro-batch: signature/bucket build is batch-sized; the
  * bucket join probes batch buckets against the index (candidates = batch ×
  * collision rate, never index × index); shingles re-attach for candidate
  * ids only. The index grows by one parquet dir per batch — compact it
  * offline by rewriting into `corpus/` whenever dir count matters. Index
  * dirs are read through [[graft.Tables.parquet]], so each dir's schema is
  * inferred once per file listing, not once per later batch.
  */
object StreamingNearDup {

  /** One-time build of the settled-corpus LSH index under `indexDir/corpus`:
    * `buckets` (doc_id, band, bucket) + `shingles` (doc_id, shingles). In
    * production this is the persisted index the nightly batch probe reads;
    * here it seeds the streaming probe. */
  def buildCorpusIndex(corpus: DataFrame, indexDir: String,
                       numHashes: Int = 16, bands: Int = 4): Unit = {
    val signed = MinHashLsh.withSignatures(MinHashLsh.shingleDocs(corpus), numHashes)
      .localCheckpoint(false)
    IncrementalDedup.bandBuckets(signed, numHashes, bands)
      .select("doc_id", "band", "bucket")
      .write.mode("overwrite").parquet(s"$indexDir/corpus/buckets")
    signed.select("doc_id", "shingles")
      .write.mode("overwrite").parquet(s"$indexDir/corpus/shingles")
  }

  private def unionAll(dfs: Seq[DataFrame]): Option[DataFrame] =
    dfs.reduceOption(_.unionByName(_))

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Complete an interrupted [[compactIndex]] swap before any index read.
    * The swap is corpus→__corpus_old, __corpus_staged→corpus, delete
    * __corpus_old; the staged dir is only ever fully written before the
    * first rename, so "corpus missing + staged present" always means the
    * staged copy is the complete new index. Idempotent and cheap (two
    * existence checks) — every probe/compaction entry point calls it. */
  private def recoverCorpus(spark: SparkSession, indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(spark, indexDir)
    val corpus = new Path(s"$indexDir/corpus")
    val staged = new Path(s"$indexDir/__corpus_staged")
    val old = new Path(s"$indexDir/__corpus_old")
    if (!fs.exists(corpus) && fs.exists(staged)) fs.rename(staged, corpus)
    if (fs.exists(corpus) && fs.exists(old)) fs.delete(old, true)
  }

  /** Fold every COMMITTED batch append into `corpus/` and delete the batch
    * dirs — the offline maintenance step that keeps the per-batch dir count
    * (and the probe's union width) bounded on a long-lived stream. Safe
    * against a concurrently-arriving batch: only the dirs listed committed
    * at entry are folded and removed; a batch that commits mid-compaction
    * stays in place for the next pass. Must not run concurrently with a
    * probe (stop the query or run between micro-batches — the standard
    * compaction/ingest exclusion). Semantics: folded batch docs become
    * SETTLED CORPUS — a later batch doc matching one now decides
    * `drop_near_corpus` (any id) instead of `drop_near_batch` (smaller id
    * only), which is exactly what "the nightly crawl settles into the
    * corpus" means. Returns the number of batch dirs folded. */
  def compactIndex(spark: SparkSession, indexDir: String): Int = {
    import org.apache.hadoop.fs.Path
    recoverCorpus(spark, indexDir)
    val committed = ExactlyOnce.committedBatches(spark, indexDir)
    if (committed.isEmpty) return 0
    val corpusB = Tables.parquet(spark, s"$indexDir/corpus/buckets")
    val corpusSh = Tables.parquet(spark, s"$indexDir/corpus/shingles")
    val allB = (corpusB +: committed.map(d => Tables.parquet(spark, s"$d/buckets")))
      .reduce(_.unionByName(_))
    val allSh = (corpusSh +: committed.map(d => Tables.parquet(spark, s"$d/shingles")))
      .reduce(_.unionByName(_))
      .dropDuplicates("doc_id")          // a replayed append may duplicate
    // write-then-swap: stage the merged index fully, then swap via two
    // renames (corpus→__corpus_old, staged→corpus, delete old). Every crash
    // point is recoverable: before the first rename the old corpus is
    // intact (stale staged is overwritten next pass); between the renames
    // `recoverCorpus` completes the swap from the fully-written staged dir;
    // after the second rename only the old-dir/batch-dir deletes remain,
    // and stale batch dirs are deduped on read by the probe's
    // corpus-membership-wins aggregation.
    val fs = hadoopFs(spark, indexDir)
    val staged = s"$indexDir/__corpus_staged"
    allB.dropDuplicates("doc_id", "band", "bucket")
      .write.mode("overwrite").parquet(s"$staged/buckets")
    allSh.write.mode("overwrite").parquet(s"$staged/shingles")
    // Hadoop FileSystem.rename reports failure by returning FALSE, not by
    // throwing (e.g. destination already exists after a race). Falling
    // through to the batch-dir deletes after a failed staged→corpus rename
    // would permanently lose the appends that were only merged into the
    // never-promoted staged dir — so every step must prove it succeeded
    // before the deletes run; on failure we abort and the next pass retries
    // (recoverCorpus completes a half-finished swap from the staged dir).
    require(fs.rename(new Path(s"$indexDir/corpus"), new Path(s"$indexDir/__corpus_old")),
      s"compactIndex: rename corpus -> __corpus_old failed under $indexDir; aborting before any delete")
    require(fs.rename(new Path(staged), new Path(s"$indexDir/corpus")),
      s"compactIndex: rename __corpus_staged -> corpus failed under $indexDir; aborting before any delete")
    require(fs.delete(new Path(s"$indexDir/__corpus_old"), true),
      s"compactIndex: delete of __corpus_old failed under $indexDir; aborting before batch-dir deletes")
    committed.foreach(d => fs.delete(new Path(d), true))
    committed.size
  }

  /** Decisions for one micro-batch (columns `doc_id`, `text`) probed against
    * the settled index: `corpus/` plus every COMMITTED earlier batch append
    * (the marker protocol makes half-written appends invisible). Returns
    * (decisions, signed) — the sink reuses `signed` for the index append so
    * the signatures are computed once per batch. */
  private def probe(spark: SparkSession, batch: DataFrame, indexDir: String,
                    threshold: Double, numHashes: Int, bands: Int): (DataFrame, DataFrame) = {
    recoverCorpus(spark, indexDir)
    val signed = MinHashLsh.withSignatures(MinHashLsh.shingleDocs(batch), numHashes)
      .localCheckpoint(false)
    val bb = IncrementalDedup.bandBuckets(signed, numHashes, bands)
      .select("doc_id", "band", "bucket")
    val committed = ExactlyOnce.committedBatches(spark, indexDir)
    val corpusB = Tables.parquet(spark, s"$indexDir/corpus/buckets")
      .withColumn("other_is_corpus", lit(true))
    val earlierB = unionAll(committed.map(d => Tables.parquet(spark, s"$d/buckets")))
      .map(_.withColumn("other_is_corpus", lit(false)))
    val selfB = bb.withColumn("other_is_corpus", lit(false))
    val index = (Seq(corpusB) ++ earlierB ++ Seq(selfB))
      .map(_.select(col("band"), col("bucket"), col("doc_id").as("other_id"),
        col("other_is_corpus")))
      .reduce(_.unionByName(_))
    val cand = bb.join(index, Seq("band", "bucket"))
      .filter(col("other_id") =!= col("doc_id"))
      .filter(col("other_is_corpus") || col("other_id") < col("doc_id"))
      .select("doc_id", "other_id", "other_is_corpus")
      // in the post-compaction crash window a folded doc can appear both as
      // corpus and as a stale committed batch dir; corpus membership must
      // deterministically win so the drop_near_corpus/drop_near_batch
      // decision doesn't depend on which duplicate row survives
      .groupBy("doc_id", "other_id")
      .agg(max("other_is_corpus").as("other_is_corpus"))
    val corpusSh = Tables.parquet(spark, s"$indexDir/corpus/shingles")
    val earlierSh = unionAll(committed.map(d => Tables.parquet(spark, s"$d/shingles")))
    // Shingles are the probe's heavy payload (guide §2.3/§8.4: decide with
    // small rows, move big rows once). The old shape globally dropDuplicated
    // corpus∪earlier∪self per micro-batch — a corpus-wide shuffle whose only
    // purpose was collapsing a replayed batch's doc_ids appearing both as
    // "earlier" and as "self". That dedupe is semantically REDUNDANT:
    // duplicates carry bit-identical (doc_id, shingles) rows (same document,
    // same deterministic shingling), jaccardDecisions consumes sh_b only
    // through an inner join feeding per-(doc, side) MAX-struct aggregates,
    // and a max over duplicated identical values is the max over one — so
    // the union flows to the join unshuffled, the candidate side stays the
    // small one (AQE broadcasts it), and the corpus shingle table is
    // SCANNED once per batch, never shuffled.
    val allSh = (Seq(corpusSh) ++ earlierSh ++ Seq(signed.select("doc_id", "shingles")))
      .reduce(_.unionByName(_))
    val shA = signed.select(col("doc_id"), col("shingles").as("sh_a"))
    val shB = allSh.select(col("doc_id").as("other_id"), col("shingles").as("sh_b"))
    val decisions = IncrementalDedup.jaccardDecisions(
      batch.select(col("doc_id")), cand, shA, shB, threshold)
    (decisions, signed)
  }

  /** foreachBatch body: exactly-once decisions under `outDir/batch=N` plus
    * the index append under `indexDir/batch=N`, in marker order
    * index-then-output (see crash-safety note above). Wire as
    * `docs.writeStream.foreachBatch(nearDupSink(idx, out)).start()`. */
  def nearDupSink(indexDir: String, outDir: String, threshold: Double = 0.8,
                  numHashes: Int = 16, bands: Int = 4): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      if (!ExactlyOnce.isCommitted(spark, outDir, batchId)) {
        val (decisions, signed) =
          probe(spark, batch, indexDir, threshold, numHashes, bands)
        decisions.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        IncrementalDedup.bandBuckets(signed, numHashes, bands)
          .select("doc_id", "band", "bucket")
          .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId/buckets")
        signed.select("doc_id", "shingles")
          .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId/shingles")
        ExactlyOnce.commit(spark, indexDir, batchId)
        ExactlyOnce.commit(spark, outDir, batchId)
      }
    }

  /** Driver-gated replay of the streaming arc: build the corpus index,
    * split the batch slice into `nBatches` CONTIGUOUS id-ordered
    * micro-batches (exact distributed ntile — arrival order = id order,
    * the stream/batch-parity precondition), push each through
    * [[nearDupSink]] sequentially, and return the union of the
    * exactly-once decision dirs. The parity property makes the STREAMING
    * decisions oracle-expressible: they equal
    * [[IncrementalDedup.incrementalNearDup]]'s whole-batch run
    * bit-for-bit, so this query rides the same DuckDB oracle and the
    * driver hash-gates the sink path itself, not just its spec.
    *
    * Scale notes: the driver loop is bounded by `nBatches` (micro-batches
    * are inherently sequential); each sink call is the batch-sized probe.
    * Index/output dirs are fresh per call via [[ReplayScratch]] (deleted at
    * JVM exit — the returned frame reads them lazily, so eager deletion
    * would race the caller's materialization; root configurable through
    * SPARK_GRAFT_SCRATCH) — this is a verification surface; production
    * streams own durable dirs. */
  def streamingNearDupReplay(spark: SparkSession, dir: String,
                             nBatches: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("source") =!= IncrementalDedup.BatchSource)
    val indexDir = ReplayScratch.dir("snd_replay_idx")
    val outDir = ReplayScratch.dir("snd_replay_out")
    buildCorpusIndex(corpus, indexDir)
    val slice = docs.filter(col("source") === IncrementalDedup.BatchSource)
      .select("doc_id", "text")
    val banded = graft.operators.RankOps
      .withGlobalNtile(slice, nBatches, Seq("__b" -> Seq(col("doc_id"))))
      .localCheckpoint(false) // banded once, reused by every micro-batch filter
    val sink = nearDupSink(indexDir, outDir)
    (1 to nBatches).foreach { k =>
      sink(banded.filter(col("__b") === k).select("doc_id", "text"), (k - 1).toLong)
    }
    Tables.parquet(spark, ExactlyOnce.committedBatches(spark, outDir): _*)
      .select("doc_id", "decision", "keeper_id", "jaccard")
  }
}
