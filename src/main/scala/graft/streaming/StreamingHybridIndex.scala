package graft.streaming

import graft.text.HybridSearch
import org.apache.spark.sql.DataFrame

/** Streaming ingest for the persisted hybrid lexical+vector index — the
  * glue that closes the lambda-architecture arc for the VECTOR side the
  * way [[StreamingNearDup]] closes it for the MinHash side: an unbounded
  * document stream feeds `HybridSearch.appendToIndex` batch by batch,
  * exactly once, while readers keep serving the settled corpus plus the
  * committed appends.
  *
  * All of the hard invariants live in [[graft.text.HybridSearch]] already
  * (batchId commit markers, build-time geometry reuse, crash-recoverable
  * compaction, reader-side append union + dedupe); this object only wires
  * them into a `foreachBatch` sink:
  *
  * {{{
  *   docsStream.writeStream
  *     .foreachBatch(StreamingHybridIndex.indexSink(indexDir))
  *     .option("checkpointLocation", ckpt)
  *     .start()
  * }}}
  *
  * Exactly-once: Structured Streaming replays a micro-batch after a crash
  * with the SAME batchId; appendToIndex sees the committed marker and
  * skips, so a replayed batch never double-inserts (the
  * [[ExactlyOnce]] protocol — marker written AFTER both parquet parts).
  * The guarantee holds ACROSS the compaction boundary too: compaction
  * deletes batch dirs (markers included) but stamps a folded-batch
  * watermark into corpus/meta, and appendToIndex rejects any batchId at
  * or below it — a redelivery after an in-sink fold is a no-op.
  *
  * Compaction: `compactEvery = n` folds committed appends into the corpus
  * after every n-th batch, INSIDE the sink — micro-batches are sequential
  * per query, so the fold never races an append from the same stream.
  * Concurrent READERS of the same index dir during the fold are safe only
  * through the recover-on-entry protocol (an interrupted swap completes on
  * their next entry); a reader mid-plan across the swap re-lists files —
  * the standard compaction/ingest exclusion applies, so schedule folds in
  * query-quiet windows for a shared index. `compactEvery = 0` (default)
  * never compacts — run [[graft.text.HybridSearch.compactIndex]] as the
  * offline maintenance step instead. */
object StreamingHybridIndex {

  /** `foreachBatch` sink appending each micro-batch of documents
    * (`doc_id`, `text`) to a prebuilt hybrid index at `indexDir`. */
  def indexSink(indexDir: String, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      HybridSearch.appendToIndex(spark, batch, indexDir, batchId)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        HybridSearch.compactIndex(spark, indexDir)
    }

  /** Driver-gated replay of the streaming-ingest arc — the
    * streaming_neardup_replay recipe applied to the hybrid index: build the
    * index over the settled corpus (every source but src0), push the src0
    * slice through [[indexSink]] as `nBatches` contiguous id-ordered
    * micro-batches WITH in-sink compaction (compactEvery = 2, so the run
    * exercises append → fold → post-fold append → final corpus+append
    * union read), then answer the standard hybrid query off the streamed
    * index.
    *
    * Why this is oracle-expressible: the vector leg of the full-scoring
    * indexed query reads only `vecs` (doc_id, q20 embedding), appends embed
    * with the SAME q20 recipe the builder uses, and the reader dedups
    * doc_ids across corpus and appends — so once every document has flowed
    * in, the streamed index answers bit-for-bit what flat
    * [[HybridSearch.hybridSearch]] computes, and the query rides the
    * existing hybrid_search oracle. The driver thereby hash-gates the
    * ingest sink + compaction + append-union read path itself, not just
    * its spec.
    *
    * Scale notes: driver loop bounded by `nBatches` (micro-batches are
    * inherently sequential); scratch dirs via [[ReplayScratch]]
    * (JVM-exit-deleted, SPARK_GRAFT_SCRATCH-rooted). */
  def streamingHybridIndexReplay(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, nBatches: Int = 5): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val settled = docs.filter(col("source") =!= graft.dedup.IncrementalDedup.BatchSource)
      .select("doc_id", "text")
    val indexDir = ReplayScratch.dir("shi_replay_idx")
    HybridSearch.buildIndexFrom(spark, settled, indexDir)
    val slice = docs.filter(col("source") === graft.dedup.IncrementalDedup.BatchSource)
      .select("doc_id", "text")
    val banded = graft.operators.RankOps
      .withGlobalNtile(slice, nBatches, Seq("__b" -> Seq(col("doc_id"))))
      .localCheckpoint(false) // banded once, reused by every micro-batch filter
    val sink = indexSink(indexDir, compactEvery = 2)
    (1 to nBatches).foreach { k =>
      sink(banded.filter(col("__b") === k).select("doc_id", "text"), (k - 1).toLong)
    }
    HybridSearch.hybridSearchIndexed(spark, dir, indexDir)
  }
}
