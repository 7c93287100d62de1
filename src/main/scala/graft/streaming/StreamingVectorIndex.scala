package graft.streaming

import graft.ann.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Streaming ingest for the persisted vector indexes (IVF, IVFADC, PQ —
  * [[VectorIndex]]): an unbounded embedding stream drains into assign-only
  * appends batch by batch, exactly once, while readers keep scoring the
  * settled rows plus the committed appends.
  *
  * {{{
  *   embStream.writeStream
  *     .foreachBatch(StreamingVectorIndex.indexSink(indexDir))
  *     .option("checkpointLocation", ckpt)
  *     .start()
  * }}}
  *
  * A crash-replayed micro-batch re-arrives with the SAME batchId and
  * [[VectorIndex.append]] skips it. Compaction is the periodic refit (a
  * fresh [[VectorIndex.build]], swapped in at a query-quiet boundary);
  * assign-only appends never rewrite the settled rows, so there is no
  * in-place fold to crash. */
object StreamingVectorIndex {

  /** `foreachBatch` sink appending each micro-batch of embeddings
    * (`vec_id`, `embedding`) to a prebuilt index at `indexDir`. */
  def indexSink(indexDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => VectorIndex.append(batch.sparkSession, indexDir, batch, batchId)

  /** Driver-gated replay of the streaming-ingest arc: the append arc of
    * the `kind` index ([[VectorIndex.appendArc]]) with the appended fifth
    * pushed as `nBatches` contiguous id-ordered micro-batches. Appends are
    * independent per batch, so the streamed index answers bit-for-bit what
    * the two-batch append query computes, and rides its oracle verbatim. */
  def appendReplay(spark: SparkSession, dir: String, kind: VectorIndex.Kind,
                   nBatches: Int = 4): DataFrame =
    VectorIndex.appendArc(spark, dir, kind, s"s${kind.tag}_replay_idx") { fifth =>
      val banded = graft.operators.RankOps
        .withGlobalNtile(fifth, nBatches, Seq("__b" -> Seq(col("vec_id"))))
        .localCheckpoint(false) // banded once, reused by every micro-batch filter
      (1 to nBatches).map(b => banded.filter(col("__b") === b).select("vec_id", "embedding"))
    }
}
