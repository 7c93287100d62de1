package graft

import graft.ann.{Ann, VectorIndex}
import graft.streaming.{ExactlyOnce, StreamingVectorIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming wiring for IVF-index ingest: an unbounded embedding
  * stream drains into assign-only appends through the foreachBatch sink,
  * exactly once, and the streamed index probes bit-identically to the
  * batch append arc regardless of micro-batch boundaries. */
class StreamingIvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def key(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet

  test("a real embedding stream drains into the index, exactly once") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val idx = tmp("sivf_idx")
    VectorIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4), idx, VectorIndex.Kind.Ivf)
    val slice = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(slice.length >= 2)
    val (first, second) = slice.splitAt(slice.length / 2)

    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(StreamingVectorIndex.indexSink(idx))
      .option("checkpointLocation", tmp("sivf_ckpt"))
      .start()
    try {
      input.addData(first.toSeq)
      q.processAllAvailable()
      input.addData(second.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val committed = ExactlyOnce.committedBatches(spark, s"$idx/appends")
    assert(committed.size == 2, s"expected 2 committed batches, got $committed")
    val streamedIds = spark.read.parquet(committed.map(_ + "/rows"): _*)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(streamedIds == slice.map(_._1).toSet)
  }

  test("streamed replay equals the two-batch append arc bit-for-bit") {
    val streamed = key(StreamingVectorIndex.appendReplay(spark, dir, VectorIndex.Kind.Ivf))
    val batch = key(Ann.annIvfAppend(spark, dir))
    assert(streamed == batch)
  }

  test("micro-batch boundaries cannot change the probe answer") {
    val two = key(StreamingVectorIndex.appendReplay(spark, dir, VectorIndex.Kind.Ivf, nBatches = 2))
    val seven = key(StreamingVectorIndex.appendReplay(spark, dir, VectorIndex.Kind.Ivf, nBatches = 7))
    assert(two == seven)
  }
}
