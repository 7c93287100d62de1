package graft

import graft.ann.{Ann, IvfPq}
import graft.streaming.StreamingIvfPqIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfPqAppendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("appended vectors are findable and queryable; full id space covered") {
    val out = IvfPq.annIvfPqAppend(spark, dir).persist()
    // queries 4 and 9 are appended ids — they must answer
    val qids = out.select("query_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(qids.sameElements(0L until 10L), qids.toSeq.toString)
    // appended vectors (vec_id % 5 == 4) appear among results somewhere
    assert(out.filter(col("vec_id") % 5 === 4).count() > 0,
      "no appended vector ever surfaced in any top-k")
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("batch-count invariance: 1/3/5 streaming batches equal the 2-batch path") {
    val base = IvfPq.annIvfPqAppend(spark, dir)
      .collect().map(_.toString).sorted
    Seq(1, 3, 5).foreach { n =>
      val streamed = StreamingIvfPqIndex
        .streamingIvfPqAppendReplay(spark, dir, nBatches = n)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(base), s"nBatches=$n diverged")
    }
    spark.catalog.clearCache()
  }

  test("replaying a committed append batch is a no-op (exactly-once)") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_eo").toString
    IvfPq.buildIvfPqIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), idx)
    val slice = emb.filter(col("vec_id") % 5 === 4)
    IvfPq.appendToIvfPqIndex(spark, idx, slice, 0L)
    val before = spark.read.parquet(s"$idx/appends/batch=0/codes").count()
    // crash-replay with a DIFFERENT (e.g. duplicated) frame must be skipped
    IvfPq.appendToIvfPqIndex(spark, idx, slice.unionAll(slice), 0L)
    val after = spark.read.parquet(s"$idx/appends/batch=0/codes").count()
    assert(after == before, "committed batch was overwritten on replay")
    spark.catalog.clearCache()
  }

  test("appended codes share the frozen geometry (valid list and code ranges)") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_geom2").toString
    IvfPq.buildIvfPqIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), idx)
    IvfPq.appendToIvfPqIndex(spark, idx, emb.filter(col("vec_id") % 5 === 4), 0L)
    val ap = spark.read.parquet(s"$idx/appends/batch=0/codes")
    assert(ap.filter(col("cluster") < 0 || col("cluster") >= Ann.derivedLists(spark, dir))
      .count() == 0)
    (0 until graft.ann.Pq.SubSpaces).foreach { m =>
      assert(ap.filter(col(s"c$m") < 0 || col(s"c$m") >= graft.ann.Pq.CodeBook)
        .count() == 0, s"code c$m out of range")
    }
    assert(ap.count() == emb.filter(col("vec_id") % 5 === 4).count())
    spark.catalog.clearCache()
  }

  test("settled rebuilds ride the model cache: no refit on a second build") {
    // verdict r15 item #8: streaming_ivfpq_append_replay's settled build
    // must HIT fitCached when ann_ivfpq_append already fit the same
    // settled corpus this session. Proof: two builds of the same settled
    // frame; the second adds NO new cache entries (both the coarse and
    // the residual-codebook fits are plan-keyed hits).
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val d1 = java.nio.file.Files.createTempDirectory("ivfpq_reuse1").toString
    IvfPq.buildIvfPqIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), d1)
    def models = Memo.census.getOrElse("kmeans.model", 0)
    val before = models
    val d2 = java.nio.file.Files.createTempDirectory("ivfpq_reuse2").toString
    IvfPq.buildIvfPqIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), d2)
    assert(models == before, s"second settled build refit: cache grew $before -> $models")
    // and the artifacts are bit-identical (cached model == fresh model)
    val c1 = spark.read.parquet(s"$d1/codes").orderBy("vec_id").collect().map(_.toString)
    val c2 = spark.read.parquet(s"$d2/codes").orderBy("vec_id").collect().map(_.toString)
    assert(c1.sameElements(c2))
    spark.catalog.clearCache()
  }
}
