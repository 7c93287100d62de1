package graft

import graft.ann.{Ann, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("a corpus-sized shortlist makes PQ exact (re-rank = brute force)") {
    // shortlist >= corpus - 1: ADC can discard nothing, so the exact
    // re-rank must reproduce brute-force top-k verbatim
    val n = Tables.embeddings(spark, dir).count().toInt
    val pq = Pq.pqTopK(spark, dir, k = 10, shortlist = n)
      .select("query_id", "vec_id", "rank")
    val brute = Ann.annTopK(spark, dir, 10).select("query_id", "vec_id", "rank")
    assert(pq.exceptAll(brute).count() == 0 && brute.exceptAll(pq).count() == 0)
    spark.catalog.clearCache()
  }

  test("shipped defaults measure >=0.9 recall@10 vs brute force") {
    val pq = Pq.pqTopK(spark, dir, k = 10)
      .select(col("query_id"), col("vec_id"))
    val brute = Ann.annTopK(spark, dir, 10)
      .select(col("query_id"), col("vec_id"))
    val hits = pq.join(brute, Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / brute.count()
    info(f"PQ (${Pq.SubSpaces}x${Pq.CodeBook} codebooks, adaptive shortlist) " +
      f"recall@10 = $recall%.2f")
    // the IVF-default lesson: the SHIPPED default must clear 0.9 measured
    // on the isotropic worst case (curve in the Pq scaladoc; the knobs
    // trade it against scan depth)
    assert(recall >= 0.9, f"PQ recall@10 $recall%.2f below the shipped floor")
    spark.catalog.clearCache()
  }

  test("the persisted index reproduces the inline path bit-for-bit") {
    val inline = Pq.pqTopK(spark, dir, k = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Pq.buildPqIndex(spark, dir, tmp)
    val indexed = Pq.pqTopKIndexed(spark, dir, tmp, k = 10)
    assert(inline.exceptAll(indexed).count() == 0 &&
      indexed.exceptAll(inline).count() == 0)
    // cos_sim doubles too: compare the full row set exactly
    assert(inline.collect().map(_.toString).sorted
      .sameElements(indexed.collect().map(_.toString).sorted))
    spark.catalog.clearCache()
  }

  test("ensurePqIndex rebuilds when the corpus fingerprint mismatches") {
    import spark.implicits._
    val idx = Pq.ensurePqIndex(spark, dir)
    // simulate an in-place corpus rewrite: doctor the persisted fingerprint
    Seq((Pq.SubSpaces, Pq.SubDim, Pq.CodeBook, Pq.PqIters, -999L, -999L))
      .toDF("sub_spaces", "sub_dim", "n_codes", "iters", "nvecs", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/meta")
    // the staleness check runs once per JVM (Memo); a rewrite is
    // only detectable from a fresh process — simulate that restart
    Memo.resetAll()
    val idx2 = Pq.ensurePqIndex(spark, dir)
    assert(idx2 == idx)
    val m = spark.read.parquet(s"$idx2/meta").head
    assert(m.getAs[Long]("nvecs") > 0L, "stale meta served instead of a rebuild")
    spark.catalog.clearCache()
  }

  test("the direct indexed path fails fast on a geometry mismatch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_geom").toString
    Pq.buildPqIndex(spark, dir, tmp)
    // an index written under a FUTURE geometry (different sub_dim) must
    // throw through pqTopKIndexed, not silently mis-decode (advice-r14)
    Seq((Pq.SubSpaces, Pq.SubDim + 1, Pq.CodeBook, Pq.PqIters, 1L, 1L))
      .toDF("sub_spaces", "sub_dim", "n_codes", "iters", "nvecs", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    val e = intercept[IllegalArgumentException] {
      Pq.pqTopKIndexed(spark, dir, tmp, k = 10)
    }
    assert(e.getMessage.contains("different geometry"))
    // and a codebook/meta row-count disagreement fails too
    Seq((Pq.SubSpaces, Pq.SubDim, Pq.CodeBook + 7, Pq.PqIters, 1L, 1L))
      .toDF("sub_spaces", "sub_dim", "n_codes", "iters", "nvecs", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    val e2 = intercept[IllegalArgumentException] {
      Pq.pqTopKIndexed(spark, dir, tmp, k = 10)
    }
    assert(e2.getMessage.contains("inconsistent index"))
    spark.catalog.clearCache()
  }

  test("every query returns k ranked rows; ranks are 1..k") {
    val out = Pq.pqTopK(spark, dir, k = 10).persist()
    val perQ = out.groupBy("query_id").agg(count(lit(1)).as("n"),
      min("rank").as("lo"), max("rank").as("hi"))
    assert(perQ.filter(col("n") =!= 10 || col("lo") =!= 1 || col("hi") =!= 10)
      .count() == 0)
    // self never appears among a query's neighbors
    assert(out.filter(col("query_id") === col("vec_id")).count() == 0)
    out.unpersist()
    spark.catalog.clearCache()
  }
}
