package graft

import graft.ann.{Ann, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite with VectorIndexBehaviours {
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

  indexTests(graft.ann.VectorIndex.Kind.Pq)
}
