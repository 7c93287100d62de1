package graft

import graft.ann.{Ann, IvfPq, Pq}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private lazy val nl = Ann.derivedLists(spark, dir)

  private def recallVsBrute(df: org.apache.spark.sql.DataFrame): Double = {
    val brute = Ann.annTopK(spark, dir, 10).select("query_id", "vec_id")
    val hits = df.select("query_id", "vec_id")
      .join(brute, Seq("query_id", "vec_id")).count()
    hits.toDouble / brute.count()
  }

  test("all lists probed + corpus-wide shortlist = brute force exactly") {
    // with every list probed the inverted file discards nothing, and a
    // corpus-sized shortlist means ADC discards nothing either — the
    // exact re-rank must reproduce brute-force top-k verbatim
    val n = Tables.embeddings(spark, dir).count().toInt
    val full = IvfPq.ivfPqTopK(spark, dir, k = 10,
      nProbe = nl, shortlist = n)
      .select("query_id", "vec_id", "rank")
    val brute = Ann.annTopK(spark, dir, 10).select("query_id", "vec_id", "rank")
    assert(full.exceptAll(brute).count() == 0 && brute.exceptAll(full).count() == 0)
    spark.catalog.clearCache()
  }

  test("shipped defaults measure >=0.9 recall@10 vs brute force") {
    val r = recallVsBrute(IvfPq.ivfPqTopK(spark, dir, k = 10))
    info(f"IVFADC ($nl lists, probe ${Ann.ivfDefaultProbe(nl)}, " +
      f"${Pq.SubSpaces}x${Pq.CodeBook} residual codebook) recall@10 = $r%.2f")
    assert(r >= 0.9, f"IVFADC recall@10 $r%.2f below the shipped floor")
    spark.catalog.clearCache()
  }

  test("residual coding beats raw-vector PQ at a thin shortlist") {
    // the paper's motivation for coding residuals: same codebook budget,
    // tighter distribution. At shortlist=50 (vs the adaptive default) the
    // shortlist quality is dominated by ADC fidelity, so the residual
    // variant must measure at least as much recall as raw-vector PQ.
    // All lists probed so the comparison isolates the coding, not the IVF.
    val resid = recallVsBrute(IvfPq.ivfPqTopK(spark, dir, k = 10,
      nProbe = nl, shortlist = 50))
    val raw = recallVsBrute(Pq.pqTopK(spark, dir, k = 10, shortlist = 50))
    info(f"shortlist-50 recall@10: residual $resid%.2f vs raw $raw%.2f")
    assert(resid >= raw - 0.02,
      f"residual coding ($resid%.2f) should not trail raw PQ ($raw%.2f)")
    spark.catalog.clearCache()
  }

  test("the persisted index reproduces the inline path bit-for-bit") {
    val inline = IvfPq.ivfPqTopK(spark, dir, k = 10)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    IvfPq.buildIvfPqIndex(spark, dir, tmp)
    val indexed = IvfPq.ivfPqTopKIndexed(spark, dir, tmp, k = 10)
    assert(inline.exceptAll(indexed).count() == 0 &&
      indexed.exceptAll(inline).count() == 0)
    // cos_sim doubles too: compare the full row set exactly
    assert(inline.collect().map(_.toString).sorted
      .sameElements(indexed.collect().map(_.toString).sorted))
    spark.catalog.clearCache()
  }

  test("ensureIvfPqIndex rebuilds when the corpus fingerprint mismatches") {
    import spark.implicits._
    val idx = IvfPq.ensureIvfPqIndex(spark, dir)
    Seq((nl, Pq.SubSpaces, Pq.SubDim, Pq.CodeBook, Pq.PqIters, -9L, -9L))
      .toDF("n_lists", "sub_spaces", "sub_dim", "n_codes", "iters",
        "nvecs", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/meta")
    Memo.resetAll()
    val idx2 = IvfPq.ensureIvfPqIndex(spark, dir)
    assert(idx2 == idx)
    assert(spark.read.parquet(s"$idx2/meta").head.getAs[Long]("nvecs") > 0L,
      "stale meta served instead of a rebuild")
    spark.catalog.clearCache()
  }

  test("the direct indexed path fails fast on geometry drift") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_geom").toString
    IvfPq.buildIvfPqIndex(spark, dir, tmp)
    Seq((nl, Pq.SubSpaces, Pq.SubDim + 1, Pq.CodeBook, Pq.PqIters, 1L, 1L))
      .toDF("n_lists", "sub_spaces", "sub_dim", "n_codes", "iters",
        "nvecs", "max_vec_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    val e = intercept[IllegalArgumentException] {
      IvfPq.ivfPqTopKIndexed(spark, dir, tmp, k = 10)
    }
    assert(e.getMessage.contains("different geometry"))
    spark.catalog.clearCache()
  }

  test("every query returns k ranked rows; ranks are 1..k") {
    val out = IvfPq.ivfPqTopK(spark, dir, k = 10).persist()
    val perQ = out.groupBy("query_id").agg(count(lit(1)).as("n"),
      min("rank").as("lo"), max("rank").as("hi"))
    assert(perQ.filter(col("n") =!= 10 || col("lo") =!= 1 || col("hi") =!= 10)
      .count() == 0)
    assert(perQ.count() == 10)
    // a candidate never ranks itself
    assert(out.filter(col("query_id") === col("vec_id")).count() == 0)
    out.unpersist()
    spark.catalog.clearCache()
  }
}
