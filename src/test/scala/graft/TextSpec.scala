package graft

import graft.text.TextOps
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("text stats invariants hold on the documents table") {
    val rows = TextOps.textStats(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unique_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("stopword_count") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("nonspace_chars") <= r.getAs[Long]("n_chars_calc"))
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("token counts: BPE-ish tokens never fewer than whitespace tokens") {
    val rows = TextOps.tokenCounts(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"))
      assert(r.getAs[Long]("est_tokens_chars_div4") == r.getAs[Long]("n_chars_calc") / 4)
    }
  }

  test("lang id picks the language whose function words dominate") {
    import spark.implicits._
    // langId reads from a dir; test the same expressions via a temp view of the shape it expects
    val crafted = Seq(
      (1L, "the cat sat and it is that of the mat in to", "en"),
      (2L, "el la de que y los se del el la de que", "es"),
      (3L, "der die und das von mit den ist der die und das", "de")
    ).toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("langid").toString
    crafted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.langId(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de"))
  }

  test("fingerprints exist iff a doc has >= 3 tokens, and are stable md5 hex") {
    val rows = TextOps.fingerprints(spark, dir).collect()
    rows.foreach { r =>
      val fp = r.getAs[String]("fingerprint_min")
      if (fp != null) {
        assert(fp.matches("[0-9a-f]{32}"))
        assert(fp <= r.getAs[String]("fingerprint_max"))
      }
    }
    assert(rows.count(_.getAs[String]("fingerprint_min") != null) > 0)
  }

  test("vocab top-k: contiguous ranks, descending mass, consistent shares") {
    val rows = graft.text.TextOps.vocabTopK(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length))
    val occ = rows.map(_.getAs[Long]("n_occurrences"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b }, "mass not descending")
    val nDocs = Tables.documents(spark, dir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 1 && r.getAs[Long]("n_docs") <= nDocs)
      assert(r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs"))
    }
    val shareSum = rows.map(_.getAs[Double]("occ_share")).sum
    assert(shareSum > 0.0 && shareSum <= 1.0 + 1e-12, s"share sum $shareSum")
  }

  test("tfidf top terms: contiguous per-doc ranks, descending exact scores, score formula holds") {
    val rows = TextOps.tfidfTopTerms(spark, dir).collect()
    assert(rows.nonEmpty)
    val nTotal = Tables.documents(spark, dir).count()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("term_rank"))
      assert(byRank.map(_.getAs[Long]("term_rank")).toSeq == (1L to byRank.length))
      assert(byRank.length <= 5)
      val scores = byRank.map(_.getAs[Long]("score_scaled"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "scores not descending")
    }
    rows.foreach { r =>
      val tf = r.getAs[Long]("tf"); val df = r.getAs[Long]("df_docs")
      assert(df >= 1 && tf >= 1)
      assert(r.getAs[Long]("score_scaled") == tf * 1000000L * nTotal / df)
    }
  }

  test("the tokenizing paths split each document once per documents scan") {
    // a plain explode of the split array lets Spark infer
    // size(split(...)) > 0 AND isnotnull(split(...)) below the Generate:
    // three regex splits per document instead of one
    Seq("bpe_encode", "bpe_vocab", "vocab_topk", "tfidf_topterms", "dsir_selection").foreach { q =>
      val run = Traced(spark) {
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      val perPlan = run.plans.map { p =>
        val splits = collect(p)(n => n.expressions.flatMap(_.collect { case s: StringSplit => s }))
          .flatten.size
        val scans = collect(p) {
          case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
        }.size
        (splits, scans)
      }
      assert(perPlan.exists(_._1 > 0) && perPlan.forall { case (sp, sc) => sp <= sc },
        s"$q: (splits, documents scans) per executed plan: $perPlan")
    }
  }
}
