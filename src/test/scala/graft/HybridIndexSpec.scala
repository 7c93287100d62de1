package graft

import graft.text.HybridSearch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted hybrid index: exact parity of the persisted-vector path
  * with the flat form, sublinearity + measured recall of the SRP probe, and
  * the pushed bucket filter the 100 TB story rides on. */
class HybridIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private lazy val indexDir = {
    val d = java.nio.file.Files.createTempDirectory("hybrid_idx_spec").toString
    HybridSearch.buildIndex(spark, dir, d)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getAs[Long]("kw_score"),
      r.getAs[Long]("vec_score"), r.getAs[Double]("rrf_score"))).toSeq

  test("persisted-vector path is bit-identical to the flat form") {
    val flat = rows(HybridSearch.hybridSearch(spark, dir))
    val indexed = rows(HybridSearch.hybridSearchIndexed(spark, dir, indexDir))
    assert(indexed === flat)
  }

  test("size-adaptive dispatch: route pinned on both sides of the threshold, answers bit-identical") {
    Memo.resetAll()
    val n = Tables.documents(spark, dir).count()
    // the gate corpus sits below the default threshold → flat route
    assert(!HybridSearch.autoRoute(spark, dir),
      s"default threshold routed a $n-doc corpus to the index")
    // and above the default only when the corpus actually is ≥ threshold
    assert(HybridSearch.autoRoute(spark, dir, threshold = n),
      "corpus at the threshold must route to the index")
    assert(!HybridSearch.autoRoute(spark, dir, threshold = n + 1))
    // bit-parity across the dispatch: forcing each route returns the
    // same rows (the indexed path only amortizes the embedding)
    val flat = rows(HybridSearch.hybridSearchAuto(spark, dir, threshold = n + 1))
    val indexed = rows(HybridSearch.hybridSearchAuto(spark, dir, threshold = n))
    assert(flat === indexed)
    assert(flat === rows(HybridSearch.hybridSearch(spark, dir)))
  }

  test("probe restricts the vector leg to bucket collisions (sublinear candidates)") {
    val meta = spark.read.parquet(s"$indexDir/corpus/meta").head
    val keys = HybridSearch.queryBkeys(
      graft.text.HybridSearch.q20Const(HybridSearch.DefaultQuery, meta.getInt(2)),
      meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getLong(3))
    val candN = spark.read.parquet(s"$indexDir/corpus/buckets")
      .filter(col("bkey").isin(keys: _*)).select("doc_id").distinct().count()
    val corpusN = Tables.documents(spark, dir).count()
    assert(candN > 0, "probe found no candidates at all")
    assert(candN < corpusN,
      s"probe candidate set ($candN) is not smaller than the corpus ($corpusN)")
    // the probed result still fuses a full top-k answer
    assert(HybridSearch.hybridSearchIndexed(spark, dir, indexDir, probe = true)
      .count() === 20)
  }

  test("probe recall vs the flat form, measured (LSH trade, not asserted exact)") {
    val flat = rows(HybridSearch.hybridSearch(spark, dir)).map(_._1).toSet
    val probed = rows(
      HybridSearch.hybridSearchIndexed(spark, dir, indexDir, probe = true))
      .map(_._1).toSet
    val overlap = (flat & probed).size.toDouble / flat.size
    // the kw leg is identical and the vec leg keeps every colliding doc, so
    // the fused top-20 stays close; the exact value is corpus-dependent
    assert(overlap >= 0.5, s"fused top-20 overlap $overlap collapsed")
  }

  test("probe's bucket read pushes the bkey IN-filter to the parquet scan") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      HybridSearch.hybridSearchIndexed(spark, dir, indexDir, probe = true)
        .explain("formatted")
    }
    val plan = out.toString
    assert(plan.contains("PushedFilters: [In(bkey"),
      "bkey IN-filter did not reach the bucket parquet scan")
    assert(!plan.contains("CartesianProduct"), "probe plan has a cartesian join")
  }

  test("interrupted build (no meta) rebuilds through ensureIndex's marker check") {
    // meta is written last: a dir with vecs/buckets but no meta is half-built
    val half = java.nio.file.Files.createTempDirectory("hybrid_idx_half").toString
    HybridSearch.buildIndex(spark, dir, half)
    val fs = new org.apache.hadoop.fs.Path(half)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$half/corpus/meta"), true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$half/corpus/meta")))
    HybridSearch.buildIndex(spark, dir, half) // overwrite-idempotent
    assert(spark.read.parquet(s"$half/corpus/meta").count() === 1)
  }

  test("ensureIndex rebuilds when one document is rewritten at equal count and max doc_id") {
    val corpus = java.nio.file.Files.createTempDirectory("hybrid_rewrite").toString
    val docsPath = s"$corpus/documents.parquet"
    Tables.documents(spark, dir).write.parquet(docsPath)
    val idx = HybridSearch.ensureIndex(spark, corpus)
    def meta = spark.read.parquet(s"$idx/corpus/meta").head
    val before = meta
    // rewrite one document's text in place: count and max doc_id unchanged
    val docs = spark.read.parquet(docsPath)
    val first = docs.agg(min("doc_id")).head.getLong(0)
    docs.withColumn("text", when(col("doc_id") === first, concat(col("text"), lit(" rewritten")))
        .otherwise(col("text")))
      .write.parquet(s"$corpus/rewritten.parquet")
    val fs = new org.apache.hadoop.fs.Path(corpus).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(docsPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$corpus/rewritten.parquet"),
      new org.apache.hadoop.fs.Path(docsPath))
    // the check runs once per process: forget it, as a restart would
    Memo.invalidate("hybrid.ensure", idx)
    assert(HybridSearch.ensureIndex(spark, corpus) == idx)
    val after = meta
    assert(after.getAs[Long]("ndocs") == before.getAs[Long]("ndocs") &&
      after.getAs[Long]("max_doc_id") == before.getAs[Long]("max_doc_id"))
    assert(after.getAs[Long]("content_digest") != before.getAs[Long]("content_digest"),
      "the index built over the old text was served")
  }

  /** Recursive dir copy for crash-window simulation. */
  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("incremental append + mid-stream compaction + both crash windows stay bit-identical to a full rebuild") {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // base corpus = 4/5 of the documents table, written as its own table dir
    val docs = Tables.documents(spark, dir)
    val baseDir = java.nio.file.Files.createTempDirectory("hybrid_base").toString
    docs.filter(col("doc_id") % 5 =!= 0)
      .write.mode("overwrite").parquet(s"$baseDir/documents.parquet")
    // base count (400) and full count (500) share adaptiveBits = 3, so the
    // appended index and a full rebuild have identical geometry
    val idx = java.nio.file.Files.createTempDirectory("hybrid_inc").toString
    HybridSearch.buildIndex(spark, baseDir, idx)
    val batch0 = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    val batch1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0)
      .select("doc_id", "text")
    assert(HybridSearch.appendToIndex(spark, batch0, idx, 0L))
    assert(!HybridSearch.appendToIndex(spark, batch0, idx, 0L),
      "a replayed batchId must skip via its commit marker")
    assert(HybridSearch.compactIndex(spark, idx) === 1)
    // crash window 1 (mid-swap): corpus renamed away, staged fully present —
    // the next read must complete the swap instead of failing
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/corpus"),
      new org.apache.hadoop.fs.Path(s"$idx/__corpus_staged")))
    assert(HybridSearch.hybridSearchIndexed(spark, dir, idx).count() === 20)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/corpus")),
      "recoverCorpus did not complete the interrupted swap")
    assert(HybridSearch.appendToIndex(spark, batch1, idx, 1L))
    // crash window 2 (post-swap, stale batch dir): compaction folded
    // batch=1 but "crashed" before deleting it — readers must dedupe
    val stash = java.nio.file.Files.createTempDirectory("hybrid_stash").toString
    copyDir(s"$idx/appends/batch=1", s"$stash/batch=1")
    assert(HybridSearch.compactIndex(spark, idx) === 1)
    copyDir(s"$stash/batch=1", s"$idx/appends/batch=1")
    // reference: a from-scratch rebuild over the full documents table
    val rebuilt = java.nio.file.Files.createTempDirectory("hybrid_rebuilt").toString
    HybridSearch.buildIndex(spark, dir, rebuilt)
    for (probe <- Seq(false, true)) {
      val inc = rows(HybridSearch.hybridSearchIndexed(spark, dir, idx, probe = probe))
      val ref = rows(HybridSearch.hybridSearchIndexed(spark, dir, rebuilt, probe = probe))
      assert(inc === ref, s"probe=$probe: appended+compacted index diverged from the rebuild")
    }
    // the next compaction self-heals the stale dir (dedupe inside the fold)
    assert(HybridSearch.compactIndex(spark, idx) === 1)
    val afterHeal = rows(HybridSearch.hybridSearchIndexed(spark, dir, idx, probe = true))
    assert(afterHeal === rows(HybridSearch.hybridSearchIndexed(spark, dir, rebuilt, probe = true)))
  }

  test("crash window 3: a legacy remnant batch dir folds without duplicating doc_ids") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString
    val docs = Tables.documents(spark, dir)
    val baseDir = tmp("hybrid_legacy_base")
    docs.filter(col("doc_id") % 5 =!= 0)
      .write.mode("overwrite").parquet(s"$baseDir/documents.parquet")
    val idx = tmp("hybrid_legacy")
    HybridSearch.buildIndex(spark, baseDir, idx)
    val batch = docs.filter(col("doc_id") % 5 === 0).select("doc_id", "text")
    assert(HybridSearch.appendToIndex(spark, batch, idx, 0L))
    val stash = tmp("hybrid_legacy_stash")
    copyDir(s"$idx/appends/batch=0", s"$stash/batch=0")
    assert(HybridSearch.compactIndex(spark, idx) === 1)
    // the pre-r18 fold rewrote the whole corpus, so the batch's rows sit in
    // corpus under other file names; a crash left its committed dir behind
    for (part <- Seq("vecs", "buckets");
         st <- fs.listStatus(new Path(s"$idx/corpus/$part"))
         if st.getPath.getName.startsWith("b0_"))
      assert(fs.rename(st.getPath,
        new Path(st.getPath.getParent, "legacy" + st.getPath.getName.drop(2))))
    copyDir(s"$stash/batch=0", s"$idx/appends/batch=0")
    assert(HybridSearch.compactIndex(spark, idx) === 1)
    val dups = spark.read.parquet(s"$idx/corpus/vecs")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups === 0, "the legacy remnant was moved in as duplicate doc_ids")
    val rebuilt = tmp("hybrid_legacy_rebuilt")
    HybridSearch.buildIndex(spark, dir, rebuilt)
    for (probe <- Seq(false, true))
      assert(rows(HybridSearch.hybridSearchIndexed(spark, dir, idx, probe = probe)) ===
        rows(HybridSearch.hybridSearchIndexed(spark, dir, rebuilt, probe = probe)),
        s"probe=$probe: the healed index diverged from the rebuild")
    // a remnant only partly in corpus is neither safe to move nor to drop
    copyDir(s"$stash/batch=0", s"$idx/appends/batch=0")
    spark.read.parquet(s"$stash/batch=0/vecs").limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000000L)
      .write.mode("append").parquet(s"$idx/appends/batch=0/vecs")
    val e = intercept[IllegalArgumentException](HybridSearch.compactIndex(spark, idx))
    assert(e.getMessage.contains("partial legacy remnant"), e.getMessage)
  }
}
