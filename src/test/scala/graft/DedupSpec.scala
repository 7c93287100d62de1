package graft

import graft.dedup.{Dedup, MinHashLsh, SimHash}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plantedDocs = {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val rnd = new scala.util.Random(11)
    def salad(seed: Int) = { val r = new scala.util.Random(seed); (1 to 60).map(_ => words(r.nextInt(words.length))).mkString(" ") }
    val base = salad(1)
    val nearDup = base.split(" ").updated(30, "REPLACED").mkString(" ") // one-word edit
    val exactDup = base
    val others = (2 to 40).map(salad)
    (Seq(base, nearDup, exactDup) ++ others).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = MinHashLsh.candidatePairs(plantedDocs)
      .filter(col("jaccard") >= 0.8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((0L, 1L)), s"planted near-dup missing from $pairs")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // exact dup collides everywhere
  }

  test("LSH candidate volume is sub-quadratic on the real documents table") {
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val candidates = MinHashLsh.candidatePairs(docs).count()
    assert(candidates < allPairs / 10,
      s"LSH produced $candidates candidates of $allPairs possible — not sub-quadratic")
    // and it still finds the planted high-jaccard pairs in the test data
    assert(MinHashLsh.nearDupPairs(spark, dir, threshold = 0.9).count() > 0)
  }

  test("simhash bands find the planted near-duplicate with small hamming") {
    val sh = SimHash.simhashDocs(plantedDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(java.lang.Long.bitCount(sh(0L) ^ sh(1L)) <= 3)
    assert(sh(0L) == sh(2L)) // identical text, identical simhash
  }

  test("exact dedup groups by normalized content") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, " HELLO\tWORLD "),
      (4L, "something else")).toDF("doc_id", "text")
    val groups = df
      .withColumn("content_hash", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .groupBy("content_hash").agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
      .collect()
    assert(groups.length == 2)
    assert(groups.map(_.getAs[Long]("n")).sorted.toSeq == Seq(1L, 3L))
    // on the real table every doc is unique — one group per doc
    val real = Dedup.exactDedup(spark, dir)
    assert(real.agg(sum("n_docs")).head.getLong(0) == Tables.documents(spark, dir).count())
  }

  /** Near-variants of random word salads: each base text gets variants
    * with one to three word edits, which move a few fingerprint bits, so
    * the corpus holds pairs within Hamming 3 that agree on one to four of
    * the 16-bit bands. With `copies`, every fifth text also appears again
    * with other case and spacing (one normalized text, several doc_ids),
    * which sends `nearDupPairs` down its collapse branch. */
  private def writeVariantCorpus(copies: Boolean): String = {
    import spark.implicits._
    val words = (0 until 300).map(i => s"w$i")
    val rnd = new scala.util.Random(23)
    def salad(n: Int) = Vector.fill(n)(words(rnd.nextInt(words.length)))
    val texts = (0 until 40).flatMap { _ =>
      val base = salad(40 + rnd.nextInt(40))
      base +: (0 until 5).map { _ =>
        (1 to 1 + rnd.nextInt(3)).foldLeft(base) { (t, _) =>
          t.updated(rnd.nextInt(t.length), words(rnd.nextInt(words.length)))
        }
      }
    }.map(_.mkString(" "))
    val withCopies = if (!copies) texts else
      texts ++ texts.indices.filter(_ % 5 == 0).map(i => "  " + texts(i).toUpperCase.replace(" ", "\t "))
    val tmp = java.nio.file.Files.createTempDirectory("simhash_variants").toString
    rnd.shuffle(withCopies).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("nearDupPairs equals an all-pairs Hamming join at h = 0..3, with and without collapse") {
    Seq(false, true).foreach { copies =>
      val corpus = writeVariantCorpus(copies)
      val docs = Tables.documents(spark, corpus)
      val factor = graft.dedup.Collapse.duplicationFactor(docs, graft.dedup.Collapse.normHash)
      assert((factor >= graft.dedup.Collapse.CollapseThreshold) == copies, s"factor $factor")
      val sh = SimHash.simhashDocs(docs)
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming"))).toSeq
      def allPairs(h: Int) = pairs(sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
        .filter(col("hamming") <= h)
        .orderBy("doc_a", "doc_b"))
      // the planted pairs cover every band-agreement class the first-band
      // rule tells apart: one to three agreeing bands, and identical
      // fingerprints (all four)
      val fp = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def agreeing(a: Long, b: Long) =
        (0 until 4).count(k => (((a ^ b) >>> (16 * k)) & 0xFFFFL) == 0L)
      val classes = allPairs(3).groupBy(p => agreeing(fp(p._1), fp(p._2)))
        .map { case (k, ps) => k -> ps.length }
      assert((1 to 4).forall(k => classes.getOrElse(k, 0) > 0),
        s"pairs per agreeing bands: $classes")
      (0 to 3).foreach { h =>
        val want = allPairs(h)
        val got = pairs(SimHash.nearDupPairs(spark, corpus, maxHamming = h))
        assert(got == want, s"copies=$copies h=$h: ${got.diff(want).take(5)} extra, " +
          s"${want.diff(got).take(5)} missing")
      }
    }
  }

  test("nearDupPairs refuses a Hamming bound its four bands cannot guarantee") {
    // at 4 differing bits every band can differ: such a pair never meets in
    // the band join, so a bound of 4 would drop pairs silently
    Seq(4, -1).foreach { h =>
      val e = intercept[IllegalArgumentException](SimHash.nearDupPairs(spark, dir, maxHamming = h))
      assert(e.getMessage.contains("maxHamming must be in [0, 3]"), e.getMessage)
    }
  }

  test("dedup_simhash at sf0.01: one fingerprint pass, no aggregate after the band join, 4 jobs") {
    val sf001 = new java.io.File(new java.io.File(TestSpark.sfDir).getParentFile, "sf0.01").getPath
    val q = SparkEntry.queries("dedup_simhash")
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    write(q(spark, sf001)) // the cold pass fills the duplication-factor memo
    spark.catalog.clearCache()
    val built = Traced(spark)(q(spark, sf001))
    val run = Traced(spark)(write(built.value))
    spark.catalog.clearCache()
    val plans = built.plans ++ run.plans
    // the fingerprint checkpoint is the only plan that evaluates the kernel
    val kernels = plans.map(p => collect(p)(n => n.expressions.flatMap(_.collect {
      case k: graft.functions.SimHash64 => k })).flatten.size)
    assert(kernels.sum == 1, s"simhash64_md5 evaluations per executed plan: $kernels")
    // no aggregate between the band join and the output sort
    def aggsAboveJoin(p: SparkPlan): Int = p match {
      case _: BroadcastHashJoinExec => 0
      case a: HashAggregateExec => 1 + allChildren(a).map(aggsAboveJoin).sum
      case other => allChildren(other).map(aggsAboveJoin).sum
    }
    val result = run.plans.last
    assert(collect(result) { case j: BroadcastHashJoinExec => j }.size == 1, result.toString)
    assert(aggsAboveJoin(result) == 0, result.toString)
    // broadcast build, range sample, range map, result
    assert(built.jobs == 0 && run.jobs <= 4, s"jobs: ${built.jobs} construct, ${run.jobs} execute")
  }
}
