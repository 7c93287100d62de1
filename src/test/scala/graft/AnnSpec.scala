package graft

import graft.ann.Ann
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite with VectorIndexBehaviours {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("adaptive probe: the exact clusteredness bit separates mixture from isotropic") {
    import spark.implicits._
    // planted "assigned" frames over 4 centers at (+-1000, ...) in 64 dims:
    // clustered = points within +-2 of their center; isotropic = points
    // spread as wide as the centers themselves (same assignment labels)
    val centers = Array.tabulate(4, Ann.IvfDims)((c, d) =>
      (if ((c >> (d % 2) & 1) == 1) 1000.0 else -1000.0))
    def mk(spread: Long) = (0 until 400).map { i =>
      val c = i % 4
      val noise = (d: Int) => (((i * 31 + d * 17) % (2 * spread + 1)) - spread)
      Row.fromSeq(c.toLong +: (0 until Ann.IvfDims).map(d =>
        centers(c)(d).toLong + noise(d)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType) +:
        (0 until Ann.IvfDims).map(d => org.apache.spark.sql.types.StructField(
          s"x$d", org.apache.spark.sql.types.LongType)))
    def df(spread: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(mk(spread)), schema)
    assert(Ann.isClustered(df(2L), centers),
      "tight mixture must decide clustered")
    assert(!Ann.isClustered(df(2000L), centers),
      "center-wide spread must decide isotropic")
    // and the rule: clustered cuts the probe default to nLists/8
    assert(Ann.adaptiveProbe(45, clustered = true) == 5)
    assert(Ann.adaptiveProbe(45, clustered = false) == Ann.ivfDefaultProbe(45))
    assert(Ann.adaptiveProbe(8, clustered = true) == Ann.ivfDefaultProbe(8),
      "min-clamp regime keeps the 7/8 rule regardless of the bit")
    spark.catalog.clearCache()
  }

  // ---- the clusteredness statistic against a plain per-row reference ----

  private val assignedSchema = StructType(StructField("cluster", LongType) +:
    (0 until Ann.IvfDims).map(d => StructField(s"x$d", LongType)))

  /** (cluster, x0..x63) rows as an assigned frame over `parts` partitions. */
  private def assignedFrame(rows: Seq[(Int, Array[Long])], parts: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (c, xs) => Row.fromSeq(c.toLong +: xs.toSeq) }, parts),
      assignedSchema)

  /** (Σ(x−⌊c⌋)², Σ(x−trunc(S/n))²), one BigInteger term per row and
    * dimension — the definition, with none of the moment algebra. */
  private def clusteredSumsRef(rows: Seq[(Int, Array[Long])],
                               centers: Array[Array[Double]])
      : (java.math.BigInteger, java.math.BigInteger) = {
    import java.math.BigInteger
    val n = BigInteger.valueOf(math.max(1, rows.size).toLong)
    val gm = (0 until Ann.IvfDims).map { d =>
      rows.foldLeft(BigInteger.ZERO)((a, r) => a.add(BigInteger.valueOf(r._2(d))))
        .divide(n)
    }
    var wss = BigInteger.ZERO
    var tss = BigInteger.ZERO
    for ((c, xs) <- rows; d <- 0 until Ann.IvfDims) {
      val x = BigInteger.valueOf(xs(d))
      val w = x.subtract(BigInteger.valueOf(math.floor(centers(c)(d)).toLong))
      val t = x.subtract(gm(d))
      wss = wss.add(w.multiply(w))
      tss = tss.add(t.multiply(t))
    }
    (wss, tss)
  }

  /** The decision, `4·wss < tss`, on the reference sums. */
  private def clusteredRef(rows: Seq[(Int, Array[Long])],
                           centers: Array[Array[Double]]): Boolean = {
    val (wss, tss) = clusteredSumsRef(rows, centers)
    wss.shiftLeft(2).compareTo(tss) < 0
  }

  test("clusteredness statistic equals the per-row BigInteger reference (property)") {
    import org.scalacheck.{Gen, Prop, Test}
    // k centers in [-1000, 1000)^64 with fractional parts (so flooring
    // matters); rows = a center's rounded value ± spread on a subset of
    // the clusters (the rest stay empty). The ratio wss/tss sits near
    // spread²/(spread² + 1000²), so spreads up to 2000 straddle the 1/4
    // threshold from both sides.
    val caseGen = for {
      k <- Gen.choose(1, 8)
      parts <- Gen.choose(1, 6)
      used <- Gen.choose(1, k)
      nRows <- Gen.choose(1, 60)
      spread <- Gen.oneOf(Gen.choose(0L, 20L), Gen.choose(300L, 900L),
        Gen.choose(900L, 2000L))
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(k, Ann.IvfDims)(rnd.nextInt(200000) / 100.0 - 1000.0)
      val rows = (0 until nRows).map { _ =>
        val c = rnd.nextInt(used)
        (c, Array.tabulate(Ann.IvfDims)(d =>
          math.round(centers(c)(d)) + rnd.between(-spread, spread + 1)))
      }
      (centers, rows, parts)
    }
    var decided = Map(true -> 0, false -> 0)
    val prop = Prop.forAllNoShrink(caseGen) { case (centers, rows, parts) =>
      val want = clusteredRef(rows, centers)
      decided = decided.updated(want, decided(want) + 1)
      val df = assignedFrame(rows, parts)
      Ann.clusteredSums(df, centers) == clusteredSumsRef(rows, centers) &&
        Ann.computeClustered(df, centers) == want
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
    assert(decided(true) > 0 && decided(false) > 0,
      s"generator must land on both sides of the threshold: $decided")
  }

  test("clusteredness statistic stays exact past long overflow (carry path)") {
    // centers ±2^29, spreads up to 1.5·2^30 ⇒ |x| ≤ 2^31 and x² up to
    // 2^62: each cluster's Σx² passes 2^63 within one partition, and with
    // three partitions the partials overflow again when merged. The
    // decision must still equal the reference on both sides of it.
    val a29 = 1L << 29
    val centers = Array.tabulate(2, Ann.IvfDims)((c, d) =>
      if ((c + d) % 2 == 0) a29 - 0.5 else 0.5 - a29)
    def rows(spread: Long) = (0 until 192).map { i =>
      val c = i % 2
      (c, Array.tabulate(Ann.IvfDims)(d =>
        math.floor(centers(c)(d)).toLong +
          ((i * 7919L + d * 104729L) % (2 * spread + 1)) - spread))
    }
    val (tight, wide) = (1L << 10, 3L << 29)
    for (spread <- Seq(tight, 1L << 28, wide); parts <- Seq(1, 3)) {
      val rs = rows(spread)
      val df = assignedFrame(rs, parts)
      assert(Ann.clusteredSums(df, centers) == clusteredSumsRef(rs, centers),
        s"spread $spread over $parts partitions")
      assert(Ann.computeClustered(df, centers) == clusteredRef(rs, centers))
    }
    assert(Ann.computeClustered(assignedFrame(rows(tight), 3), centers))
    assert(!Ann.computeClustered(assignedFrame(rows(wide), 3), centers))
    assert(Ann.clusteredSums(assignedFrame(Seq.empty, 2), centers) ==
      (java.math.BigInteger.ZERO, java.math.BigInteger.ZERO))
    // and the buffer itself, at the edge: sums far past Long.MaxValue in
    // both signs, folded across a merge
    val a = new graft.Exact.LongSums(2)
    val b = new graft.Exact.LongSums(2)
    var want = Array(java.math.BigInteger.ZERO, java.math.BigInteger.ZERO)
    for (i <- 0 until 50) {
      val v = if (i % 5 == 4) Long.MinValue else Long.MaxValue - i
      val buf = if (i % 2 == 0) a else b
      buf.add(0, v)
      buf.add(1, -v - 1)
      want = Array(want(0).add(java.math.BigInteger.valueOf(v)),
        want(1).add(java.math.BigInteger.valueOf(-v - 1)))
    }
    a.merge(b)
    assert(a.total(0) == want(0) && a.total(1) == want(1))
  }

  test("clusteredness is one Spark job cold and none on a memo hit") {
    val centers = Array.tabulate(3, Ann.IvfDims)((c, d) => (c * 100 + d).toDouble)
    val rows = (0 until 300).map(i => (i % 3,
      Array.tabulate(Ann.IvfDims)(d => (i % 3) * 100L + d + (i % 7) - 3)))
    val df = assignedFrame(rows, 4) // a fresh plan: its digest is not memoized
    val cold = Traced(spark)(Ann.isClustered(df, centers))
    assert(cold.jobs == 1, s"cold isClustered launched ${cold.jobs} jobs")
    val hit = Traced(spark)(Ann.isClustered(df, centers))
    assert(hit.jobs == 0, s"memo hit launched ${hit.jobs} jobs")
    assert(cold.value && hit.value == cold.value)
  }

  test("LSH top-k recall >= 0.9 vs brute force") {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    val brute = Ann.bruteTopK(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = Ann.lshTopK(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("brute-force top-k is correctly ordered and self-free") {
    val res = Ann.annTopK(spark, dir).collect()
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length).toSeq)
      val sims = byRank.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    assert(res.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("vec_id")))
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val r = Ann.bruteTopK(v, v.filter(col("vec_id") === 1), 1).collect()
    assert(r.length == 1 && math.abs(r(0).getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("IVF recall/coverage curve vs brute force (size-derived lists)") {
    // r16: the list count is SIZE-DERIVED (⌈√n_distinct⌉, clamped ≥ 8) and
    // the fit uses rank init + Lloyd refinement. On the isotropic test
    // embeddings recall tracks probed coverage regardless of list count,
    // so the curve is asserted at coverage fractions of the derived
    // geometry, and the shipped default (7/8 coverage) must stay ≥ 0.9 —
    // the r13 verdict's one weak mark, re-pinned at the new geometry.
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    val nl = Ann.derivedLists(spark, dir)
    info(s"derived nLists = $nl, default probe = ${Ann.ivfDefaultProbe(nl)}")
    val brute = Ann.bruteTopK(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    def recallAt(nProbe: Int): Double = {
      val ivf = Ann.ivfTopK(emb, queries, k, nProbe = nProbe).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    val rHalf = recallAt(math.max(1, nl / 2))
    val rThreeQ = recallAt(math.max(1, nl * 3 / 4))
    info(f"recall: $rHalf%.2f @ 1/2 coverage, $rThreeQ%.2f @ 3/4 coverage")
    assert(rHalf >= 0.3, s"recall@half-coverage $rHalf < 0.3 (|brute|=${brute.size})")
    assert(rThreeQ >= rHalf - 0.05, "recall must not decrease with more probes")
    val rDefault = recallAt(Ann.ivfDefaultProbe(nl))
    assert(rDefault >= 0.9, s"shipped-default recall $rDefault < 0.9")
  }

  test("ann_auto dispatch: brute below the threshold, IVF at and above it") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    // exactly AT the threshold (count == threshold) the ≥ side wins — the
    // same boundary the oracle's SQL predicate replays
    val (atRoute, atDf) = Ann.annAutoRouted(spark, dir, threshold = n)
    assert(atRoute == "ivf", s"at-threshold corpus routed to $atRoute")
    val (belowRoute, belowDf) = Ann.annAutoRouted(spark, dir, threshold = n + 1)
    assert(belowRoute == "brute", s"below-threshold corpus routed to $belowRoute")
    def key(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet
    // each route is bit-identical to its standalone (hash-gated) query
    assert(key(atDf.collect()) == key(Ann.annIvfIndexed(spark, dir).collect()))
    assert(key(belowDf.collect()) == key(Ann.annTopK(spark, dir).collect()))
  }

  test("filtered ANN only returns corpus vectors passing the predicate") {
    val emb = Tables.embeddings(spark, dir)
    val res = Ann.annFiltered(spark, dir).select("vec_id")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getAs[Int]("label") % 2 == 0))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Ann.embeddingNearDups(spark, dir, threshold = 0.35).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos_sim") >= 0.35)
    }
  }

  test("IVF model cache is bounded — many distinct corpora don't accumulate") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // fill the shared memo to its bound first, so every IVF fit below
    // genuinely evicts; 18 distinct tiny corpora (distinct plans via
    // distinct literal data) then each add a model entry
    Memo.resetAll()
    (0 until Memo.Bound).foreach(i => Memo.get("spec.filler", i)(i))
    (0 until 18).foreach { c =>
      val corpus = (0 until 24).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() + c))).toDF("vec_id", "embedding")
      val q = corpus.filter(col("vec_id") === 0L)
      Ann.ivfTopK(corpus, q, k = 3, nLists = 2, nProbe = 1).count()
    }
    val live = Memo.census
    assert(live.values.sum == Memo.Bound,
      s"memo grew to ${live.values.sum} entries (bound ${Memo.Bound}) — eviction not working: $live")
    assert(live.getOrElse("kmeans.model", 0) == 18, s"IVF fits not memoized: $live")
    assert(live("spec.filler") < Memo.Bound, s"no filler entry was evicted: $live")
  }

  indexTests(graft.ann.VectorIndex.Kind.Ivf)
}
