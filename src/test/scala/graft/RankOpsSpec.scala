package graft

import graft.operators.RankOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RankOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sampleDf(n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to n).map(i => (i.toLong, rnd.nextInt(50))).toDF("id", "v")
  }

  test("withGlobalRank produces the permutation 1..n under the sort order") {
    val n = 1237
    val ranked = RankOps.withGlobalRank(sampleDf(n), "r", Seq(col("v").desc, col("id").asc))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("v"), r.getAs[Long]("r")))
    spark.catalog.clearCache()
    assert(ranked.map(_._3).sorted.toSeq == (1L to n).toSeq)
    // rank must agree with a local sort
    val local = ranked.sortBy { case (id, v, _) => (-v, id) }
    local.zipWithIndex.foreach { case ((_, _, r), i) => assert(r == i + 1) }
  }

  test("withGlobalNtile matches SQL NTILE semantics exactly (n not divisible by k)") {
    val n = 1237; val k = 5
    val got = RankOps.withGlobalNtile(sampleDf(n), "nt", k, Seq(col("v").desc, col("id").asc))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("nt"))).toMap
    spark.catalog.clearCache()
    val sorted = sampleDf(n).collect().map(r => (r.getLong(0), r.getInt(1)))
      .sortBy { case (id, v) => (-v, id) }
    val q = n / k; val r0 = n % k
    def bucket(rank: Int): Long =
      if (rank <= (q + 1) * r0) ((rank - 1) / (q + 1) + 1).toLong
      else (r0 + (rank - 1 - r0 * (q + 1)) / q + 1).toLong
    sorted.zipWithIndex.foreach { case ((id, _), i) =>
      assert(got(id) == bucket(i + 1), s"id=$id rank=${i + 1}")
    }
    // bucket sizes: first n%k buckets get one extra row
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    (1 to k).foreach { b =>
      val expect = if (b <= r0) q + 1 else q
      assert(sizes(b.toLong) == expect)
    }
  }

  test("withGroupedRank matches a per-group window row_number exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // few groups, many rows per group — the exact shape the grouped rank
    // exists for; sizes chosen to NOT divide evenly into 32 partitions so
    // groups span partition boundaries
    val df = (1 to 4013).map { i =>
      (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(40))
    }.toDF("id", "g", "v")
    val got = RankOps.withGroupedRank(df, "r", Seq("g"),
        Seq(col("v").desc, col("id").asc), countCol = Some("n"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("g"),
        r.getAs[Int]("v"), r.getAs[Long]("r"), r.getAs[Long]("n")))
    spark.catalog.clearCache()
    val byGroup = got.groupBy(_._2)
    assert(byGroup.size == 5)
    byGroup.foreach { case (_, rows) =>
      // ranks are the permutation 1..|group| and agree with a local sort
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
      rows.sortBy { case (id, _, v, _, _) => (-v, id) }
        .zipWithIndex.foreach { case ((_, _, _, r, _), i) => assert(r == i + 1) }
      // countCol = group size on every row
      assert(rows.forall(_._5 == rows.length))
    }
  }

  test("withGroupedRank handles single-row and single-group frames") {
    import spark.implicits._
    val one = Seq((1L, "a", 5)).toDF("id", "g", "v")
    val got1 = RankOps.withGroupedRank(one, "r", Seq("g"), Seq(col("v"), col("id")))
      .collect()
    spark.catalog.clearCache()
    assert(got1.length == 1 && got1.head.getAs[Long]("r") == 1L)
    // one group spanning every partition = pure boundary-offset path
    val oneGroup = (1 to 500).map(i => (i.toLong, "only", 500 - i)).toDF("id", "g", "v")
    val got2 = RankOps.withGroupedRank(oneGroup, "r", Seq("g"), Seq(col("v").asc, col("id").asc))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("r"))).toMap
    spark.catalog.clearCache()
    (1 to 500).foreach(i => assert(got2(i.toLong) == (500 - i + 1).toLong))
  }

  test("ntile handles n < k (each row its own bucket)") {
    import spark.implicits._
    val df = Seq((1L, 10), (2L, 5), (3L, 1)).toDF("id", "v")
    val got = RankOps.withGlobalNtile(df, "nt", 5, Seq(col("v").desc, col("id").asc))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("nt"))).toMap
    spark.catalog.clearCache()
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("every RankOps form equals its plain-Window reference (property)") {
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // duplicate sort values (broken by the unique id), a null group, one
    // group holding at least half the rows, summands with 0 and negatives;
    // plus a one-row group and a constant (MAD = 0) group in every case
    val caseGen = for {
      n <- Gen.choose(0, 400)
      parts <- Gen.choose(1, 8)
      twoKeys <- Gen.oneOf(false, true)
      k <- Gen.choose(1, 7)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map { i =>
        val big = rnd.nextBoolean() || rnd.nextBoolean()
        val g1 = if (big) Some("big") else Seq(None, Some("a"), Some("b"))(rnd.nextInt(3))
        val g2 = if (big) Some(0) else Seq(None, Some(0), Some(1))(rnd.nextInt(3))
        (i.toLong, rnd.nextInt(20), g1, g2, rnd.between(-5L, 6L))
      }
      val fixed = Seq((n, 3, "one"), (n + 1, 7, "flat"), (n + 2, 7, "flat"), (n + 3, 7, "flat"))
        .map { case (i, s, g) => (i.toLong, s, Option(g), Option(1), 1L) }
      (rows ++ fixed, parts, if (twoKeys) Seq("g1", "g2") else Seq("g1"), k)
    }
    val prop = Prop.forAllNoShrink(caseGen) { case (rows, parts, groups, k) =>
      val df = rows.toDF("id", "s", "g1", "g2", "v")
      val order = Seq(col("s").desc, col("id").asc)
      val all = Window.orderBy(order: _*)
      val inGroup = Window.partitionBy(groups.map(col): _*)
      val ref = df.select(col("id"),
          row_number().over(all).cast("long").as("rank"),
          row_number().over(inGroup.orderBy(order: _*)).cast("long").as("grank"),
          count(lit(1)).over(inGroup).as("gcount"),
          ntile(k).over(all).cast("long").as("ntile"),
          sum(col("v")).over(all.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"))
        .collect().map(r => r.getLong(0) -> (1 to 5).map(r.getLong)).toMap
      def byId(out: org.apache.spark.sql.DataFrame, cols: String*) =
        out.select(col("id") +: cols.map(col): _*).collect()
          .map(r => r.getLong(0) -> cols.indices.map(i => r.getLong(i + 1))).toMap
      val (ranked, total) = RankOps.withGlobalRankCounted(df, "rank", order, parts)
      val got = Seq(
        byId(ranked, "rank"),
        byId(RankOps.withGroupedRank(df, "grank", groups, order, parts, Some("gcount")),
          "grank", "gcount"),
        byId(RankOps.withGlobalNtile(df, "ntile", k, order), "ntile"),
        byId(RankOps.withGlobalCumSum(df, "cum", col("v"), order, parts), "cum"))
      spark.catalog.clearCache()
      val want = Seq(Seq(0), Seq(1, 2), Seq(3), Seq(4))
        .map(ix => ref.view.mapValues(v => ix.map(v)).toMap)
      // order statistics of s per group (lower median, ceil(n·p), the last
      // row) and the MAD, from valueAt over the grouped core against
      // min(when(row_number() === pos, v)) over plain Windows
      val byValue = Seq(col("s"), col("id"))
      val positions = expr("(n + 1) div 2") +: Seq(0.25, 0.75, 0.9, 0.95, 0.99)
        .map(p => ceil(col("n") * p)) :+ col("n")
      def stats(ranked: org.apache.spark.sql.DataFrame, pick: (Column, Column) => Column) =
        ranked.groupBy(groups.map(col): _*).agg(
          pick(col("s"), positions.head).as("med"), positions.tail.zipWithIndex.map {
            case (p, i) => pick(col("s"), p).as(s"q$i") }: _*)
      def mad(ranked: org.apache.spark.sql.DataFrame, med: org.apache.spark.sql.DataFrame,
              rank: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
              pick: (Column, Column) => Column) = {
        val keyed = med.select(col("med") +: groups.map(g => col(g).as(s"k_$g")): _*)
        val dev = ranked.join(keyed, groups.map(g => col(g) <=> col(s"k_$g")).reduce(_ && _))
          .select(col("id") +: col("n") +: groups.map(col) :+
            abs(col("s") - col("med")).as("absdev"): _*)
        rank(dev).groupBy(groups.map(col): _*)
          .agg(pick(col("absdev"), expr("(n + 1) div 2")).as("mad"))
      }
      def helperRank(f: org.apache.spark.sql.DataFrame, sortCols: Seq[Column]) =
        RankOps.withGroupedRank(f.drop("n"), "rn", groups, sortCols, parts, Some("n"))
      def windowRank(f: org.apache.spark.sql.DataFrame, sortCols: Seq[Column]) =
        f.withColumn("rn", row_number().over(inGroup.orderBy(sortCols: _*)))
          .withColumn("n", count(lit(1)).over(inGroup))
      val viaHelper = helperRank(df, byValue)
      val viaWindow = windowRank(df, byValue)
      val helperStats = stats(viaHelper, RankOps.valueAt(_, "rn", _))
      val windowStats = stats(viaWindow, (v, p) => min(when(col("rn") === p, v)))
      val orderStats = Seq(helperStats, windowStats).map(_.collect().toSet)
      val mads = Seq(
        mad(viaHelper, helperStats, helperRank(_, Seq(col("absdev"), col("id"))),
          RankOps.valueAt(_, "rn", _)),
        mad(viaWindow, windowStats, windowRank(_, Seq(col("absdev"), col("id"))),
          (v, p) => min(when(col("rn") === p, v))))
        .map(_.collect().toSet)
      spark.catalog.clearCache()
      total == rows.size && got == want && orderStats(0) == orderStats(1) &&
        mads(0) == mads(1) && mads(0).exists(_.getAs[Int]("mad") == 0)
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("withGroupedRank fails loudly past the offset-table bound") {
    val groups = spark.range(RankOps.MaxBoundedFrame + 1)
      .select(col("id"), col("id").cast("string").as("g"))
    val e = intercept[Exception] {
      RankOps.withGroupedRank(groups, "r", Seq("g"), Seq(col("id"))).collect()
    }
    spark.catalog.clearCache()
    assert(e.getMessage.contains("bounded-frame guard 'rank_offsets'"),
      s"wrong failure: ${e.getMessage}")
  }

  test("each RankOps form launches no more Spark jobs than the per-form code did") {
    import spark.implicits._
    val group = "rankops-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
          js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def jobsOf(construct: => org.apache.spark.sql.DataFrame): Int = {
      org.apache.spark.TestBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "rankops form")
      try construct.write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      spark.catalog.clearCache()
      jobs.get
    }
    val order = Seq(col("v").desc, col("id").asc)
    val rnd = new scala.util.Random(11)
    val grouped = (1 to 4013).map(i => (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(40)))
      .toDF("id", "g", "v")
    sc.addSparkListener(listener)
    try {
      val counts = Map(
        "rank" -> jobsOf(RankOps.withGlobalRank(sampleDf(1237), "r", order)),
        "ntile" -> jobsOf(RankOps.withGlobalNtile(sampleDf(1237), "nt", 5, order)),
        "grouped" -> jobsOf(RankOps.withGroupedRank(grouped, "r", Seq("g"), order)),
        "grouped_count" -> jobsOf(RankOps.withGroupedRank(grouped, "r", Seq("g"), order,
          countCol = Some("n"))),
        "cumsum" -> jobsOf(RankOps.withGlobalCumSum(sampleDf(1237), "c", col("v"), order)))
      // the previous per-form implementations, on these frames: 6 jobs
      // each, 7 for cumsum (its __pid window re-exchanged the frame)
      val parent = Map("rank" -> 6, "ntile" -> 6, "grouped" -> 6, "grouped_count" -> 6,
        "cumsum" -> 7)
      assert(counts("rank") == parent("rank") && counts("ntile") == parent("ntile"),
        s"global forms must keep their job counts: $counts vs $parent")
      Seq("grouped", "grouped_count", "cumsum").foreach { f =>
        assert(counts(f) <= parent(f), s"$f launched ${counts(f)} jobs, was ${parent(f)}")
      }
    } finally sc.removeSparkListener(listener)
  }

  private val mainRoot = new java.io.File("src/main/scala")

  private def mainSources: Seq[java.io.File] = {
    assert(mainRoot.isDirectory, s"library sources not found under ${mainRoot.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(mainRoot).filter(_.getName.endsWith(".scala"))
  }

  private def text(f: java.io.File) = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("RankOps is one range-partitioned prefix core; no partition-id tricks remain") {
    val banned = Seq("monotonically_increasing_id", "spark_partition_id",
      "Window.partitionBy(col(\"__pid\")")
    val offenders = for {
      f <- mainSources
      b <- banned if text(f).contains(b)
    } yield s"${f.getPath}: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val rankOps = text(new java.io.File(mainRoot, "graft/operators/RankOps.scala"))
    assert("repartitionByRange".r.findAllIn(rankOps).size == 1)
  }

  test("order statistics over few large groups ride the grouped core, not a window pair") {
    // a row_number, or a whole-partition count, over a window keyed by one
    // of these sorts or scans each whole group in one task; calendar
    // buckets and per-key windows are numerous groups and stay plain
    // Windows. The Scala side only: triple-quoted SQL oracles keep the
    // window form, blanked here line for line so reported line numbers
    // stay true
    val fewGroups = Seq("country", "o_orderpriority", "customer_segment", "lang", "source")
    val sql = "(?s)\"{3}.*?\"{3}".r
    val windowVal = """val (\w+)\s*=\s*(Window\.partitionBy\([^\n]*)""".r
    val rankOrCount =
      """(row_number\(\)|count\(lit\(1\)\))\.over\(\s*(Window\.partitionBy\([^\n]*|\w+)""".r
    val offenders = mainSources.flatMap { f =>
      val src = sql.replaceAllIn(text(f), m => "\n" * m.matched.count(_ == '\n'))
      val defs = windowVal.findAllMatchIn(src).toSeq
      def line(at: Int) = s"${f.getPath}:${src.take(at).count(_ == '\n') + 1}"
      rankOrCount.findAllMatchIn(src).flatMap { m =>
        // a window val resolves to its nearest preceding definition
        val spec = if (m.group(2).startsWith("Window")) m.group(2)
          else defs.filter(d => d.group(1) == m.group(2) && d.start < m.start)
            .lastOption.fold("")(_.group(2))
        val wholeGroup = m.group(1) == "row_number()" || !spec.contains(".orderBy")
        fewGroups.find(g => wholeGroup && spec.contains(s"\"$g\""))
          .map(g => s"${line(m.start)}: ${m.group(1)} over a $g window")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("boundedFrame passes values through within the bound") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "v")
    val got = df.withColumn("rn", RankOps.boundedFrame("spec",
      row_number().over(Window.orderBy(col("id"))).cast("long"), maxRows = 100L))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rn")).toMap
    (1 to 100).foreach(i => assert(got(i.toLong) == i.toLong))
  }

  test("boundedFrame raises when the frame is data-proportional") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 101).map(i => (i.toLong, i * 2L)).toDF("id", "v")
    val e = intercept[Exception] {
      df.withColumn("rn", RankOps.boundedFrame("spec",
        row_number().over(Window.orderBy(col("id"))).cast("long"), maxRows = 100L))
        .collect()
    }
    assert(e.getMessage.contains("bounded-frame guard 'spec'"),
      s"wrong failure: ${e.getMessage}")
  }

  test("labelEncode refuses a high-cardinality key column") {
    import spark.implicits._
    val keys = (1 to 10001).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val e = intercept[Exception] {
      graft.operators.FeatureEng.labelEncode(keys, "k", "code").collect()
    }
    assert(e.getMessage.contains("label_encode(k)"), s"wrong failure: ${e.getMessage}")
  }
}
