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
    val got = RankOps.withGlobalNtile(sampleDf(n), k, Seq("nt" -> Seq(col("v").desc, col("id").asc)))
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
    val got = RankOps.withGlobalNtile(df, 5, Seq("nt" -> Seq(col("v").desc, col("id").asc)))
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
    // plus a one-row group and a constant (MAD = 0) group in every case.
    // One NTILE call scores three orders: descending, a nullable key
    // ascending with a descending tie-breaker, and doubles with nulls, NaN,
    // ±0.0 and ±∞ descending with nulls first; over the whole frame and
    // over its first `cut` ids (n = 0 and n < k), with k = 1 among the ks
    val caseGen = for {
      n <- Gen.choose(0, 400)
      parts <- Gen.choose(1, 8)
      twoKeys <- Gen.oneOf(false, true)
      k <- Gen.choose(1, 7)
      cut <- Gen.choose(0, 6)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val doubles = Seq(None, Some(Double.NaN), Some(-0.0), Some(0.0), Some(1.5), Some(-2.5),
        Some(Double.PositiveInfinity), Some(Double.NegativeInfinity))
      val rows = (0 until n).map { i =>
        val big = rnd.nextBoolean() || rnd.nextBoolean()
        val g1 = if (big) Some("big") else Seq(None, Some("a"), Some("b"))(rnd.nextInt(3))
        val g2 = if (big) Some(0) else Seq(None, Some(0), Some(1))(rnd.nextInt(3))
        (i.toLong, rnd.nextInt(20), g1, g2, rnd.between(-5L, 6L),
          doubles(rnd.nextInt(doubles.size)))
      }
      val fixed = Seq((n, 3, "one"), (n + 1, 7, "flat"), (n + 2, 7, "flat"), (n + 3, 7, "flat"))
        .map { case (i, s, g) => (i.toLong, s, Option(g), Option(1), 1L, Option(-0.0)) }
      (rows ++ fixed, parts, if (twoKeys) Seq("g1", "g2") else Seq("g1"), k, cut)
    }
    val prop = Prop.forAllNoShrink(caseGen) { case (rows, parts, groups, k, cut) =>
      val df = rows.toDF("id", "s", "g1", "g2", "v", "d")
      val order = Seq(col("s").desc, col("id").asc)
      val tiles = Seq("ntile" -> order,
        "ntile_g2" -> Seq(col("g2").asc, col("id").desc),
        "ntile_d" -> Seq(col("d").desc_nulls_first, col("id").asc))
      val all = Window.orderBy(order: _*)
      val inGroup = Window.partitionBy(groups.map(col): _*)
      val ref = df.select(col("id"),
          row_number().over(all).cast("long").as("rank"),
          row_number().over(inGroup.orderBy(order: _*)).cast("long").as("grank"),
          count(lit(1)).over(inGroup).as("gcount"),
          sum(col("v")).over(all.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"))
        .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
      def byId(out: org.apache.spark.sql.DataFrame, cols: String*) =
        out.select(col("id") +: cols.map(col): _*).collect()
          .map(r => r.getLong(0) -> cols.indices.map(i => r.getLong(i + 1))).toMap
      def ntiles(f: org.apache.spark.sql.DataFrame) =
        f.select(col("id") +: tiles.map { case (name, o) =>
          ntile(k).over(Window.orderBy(o: _*)).cast("long").as(name) }: _*)
      val (ranked, total) = RankOps.withGlobalRankCounted(df, "rank", order, parts)
      val small = df.filter(col("id") < cut)
      val got = Seq(
        byId(ranked, "rank"),
        byId(RankOps.withGroupedRank(df, "grank", groups, order, parts, Some("gcount")),
          "grank", "gcount"),
        byId(RankOps.withGlobalNtile(df, k, tiles), tiles.map(_._1): _*),
        byId(RankOps.withGlobalNtile(small, k, tiles), tiles.map(_._1): _*),
        byId(RankOps.withGlobalCumSum(df, "cum", col("v"), order, parts), "cum"))
      spark.catalog.clearCache()
      val want = Seq(ref.view.mapValues(v => Seq(v(0))).toMap,
        ref.view.mapValues(v => Seq(v(1), v(2))).toMap,
        byId(ntiles(df), tiles.map(_._1): _*),
        byId(ntiles(small), tiles.map(_._1): _*),
        ref.view.mapValues(v => Seq(v(3))).toMap)
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

  /** The Spark jobs `body` launches, and its value. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val run = Traced(spark)(body)
    (run.jobs, run.value)
  }

  private def write(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("each RankOps form launches no more Spark jobs than the per-form code did") {
    import spark.implicits._
    def jobsOfForm(construct: => org.apache.spark.sql.DataFrame): Int = {
      val (n, _) = jobsOf(write(construct))
      spark.catalog.clearCache()
      n
    }
    val order = Seq(col("v").desc, col("id").asc)
    val rnd = new scala.util.Random(11)
    val grouped = (1 to 4013).map(i => (i.toLong, s"g${rnd.nextInt(5)}", rnd.nextInt(40)))
      .toDF("id", "g", "v")
    val counts = Map(
      "rank" -> jobsOfForm(RankOps.withGlobalRank(sampleDf(1237), "r", order)),
      "ntile" -> jobsOfForm(RankOps.withGlobalNtile(sampleDf(1237), 5, Seq("nt" -> order))),
      "ntile3" -> jobsOfForm(RankOps.withGlobalNtile(sampleDf(1237), 5, Seq("a" -> order,
        "b" -> Seq(col("v").asc, col("id").desc), "c" -> Seq(col("id"))))),
      "grouped" -> jobsOfForm(RankOps.withGroupedRank(grouped, "r", Seq("g"), order)),
      "grouped_count" -> jobsOfForm(RankOps.withGroupedRank(grouped, "r", Seq("g"), order,
        countCol = Some("n"))),
      "cumsum" -> jobsOfForm(RankOps.withGlobalCumSum(sampleDf(1237), "c", col("v"), order)))
    // the per-form implementations launched 6 jobs each on these frames
    // (7 for cumsum), and the exchanged offsets collect kept the shared
    // core at 6; the partition-local offsets pass makes every prefix form
    // 5: the range sample, the range shuffle's map stage, the offsets fold
    // (which materializes the checkpoint), then the offsets broadcast and
    // the write. NTILE's boundary selection is 4 for any number of orders:
    // count-and-sample, histogram, boundary-bucket collect, the write
    // (it was 5 per order as a rank)
    val want = Map("rank" -> 5, "ntile" -> 4, "ntile3" -> 4, "grouped" -> 5,
      "grouped_count" -> 5, "cumsum" -> 5)
    assert(counts == want, s"job counts per form: $counts, want $want")
  }

  test("a small collect bound splits a boundary bucket once more; past that NTILE fails") {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("v").desc, col("id").asc)
    val df = sampleDf(1237)
    val want = df.select(col("id"), ntile(5).over(Window.orderBy(order: _*)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def scored(bound: Long) = RankOps.withGlobalNtile(df, 5, Seq("nt" -> order), bound)
    val (defaultJobs, _) = jobsOf(scored(RankOps.MaxBoundedFrame))
    // 1,024 sampled keys cut into 64 first-round buckets of ~19 rows: a
    // bound of 8 sends every boundary bucket to a second histogram over the
    // sampled keys inside it, which leaves ~1 row per bucket
    val (smallJobs, out) = jobsOf(scored(8))
    assert(defaultJobs == 3 && smallJobs == 4, s"jobs: $defaultJobs, then $smallJobs")
    assert(out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("nt")).toMap == want)
    val e = intercept[IllegalStateException](scored(0))
    assert(e.getMessage.contains("bounded-frame guard 'ntile_bounds'"), e.getMessage)
  }

  test("an aggregate input is evaluated once by the rank core and the NTILE selection") {
    // under AQE the aggregate's exchange is added inside the adaptive plan,
    // where an input plan check does not see it; unpersisted, the rank
    // core's range sample and shuffle map would each evaluate the
    // aggregate's output
    val evals = spark.sparkContext.longAccumulator("aggregate evaluations")
    val counted = udf { (v: Long) => evals.add(1); v }.asNondeterministic()
    val agg = spark.range(0, 6000, 1, 4).groupBy((col("id") % 600).as("g"))
      .agg(sum(col("id")).as("s"))
      .select(col("g"), counted(col("s")).as("s"))
    def evaluations(out: => org.apache.spark.sql.DataFrame): Long = {
      evals.reset()
      write(out)
      spark.catalog.clearCache()
      evals.value
    }
    val order = Seq(col("s").desc, col("g").asc)
    assert(evaluations(RankOps.withGlobalRank(agg, "r", order)) == 600L)
    assert(evaluations(RankOps.withGroupedRank(agg.withColumn("h", col("g") % 3), "r",
      Seq("h"), order)) == 600L)
    assert(evaluations(RankOps.withGlobalNtile(agg, 5, Seq("a" -> order,
      "b" -> Seq(col("g").desc)))) == 600L)
  }

  test("rfm_segments constructs its three NTILEs in 6 Spark jobs at sf0.01") {
    val sf001 = new java.io.File(new java.io.File(TestSpark.sfDir).getParentFile, "sf0.01").getPath
    val rfm = SparkEntry.queries("rfm_segments")
    write(rfm(spark, sf001)) // the inputs' schemas are set-up, not construction
    spark.catalog.clearCache()
    // the three query stages of the orders ⋈ customer aggregate, then the
    // count-and-sample job that checkpoints it, the histogram and the
    // boundary collect; the three rank-based NTILEs took 14
    val (jobs, _) = jobsOf(rfm(spark, sf001))
    spark.catalog.clearCache()
    assert(jobs <= 6, s"rfm_segments constructed in $jobs jobs")
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
