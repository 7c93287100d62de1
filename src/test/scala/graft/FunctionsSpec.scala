package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("array_cosine: identity, orthogonality, null and length-mismatch handling") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),   // orthogonal
      (3L, Array(3.0f, 4.0f), Array(3.0f, 4.0f)),   // identical, non-unit
      (4L, Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)), // length mismatch
      (5L, Array(0.0f, 0.0f), Array(1.0f, 1.0f))    // zero norm
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), expr("array_cosine(a, b)").as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(out(1L).get - 1.0) < 1e-12)
    assert(math.abs(out(2L).get) < 1e-12)
    assert(math.abs(out(3L).get - 1.0) < 1e-12)
    assert(out(4L).isEmpty)
    assert(out(5L).isEmpty)
    val n = df.select(expr("array_cosine(a, null)")).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("array_cosine agrees with the declarative zip_with/aggregate form") {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, TestSpark.sfDir).limit(50)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("fused", expr("array_cosine(va, vb)"))
      .withColumn("declarative",
        expr("""aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
               |CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin) /
          (sqrt(expr("aggregate(zip_with(va, va, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")) *
           sqrt(expr("aggregate(zip_with(vb, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))))
      .withColumn("diff", abs(col("fused") - col("declarative")))
    assert(both.agg(max("diff")).head.getDouble(0) < 1e-9)
  }

  test("word_ngrams / run_stats match the SQL formulations they replaced, both codegen modes") {
    import spark.implicits._
    graft.functions.TextKernels.register(spark)
    val rnd = new scala.util.Random(13)
    // vocab includes empty strings, multi-word tokens, and nulls — the
    // concat_ws null-skip and the run_stats null-singleton rules must match
    val vocab = Vector("a", "b", "cc", "ddd", "e e", "", "longerword", "x1", null)
    val rows: Seq[(Long, Seq[String])] = (0L until 300L).map { i =>
      val len = rnd.nextInt(14) // includes 0 and shorter-than-n arrays
      i -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
    } ++ Seq(300L -> (null: Seq[String]))
    val df = rows.toDF("id", "w")
    val runStatsSql =
      """aggregate(array_sort(w),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'mx', 0L, 'nd', 0L, 'dup', 0L),
        |  (s, x) -> IF(s.prev IS NOT NULL AND x = s.prev,
        |    named_struct('prev', x, 'run', s.run + 1L, 'mx', greatest(s.mx, s.run + 1L),
        |      'nd', s.nd, 'dup', s.dup + IF(s.run = 1L, 2L, 1L)),
        |    named_struct('prev', x, 'run', 1L, 'mx', greatest(s.mx, 1L),
        |      'nd', s.nd + 1L, 'dup', s.dup)),
        |  s -> named_struct('mx', s.mx, 'nd', s.nd, 'dup', s.dup))""".stripMargin
    def check(): Unit = {
      for (n <- Seq(2, 3, 5, 8)) {
        val twin = expr(
          s"""IF(w IS NULL, NULL,
             |   IF(size(w) >= $n,
             |      transform(sequence(1, size(w) - ${n - 1}), i -> concat_ws(' ', slice(w, i, $n))),
             |      array()))""".stripMargin)
        val bad = df.filter(not(expr(s"word_ngrams(w, $n)") <=> twin)).count()
        assert(bad == 0, s"word_ngrams n=$n diverges from the transform/slice SQL")
      }
      val badRs = df.filter(not(expr("run_stats(w)") <=> expr(runStatsSql))).count()
      assert(badRs == 0, "run_stats diverges from the aggregate-lambda SQL")
    }
    check() // whole-stage codegen (default)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check() // interpreted eval path
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // count_in parity vs the interpreted IN-list filter it replaced
    val stopSet = Seq("a", "b", "e e", "")
    val inList = stopSet.map(w => s"'${w}'").mkString(", ")
    def checkCountIn(): Unit = {
      val bad = df.filter(not(
        graft.functions.CountIn.of(spark, col("w"), stopSet) <=>
          expr(s"IF(w IS NULL, NULL, size(filter(w, t -> t IN ($inList))))").cast("long"))).count()
      assert(bad == 0, "count_in diverges from the size(filter(IN)) SQL")
    }
    checkCountIn()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkCountIn()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // trigram_keys parity vs the split/ascii/transform formulation
    val strs = (0L until 200L).map { i =>
      val r2 = new scala.util.Random(i)
      val len = r2.nextInt(30)
      i -> new String((0 until len).map(_ =>
        "abcdefghij élñ0 .,!".charAt(r2.nextInt(19))).toArray)
    } :+ (200L -> (null: String))
    val sdf = strs.toDF("id", "c")
      .withColumn("n", when(col("c").isNotNull && length(col("c")) >= 3,
        (length(col("c")) - 2).cast("long")).otherwise(0L))
    def checkTrigrams(): Unit = {
      val twin = expr(
        """IF(c IS NULL, NULL, transform(sequence(0, cast(n as int) - 1),
          |  i -> ascii(split(c, '')[i]) * 4398046511104L
          |       + ascii(split(c, '')[i+1]) * 2097152L + ascii(split(c, '')[i+2])))""".stripMargin)
      val bad = sdf.filter(col("n") > 0 || col("c").isNull)
        .filter(not(expr("trigram_keys(c, n)") <=> twin)).count()
      assert(bad == 0, "trigram_keys diverges from the split/ascii SQL")
    }
    checkTrigrams()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkTrigrams()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // hand-computed pin: b a b b a c → runs a:2 b:3 c:1 → mx 3, nd 3, dup 5
    val pinned = Seq(Tuple1(Seq("b", "a", "b", "b", "a", "c"))).toDF("w")
      .select(expr("run_stats(w)").as("s")).select("s.mx", "s.nd", "s.dup").head
    assert((pinned.getLong(0), pinned.getLong(1), pinned.getLong(2)) == ((3L, 3L, 5L)))
    val grams = Seq(Tuple1(Seq("x", null, "y", "z"))).toDF("w")
      .select(expr("word_ngrams(w, 2)").as("g")).head.getSeq[String](0)
    assert(grams == Seq("x", "y", "y z")) // concat_ws skips the null word
  }

  test("array_cosine_q20 matches the declarative quantize/aggregate chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // include exact-tie quantization inputs: x*2^20 = k + 0.5 at x = (2k+1)/2^21
    val tie = (3f / 2097152.0f)
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.fill(16)(rnd.nextFloat() * 2 - 1) ++ Array(tie, -tie)))
    val df = vecs.toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = df.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
    def quant(c: org.apache.spark.sql.Column) = transform(c, x => round(x.cast("double") * lit(1048576.0), 0))
    val dot = aggregate(zip_with(quant(col("ea")), quant(col("eb")), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def sq(c: org.apache.spark.sql.Column) = aggregate(transform(quant(c), v => v * v), lit(0.0), (acc, v) => acc + v)
    val nn = sq(col("ea")) * sq(col("eb"))
    val declarative = when(nn === 0.0, lit(null).cast("double")).otherwise(dot / sqrt(nn))
    val mismatch = pairs
      .withColumn("fused", graft.functions.ArrayCosineQ20.of(col("ea"), col("eb")))
      .withColumn("decl", declarative)
      .filter(not(col("fused") <=> col("decl"))).count()
    assert(mismatch == 0)
  }

  /** `sphere_q20`'s reference: the declarative chain `Ann.ivfProj` ran
    * before the kernel (q20 `transform`, `aggregate` norm, one `round` per
    * dimension). */
  private def declarativeIvfProj(df: org.apache.spark.sql.DataFrame,
                                 emb: String): org.apache.spark.sql.DataFrame = {
    val qe = transform(transform(col(emb), x => round(x.cast("double") * lit(1048576.0), 0)),
      x => x.cast("long")).as("__qe")
    val nrm = aggregate(transform(col("__qe"), v => v * v), lit(0L), (a, v) => a + v)
    df.select(col("*"), qe).withColumn("__nrm", nrm)
      .select(col("*") +: (0 until ann.Ann.IvfDims).map { d =>
        val q = coalesce(try_element_at(col("__qe"), lit(d + 1)), lit(0L))
        when(col("__nrm") === 0L, lit(0L))
          .otherwise(round(q.cast("double") * lit(1048576.0) /
            sqrt(col("__nrm").cast("double")), 0).cast("long")).as(s"x$d")
      }: _*)
      .drop("__qe", "__nrm")
  }

  /** `f` under whole-stage codegen, then on the interpreted path. */
  private def bothCodegenModes(f: => Unit): Unit = {
    f
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  /** `df` read back from parquet: a local relation would be evaluated by
    * the optimizer, never by generated code. */
  private def onDisk(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("functions_spec").toString + "/t"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  /** The message chain of what `f` throws. */
  private def failure(f: => Any): String = {
    val e = intercept[Throwable](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
  }

  test("half-up is BigDecimal HALF_UP on the exact double") {
    val rnd = new scala.util.Random(5)
    val special = Seq(0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
      -0.49999999999999994, 0.5000000000000001, 1048575.5, -1048575.5,
      4503599627370495.5, -4503599627370495.5, 4503599627370497.0, 9007199254740993.0,
      0.49999999999999994 * 1048576.0, math.ulp(0.5))
    val random = Seq.fill(20000) {
      val k = rnd.nextInt(1 << 22) - (1 << 21)
      rnd.nextInt(4) match {
        case 0 => k + 0.5                                   // exact ties
        case 1 => k + 0.5 - math.ulp(k + 0.5)               // just below a tie
        case 2 => rnd.nextFloat().toDouble * 1048576.0 * k  // float·2^20 products
        case _ => rnd.nextGaussian() * 1e6
      }
    }
    for (v <- special ++ random) {
      val want = java.math.BigDecimal.valueOf(v).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue
      assert(graft.functions.SphereQ20.halfUp(v) == want, s"halfUp($v)")
    }
    assert(graft.functions.SphereQ20.halfUp(0.49999999999999994) == 0.0)
    assert(math.floor(0.49999999999999994 + 0.5) == 1.0, "floor(v + 0.5) is not the rule")
  }

  test("sphere_q20 / ivfProj equal the declarative chain, both codegen modes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val s = 1048576.0f
    def tie(k: Int): Float = (2 * k + 1) / (2 * s) // x·2^20 = k + 0.5
    // Σq² = 2^42: every q = ±1 projects to ±2^20/2^21 = ±0.5, a tie
    val sphereTie = (Seq(1, -1, 1, -1, 1, 1, 1, 1) ++ Seq(2097150, 2390, 1636)).map(_ / s)
    assert(sphereTie.map(x => math.round(x * s).toLong).map(q => q * q).sum == (1L << 42))
    val generated: Seq[Seq[java.lang.Float]] = Seq(
      sphereTie,
      Seq.empty[Float],
      Seq(0f, 0f, -0f),
      Seq(tie(0), -tie(0), tie(3), -tie(7)),
      Seq((0.49999999999999994 / 1048576.0).toFloat, (-0.49999999999999994 / 1048576.0).toFloat, 1f),
      Seq(tie(5)),
      Seq.fill(63)(tie(rnd.nextInt(100) - 50)),
      Seq.fill(64)(rnd.nextFloat() * 2 - 1),
      Seq.fill(65)(rnd.nextFloat() * 2 - 1),
      Seq.fill(100)(rnd.nextFloat() * 4 - 2)
    ).map(_.map(java.lang.Float.valueOf)) ++ (0 until 300).map { _ =>
      Seq.fill(Seq(0, 1, 3, 63, 64, 65, 100)(rnd.nextInt(7))) {
        val x = if (rnd.nextBoolean()) tie(rnd.nextInt(2000) - 1000) else rnd.nextFloat() * 2 - 1
        java.lang.Float.valueOf(x)
      }
    } ++ Seq(
      Seq[java.lang.Float](1f, null, 2f),
      Seq[java.lang.Float](null),
      Seq[java.lang.Float](0f, 0f, null),
      null)
    val gen = onDisk(generated.zipWithIndex.map { case (v, i) => (-1L - i, v) }
      .toDF("vec_id", "embedding"))
    val emb = Tables.embeddings(spark, TestSpark.sfDir).select(col("vec_id"), col("embedding"))
      .unionByName(gen)
    val xs = (0 until ann.Ann.IvfDims).map(d => s"x$d")
    // overflow: q² past the long range, and q itself past it
    val overflowing = Seq(1e4f -> "ARITHMETIC_OVERFLOW", 1e20f -> "CAST_OVERFLOW").map {
      case (x, cls) => onDisk(Seq((1L, Seq(1f, x))).toDF("vec_id", "embedding")) -> cls
    }
    bothCodegenModes {
      val fused = ann.Ann.ivfProj(emb, "embedding").select("vec_id", xs: _*)
      val decl = declarativeIvfProj(emb, "embedding").select("vec_id", xs: _*)
      val joined = fused.as("f").join(decl.as("d"), Seq("vec_id"), "full_outer")
      val same = xs.map(x => col(s"f.$x") <=> col(s"d.$x")).reduce(_ && _)
      assert(joined.count() == emb.count())
      assert(joined.filter(not(same)).count() == 0, "ivfProj diverges from the declarative chain")
      val nulls = fused.filter(col("vec_id") <= -generated.size + 3L)
        .select(xs.map(x => col(x).isNull.cast("int")).reduce(_ + _)).as[Int].collect()
      assert(nulls.toSeq == Seq.fill(4)(xs.size), "a null element or array must null every x")
      for ((bad, cls) <- overflowing) {
        for (proj <- Seq(ann.Ann.ivfProj _, declarativeIvfProj _)) {
          val msg = failure(proj(bad, "embedding").select(xs.map(col): _*).collect())
          assert(msg.contains(cls), msg)
        }
      }
    }
  }

  test("kmeans_assign in a 64-column z projection equals its interpreted result") {
    val feats = ann.Ann.ivfProj(
      Tables.embeddings(spark, TestSpark.sfDir).select(col("vec_id"), col("embedding")),
      "embedding")
    val xs = (0 until ann.Ann.IvfDims).map(d => s"x$d")
    val rows = feats.select(xs.map(col(_).cast("double")): _*).collect()
      .map(r => Array.tabulate(xs.size)(r.getDouble))
    val centers = rows.take(9) :+ rows(3).clone() // a duplicate center: ties go to index 3
    val model = ml.DetKMeans.Model(rows.length.toLong, Array.fill(xs.size)(0.0),
      Array.fill(xs.size)(1.0), centers)
    def assigned(): Map[Long, Long] = ml.DetKMeans.assign(feats, xs, model)
      .select(col("vec_id").cast("long"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val runs = Seq.newBuilder[Map[Long, Long]]
    bothCodegenModes(runs += assigned())
    val Seq(compiled, interpreted) = runs.result()
    assert(compiled.size == rows.length && compiled == interpreted)
    assert(compiled.values.toSet.subsetOf((0L until 10L).toSet - 9L), "a tie left the first index")
    // centers as a column (not foldable) take the per-row conversion path
    val cs = typedLit(centers.map(_.toSeq).toSeq)
    val viaColumn = feats.withColumn("cs", cs)
      .select(col("vec_id").cast("long"),
        graft.functions.KMeansAssign.of(array(xs.map(col(_).cast("double")): _*),
          when(col("vec_id") >= 0, col("cs"))).as("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaColumn == compiled)
  }

  test("ivfProj's optimized plan holds no interpreted (CodegenFallback) expression") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val feats = ann.Ann.ivfProj(
      Tables.embeddings(spark, TestSpark.sfDir).select(col("vec_id"), col("embedding")),
      "embedding")
    val plan = org.apache.spark.sql.GraftInternal.analyzedToOptimized(feats)
    val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
      case e: HigherOrderFunction => e
      case e: CodegenFallback => e
    }))
    assert(fallbacks.isEmpty, s"interpreted expressions in ivfProj: $fallbacks")
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.functions.SphereQ20]))))
  }

  test("simhash64_md5 token hash equals DuckDB's md5_number_upper") {
    import spark.implicits._
    // md5('abc') = 900150983cd24fb0..., DuckDB md5_number_upper('abc') =
    // 12704604231530709392 (unsigned) = the little-endian first-8-bytes long.
    // This pin IS the cross-engine contract the dedup_simhash oracle rests on.
    val abc = org.apache.spark.unsafe.types.UTF8String.fromString("abc")
    assert(graft.functions.SimHash64.md5Long(abc) == -5742139842178842224L)
    // single-token doc: every hash bit votes alone, so the fingerprint IS the
    // token hash — and eval and codegen must agree on it
    graft.functions.SimHash64.register(spark)
    val viaExpr = Seq(Tuple1(Seq("abc"))).toDF("t")
      .select(expr("simhash64_md5(t)")).head.getLong(0)
    assert(viaExpr == -5742139842178842224L)
  }
}
