package graft.operators

import graft.Tables
import graft.Exact.{bigDecToDouble, bigDecToDoubleSql, bigDecToDoubleSigned, bigDecToDoubleSignedSql, countAll}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pairwise Pearson correlation matrix over the lineitem numeric measures
  * (reference: src/data_quality/core/statistical_analyzer.py:210-337 —
  * `analyze_correlations` + `_identify_strong_correlations`).
  *
  * The reference pulls each column to the driver as a Python list and loops;
  * here it is ONE distributed aggregate pass over lineitem computing every
  * moment (n, Σx per column, Σxy per ordered pair) at once, then a driver-side
  * 6-row explode of the single moment row into long-form (col_x, col_y, corr).
  * Determinism recipe (SURVEY §3, same as anomaly_orders): measures become
  * exact integer cents, the cross-moments are exact DECIMAL(38,0) sums, and
  * only the final Pearson projection runs in IEEE double with the identical
  * expression on both engines. The cents scale factor cancels in r.
  */
object Stats {

  /** (parquet column, short alias) — aliases keep the moment-column names
    * compact and are never exposed in the output. */
  private val measures = Seq(
    "l_quantity" -> "qty", "l_extendedprice" -> "price",
    "l_discount" -> "disc", "l_tax" -> "tax")

  private val orderedPairs = // i <= j: self-pairs give the Σx² terms
    for { (i, ai) <- measures.zipWithIndex; (j, _) <- measures.zipWithIndex.drop(ai) } yield (i, j)

  /** Long-form (col_x, col_y, n, corr) pair frame — the shared single-pass
    * moment aggregate behind corrMatrix, corrSignificance and corrClusters. */
  private def corrPairs(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir).select(
      measures.map { case (c, a) => round(col(c) * 100, 0).cast("long").as(a) }: _*)
    def dec(a: String): Column = col(a).cast("decimal(19,0)")
    val moments = cents.agg(
      countAll.as("n"),
      measures.map { case (_, a) => sum(col(a)).as(s"s_$a") } ++
        orderedPairs.map { case ((_, a), (_, b)) => sum(dec(a) * dec(b)).as(s"p_${a}_$b") }: _*)

    val nD = col("n").cast("double")
    def s(a: String): Column = col(s"s_$a").cast("double")
    // Σxy cross-moments are cents² per row — the largest sums in the suite,
    // past 2^63 well before the decimal cap — so the conversion goes through
    // the portable hi/lo split (non-negative measures ⇒ unsigned is enough).
    def p(a: String, b: String): Column = bigDecToDouble(col(s"p_${a}_$b"))
    def corr(a: String, b: String): Column = {
      val den = sqrt(nD * p(a, a) - s(a) * s(a)) * sqrt(nD * p(b, b) - s(b) * s(b))
      when(den === 0.0, lit(null).cast("double"))
        .otherwise((nD * p(a, b) - s(a) * s(b)) / den)
    }
    val rows = orderedPairs.collect { case ((cx, a), (cy, b)) if a != b =>
      struct(lit(cx).as("col_x"), lit(cy).as("col_y"),
        col("n").as("n"), corr(a, b).as("corr"))
    }
    moments.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_x"), col("r.col_y"), col("r.n"), col("r.corr"))
  }

  def corrMatrix(spark: SparkSession, dir: String): DataFrame =
    corrPairs(spark, dir).withColumn("strong", abs(col("corr")) >= 0.7)

  /** Per-country revenue trend via linear-regression slope over the daily
    * series (reference: statistical_analyzer.py:263-313 `analyze_time_series`
    * + `_detect_trend`:797-819). The reference pulls the series to the driver
    * and calls scipy's linregress; here both levels are distributed
    * aggregates — daily rollup (one shuffle), then per-country exact moments
    * (n, Σx, Σy, Σxy, Σx², Σy²) over (epoch-day, daily cents). scipy's
    * t-test p-value is not reproducible cross-engine, so significance is
    * |r| >= 0.3 computed from the same exact moments (documented semantics
    * change, same increasing/decreasing/no_trend contract). */
  def trendDetection(spark: SparkSession, dir: String, minAbsR: Double = 0.3): DataFrame = {
    val daily = Tables.ordersWithCountry(spark, dir)
      .select(col("country"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("country", "day").agg(sum("cents").as("y"))
      .withColumn("x", datediff(col("day"), lit("1992-01-01").cast("date")).cast("long"))
    def dec(c: String): Column = col(c).cast("decimal(19,0)")
    val m = daily.groupBy("country").agg(
      countAll.as("n_days"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(dec("x") * dec("y")).as("sxy"),
      sum(dec("x") * dec("x")).as("sxx"),
      sum(dec("y") * dec("y")).as("syy"))
    val nD = col("n_days").cast("double")
    def d(c: String): Column = col(c).cast("double")          // BIGINT sums: direct cast is portable
    def dd(c: String): Column = bigDecToDouble(col(c))        // DECIMAL(38,0) sums: hi/lo split
    val num = nD * dd("sxy") - d("sx") * d("sy")
    val denX = nD * dd("sxx") - d("sx") * d("sx")
    val denY = nD * dd("syy") - d("sy") * d("sy")
    m.withColumn("slope",
        when(col("n_days") < 3 || denX === 0.0, lit(null).cast("double"))
          .otherwise(num / denX / lit(100.0)))
      .withColumn("r",
        when(col("n_days") < 3 || denX === 0.0 || denY === 0.0, lit(null).cast("double"))
          .otherwise(num / (sqrt(denX) * sqrt(denY))))
      .withColumn("trend",
        when(col("n_days") < 3, "insufficient_data")
          .when(col("r").isNull || abs(col("r")) < minAbsR, "no_trend")
          .when(col("slope") > 0, "increasing")
          .when(col("slope") < 0, "decreasing")
          .otherwise("stable"))
      .select("country", "n_days", "slope", "r", "trend")
  }

  /** Descriptive-statistics profile per order priority (reference:
    * statistical_analyzer.py:315-335 `_calculate_descriptive_stats` — count,
    * mean, sample std/variance, min/max/range, coefficient of variation,
    * skewness, excess kurtosis). The reference computes on a driver-side
    * list; here it is the anomaly_orders shifted-moment recipe extended to
    * 4th order: d = cents - (S div n) keeps every Σd^k an exact integer in
    * DECIMAL(38,0) (no catastrophic cancellation, no engine divergence), and
    * the final central-moment formulas are one fixed IEEE sequence.
    * Skewness g1 = m3/m2^1.5 and excess kurtosis g2 = m4/m2²-3 are
    * scale-invariant, so they are computed directly in cents.
    *
    * Scale bound (documented contract): Σd⁴ accumulates in DECIMAL(38,0)
    * with |d| < ~5.6e7 cents, i.e. ~1e31 per row worst-case — groups beyond
    * ~10M rows can approach the decimal cap, where Spark (non-ANSI) returns
    * NULL while DuckDB raises. For corpora with group cardinalities at that
    * scale, compute the profile at dollar resolution (|d| < 5.6e5 ⇒ 1e23 per
    * row, 1e15 rows of headroom) — a different documented scoring unit. */
  def descriptiveStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val centers = o.groupBy(col("o_orderpriority").as("g"))
      .agg(countAll.as("n"), sum("cents").as("s"),
        min("cents").as("mn"), max("cents").as("mx"))
      .withColumn("center", expr("s div n"))
    val d = (col("cents") - col("center"))            // |d| < price range: fits long
    val d2 = (d * d).as("__d2")                       // ≤ ~1e14: exact long
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val m = o.join(broadcast(centers), col("o_orderpriority") === col("g"))
      .select(col("g"), col("n"), col("s"), col("mn"), col("mx"), col("center"), d.as("__d"), d2)
      .groupBy("g", "n", "s", "mn", "mx", "center")
      .agg(
        sum(dec(col("__d2"))).as("sd2"),
        sum(dec(col("__d2")) * dec(col("__d"))).as("sd3"),
        sum(dec(col("__d2")) * dec(col("__d2"))).as("sd4"))
    val nD = col("n").cast("double")
    val t = (col("s") % col("n")).cast("double")      // Σd = S mod n: exact
    // Σd² / Σd²·d / Σ(d²)² exceed 2^63 long before the DECIMAL(38,0) cap, and
    // a direct decimal→double cast is engine-divergent past 2^63 (the
    // bigDecToDouble contract) — route through the sign-aware hi/lo split
    // (sd3 is an odd moment and can be negative).
    val sd2 = bigDecToDoubleSigned(col("sd2"))
    val sd3 = bigDecToDoubleSigned(col("sd3"))
    val sd4 = bigDecToDoubleSigned(col("sd4"))
    val m2 = (sd2 - (t * t) / nD) / nD                // population central moments (cents^k)
    val m3 = (sd3 - lit(3.0) * t * sd2 / nD + lit(2.0) * t * t * t / (nD * nD)) / nD
    val m4 = (sd4 - lit(4.0) * t * sd3 / nD + lit(6.0) * t * t * sd2 / (nD * nD)
      - lit(3.0) * t * t * t * t / (nD * nD * nD)) / nD
    val mean = (col("s").cast("double") / nD) / lit(100.0)
    val varSample = when(col("n") <= 1, lit(null).cast("double"))
      .otherwise((sd2 - (t * t) / nD) / (nD - lit(1.0)) / lit(10000.0))
    m.select(
        col("g").as("o_orderpriority"),
        col("n"), mean.as("mean"),
        varSample.as("variance"),
        sqrt(varSample).as("std_dev"),
        (col("mn").cast("double") / lit(100.0)).as("min_value"),
        (col("mx").cast("double") / lit(100.0)).as("max_value"),
        ((col("mx") - col("mn")).cast("double") / lit(100.0)).as("value_range"),
        when(col("n") <= 1 || col("s") === 0, lit(null).cast("double"))
          .otherwise(sqrt(varSample) / abs(mean)).as("cv"),
        when(m2 === 0.0, lit(null).cast("double"))
          .otherwise(m3 / sqrt(m2 * m2 * m2)).as("skewness"),
        when(m2 === 0.0, lit(null).cast("double"))
          .otherwise(m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
  }

  /** DuckDB oracle mirroring descriptiveStats — identical moment expansion
    * and IEEE sequencing. */
  def descriptiveStatsOracle: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |), c AS (
      |  SELECT o_orderpriority AS g, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
      |    CAST(MIN(cents) AS BIGINT) AS mn, CAST(MAX(cents) AS BIGINT) AS mx
      |  FROM o GROUP BY 1
      |), cc AS (
      |  SELECT *, s // n AS center FROM c
      |), j AS (
      |  SELECT g, n, s, mn, mx, center,
      |    cents - center AS d, (cents - center) * (cents - center) AS d2
      |  FROM o JOIN cc ON o_orderpriority = g
      |), m AS (
      |  SELECT g, n, s, mn, mx, center,
      |    SUM(CAST(d2 AS DECIMAL(19,0))) AS sd2,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sd3,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))) AS sd4
      |  FROM j GROUP BY 1, 2, 3, 4, 5, 6
      |), p AS (
      |  SELECT g, n, s, mn, mx,
      |    CAST(n AS DOUBLE) AS nd, CAST(s % n AS DOUBLE) AS t,
      |    ${bigDecToDoubleSignedSql("sd2")} AS sd2,
      |    ${bigDecToDoubleSignedSql("sd3")} AS sd3,
      |    ${bigDecToDoubleSignedSql("sd4")} AS sd4
      |  FROM m
      |), q AS (
      |  SELECT g, n, s, mn, mx, nd, t, sd2, sd3, sd4,
      |    (sd2 - (t * t) / nd) / nd AS m2,
      |    (sd3 - 3.0 * t * sd2 / nd + 2.0 * t * t * t / (nd * nd)) / nd AS m3,
      |    (sd4 - 4.0 * t * sd3 / nd + 6.0 * t * t * sd2 / (nd * nd)
      |       - 3.0 * t * t * t * t / (nd * nd * nd)) / nd AS m4,
      |    (CAST(s AS DOUBLE) / nd) / 100.0 AS mean,
      |    CASE WHEN n <= 1 THEN NULL
      |         ELSE (sd2 - (t * t) / nd) / (nd - 1.0) / 10000.0 END AS variance
      |  FROM p
      |)
      |SELECT g AS o_orderpriority, n, mean, variance, sqrt(variance) AS std_dev,
      |  CAST(mn AS DOUBLE) / 100.0 AS min_value,
      |  CAST(mx AS DOUBLE) / 100.0 AS max_value,
      |  CAST(mx - mn AS DOUBLE) / 100.0 AS value_range,
      |  CASE WHEN n <= 1 OR s = 0 THEN NULL ELSE sqrt(variance) / abs(mean) END AS cv,
      |  CASE WHEN m2 = 0.0 THEN NULL ELSE m3 / sqrt(m2 * m2 * m2) END AS skewness,
      |  CASE WHEN m2 = 0.0 THEN NULL ELSE m4 / (m2 * m2) - 3.0 END AS kurtosis
      |FROM q""".stripMargin

  /** Stationarity check per country (reference: statistical_analyzer.py:821-852
    * `_test_stationarity` — split the series in two and compare variances;
    * similar variance ⇒ stationary). The reference splits a driver-side list
    * at its midpoint; here the split is a fixed calendar date (deterministic
    * and distribution-friendly — no global sort to find the midpoint) and
    * each half's variance is the exact shifted-moment recipe. Stationary iff
    * n >= 20 and the variance ratio lies in [0.5, 2.0] (the reference's
    * "similar variance" made explicit). */
  def stationarityCheck(spark: SparkSession, dir: String,
                        splitDate: String = "1995-07-01"): DataFrame = {
    val daily = Tables.ordersWithCountry(spark, dir)
      .select(col("country"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("country", "day").agg(sum("cents").as("y"))
      .withColumn("half", when(col("day") < lit(splitDate).cast("date"), "first").otherwise("second"))
    val centers = daily.groupBy(col("country").as("cg"), col("half").as("hg"))
      .agg(countAll.as("n"), sum("y").as("s"))
      .withColumn("center", expr("s div n"))
    val d = (col("y") - col("center")).cast("decimal(19,0)")
    val byHalf = daily.join(broadcast(centers),
        col("country") === col("cg") && col("half") === col("hg"))
      .groupBy("country", "half", "n", "s", "center")
      .agg(sum(d * d).as("sd2"))
    val t = (col("s") % col("n")).cast("double")
    val varD = when(col("n") <= 1, lit(null).cast("double"))
      .otherwise((bigDecToDouble(col("sd2")) - (t * t) / col("n").cast("double"))
        / (col("n").cast("double") - lit(1.0)))
    val halves = byHalf.select(col("country"), col("half"), col("n"), varD.as("v"))
    val first = halves.filter(col("half") === "first")
      .select(col("country"), col("n").as("n_first"), col("v").as("var_first"))
    val second = halves.filter(col("half") === "second")
      .select(col("country").as("c2"), col("n").as("n_second"), col("v").as("var_second"))
    first.join(second, col("country") === col("c2"), "full_outer")
      .select(
        coalesce(col("country"), col("c2")).as("country"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_second"), lit(0L)).as("n_second"),
        col("var_first"), col("var_second"))
      .withColumn("variance_ratio",
        when(col("var_first").isNull || col("var_second").isNull || col("var_second") === 0.0,
          lit(null).cast("double"))
          .otherwise(col("var_first") / col("var_second")))
      .withColumn("is_stationary",
        col("n_first") + col("n_second") >= 20 &&
          coalesce(col("variance_ratio") >= 0.5 && col("variance_ratio") <= 2.0, lit(false)))
  }

  /** DuckDB oracle mirroring stationarityCheck. */
  def stationarityOracle: String =
    s"""WITH daily AS (
      |  SELECT n_name AS country, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |), h AS (
      |  SELECT *, CASE WHEN day < DATE '1995-07-01' THEN 'first' ELSE 'second' END AS half
      |  FROM daily
      |), c AS (
      |  SELECT country AS cg, half AS hg, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS s
      |  FROM h GROUP BY 1, 2
      |), cc AS (SELECT *, s // n AS center FROM c
      |), m AS (
      |  SELECT cg AS country, hg AS half, n, s,
      |    SUM(CAST(y - center AS DECIMAL(19,0)) * CAST(y - center AS DECIMAL(19,0))) AS sd2
      |  FROM h JOIN cc ON country = cg AND half = hg
      |  GROUP BY 1, 2, 3, 4
      |), v AS (
      |  SELECT country, half, n,
      |    CASE WHEN n <= 1 THEN NULL
      |         ELSE (${bigDecToDoubleSql("sd2")} - (CAST(s % n AS DOUBLE) * CAST(s % n AS DOUBLE)) / CAST(n AS DOUBLE))
      |              / (CAST(n AS DOUBLE) - 1.0) END AS v
      |  FROM m
      |), f AS (SELECT country, n AS n_first, v AS var_first FROM v WHERE half = 'first'
      |), s2 AS (SELECT country AS c2, n AS n_second, v AS var_second FROM v WHERE half = 'second'
      |), j AS (
      |  SELECT coalesce(country, c2) AS country,
      |    coalesce(n_first, 0) AS n_first, coalesce(n_second, 0) AS n_second,
      |    var_first, var_second,
      |    CASE WHEN var_first IS NULL OR var_second IS NULL OR var_second = 0.0 THEN NULL
      |         ELSE var_first / var_second END AS variance_ratio
      |  FROM f FULL OUTER JOIN s2 ON country = c2
      |)
      |SELECT country, n_first, n_second, var_first, var_second, variance_ratio,
      |  n_first + n_second >= 20 AND
      |    coalesce(variance_ratio >= 0.5 AND variance_ratio <= 2.0, FALSE) AS is_stationary
      |FROM j""".stripMargin

  /** DuckDB oracle mirroring trendDetection (same exact-moment recipe). */
  def trendDetectionOracle: String =
    s"""WITH daily AS (
      |  SELECT n_name AS country, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |), xy AS (
      |  SELECT country, y, CAST(datediff('day', DATE '1992-01-01', day) AS BIGINT) AS x FROM daily
      |), m AS (
      |  SELECT country, COUNT(*) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
      |    SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
      |  FROM xy GROUP BY 1
      |), p AS (
      |  SELECT country, n_days,
      |    CAST(n_days AS DOUBLE) * ${bigDecToDoubleSql("sxy")} - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    CAST(n_days AS DOUBLE) * ${bigDecToDoubleSql("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_x,
      |    CAST(n_days AS DOUBLE) * ${bigDecToDoubleSql("syy")} - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y
      |  FROM m
      |), s AS (
      |  SELECT country, n_days,
      |    CASE WHEN n_days < 3 OR den_x = 0.0 THEN NULL ELSE num / den_x / 100.0 END AS slope,
      |    CASE WHEN n_days < 3 OR den_x = 0.0 OR den_y = 0.0 THEN NULL
      |         ELSE num / (sqrt(den_x) * sqrt(den_y)) END AS r
      |  FROM p
      |)
      |SELECT country, n_days, slope, r,
      |  CASE WHEN n_days < 3 THEN 'insufficient_data'
      |       WHEN r IS NULL OR abs(r) < 0.3 THEN 'no_trend'
      |       WHEN slope > 0 THEN 'increasing'
      |       WHEN slope < 0 THEN 'decreasing'
      |       ELSE 'stable' END AS trend
      |FROM s""".stripMargin

  /** Jarque-Bera normality test per order priority (reference:
    * statistical_analyzer.py:579-621 `_jarque_bera_test`). JB = n/6 ·
    * (g1² + g2²/4) from skewness g1 and EXCESS kurtosis g2, both out of the
    * descriptiveStats shifted-moment recipe (exact integer Σdᵏ — same scale
    * bound note applies). scipy's chi² p-value is not reproducible
    * cross-engine; the verdict compares JB against the χ²(2) 95% critical
    * value 5.991464547107979 directly (identical decision contract: p < 0.05
    * ⟺ JB > critical). n < 10 ⇒ inconclusive (null), the reference's
    * minimum-sample guard. */
  def normalityCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val centers = o.groupBy(col("o_orderpriority").as("g"))
      .agg(countAll.as("n"), sum("cents").as("s"))
      .withColumn("center", expr("s div n"))
    val d = (col("cents") - col("center"))
    val d2 = (d * d).as("__d2")
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val m = o.join(broadcast(centers), col("o_orderpriority") === col("g"))
      .select(col("g"), col("n"), col("s"), d.as("__d"), d2)
      .groupBy("g", "n", "s")
      .agg(
        sum(dec(col("__d2"))).as("sd2"),
        sum(dec(col("__d2")) * dec(col("__d"))).as("sd3"),
        sum(dec(col("__d2")) * dec(col("__d2"))).as("sd4"))
    val nD = col("n").cast("double")
    val t = (col("s") % col("n")).cast("double")
    // Σd² / Σd²·d / Σ(d²)² exceed 2^63 long before the DECIMAL(38,0) cap, and
    // a direct decimal→double cast is engine-divergent past 2^63 (the
    // bigDecToDouble contract) — route through the sign-aware hi/lo split
    // (sd3 is an odd moment and can be negative).
    val sd2 = bigDecToDoubleSigned(col("sd2"))
    val sd3 = bigDecToDoubleSigned(col("sd3"))
    val sd4 = bigDecToDoubleSigned(col("sd4"))
    val m2 = (sd2 - (t * t) / nD) / nD
    val m3 = (sd3 - lit(3.0) * t * sd2 / nD + lit(2.0) * t * t * t / (nD * nD)) / nD
    val m4 = (sd4 - lit(4.0) * t * sd3 / nD + lit(6.0) * t * t * sd2 / (nD * nD)
      - lit(3.0) * t * t * t * t / (nD * nD * nD)) / nD
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    val jb = nD / lit(6.0) * (col("skewness") * col("skewness") +
      (col("kurtosis") * col("kurtosis")) / lit(4.0))
    m.select(
        col("g").as("o_orderpriority"), col("n"),
        when(m2 === 0.0, lit(null).cast("double")).otherwise(g1).as("skewness"),
        when(m2 === 0.0, lit(null).cast("double")).otherwise(g2).as("kurtosis"))
      .withColumn("jb_stat",
        when(col("n") < 10 || col("skewness").isNull, lit(null).cast("double")).otherwise(jb))
      .withColumn("is_normal",
        when(col("jb_stat").isNull, lit(null).cast("boolean"))
          .otherwise(col("jb_stat") < 5.991464547107979))
  }

  /** DuckDB oracle mirroring normalityCheck. */
  def normalityCheckOracle: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      |), c AS (
      |  SELECT o_orderpriority AS g, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
      |  FROM o GROUP BY 1
      |), cc AS (SELECT *, s // n AS center FROM c
      |), j AS (
      |  SELECT g, n, s, cents - center AS d, (cents - center) * (cents - center) AS d2
      |  FROM o JOIN cc ON o_orderpriority = g
      |), m AS (
      |  SELECT g, n, s,
      |    SUM(CAST(d2 AS DECIMAL(19,0))) AS sd2,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sd3,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))) AS sd4
      |  FROM j GROUP BY 1, 2, 3
      |), p AS (
      |  SELECT g, n,
      |    CAST(n AS DOUBLE) AS nd, CAST(s % n AS DOUBLE) AS t,
      |    ${bigDecToDoubleSignedSql("sd2")} AS sd2,
      |    ${bigDecToDoubleSignedSql("sd3")} AS sd3,
      |    ${bigDecToDoubleSignedSql("sd4")} AS sd4
      |  FROM m
      |), q AS (
      |  SELECT g, n, nd,
      |    (sd2 - (t * t) / nd) / nd AS m2,
      |    (sd3 - 3.0 * t * sd2 / nd + 2.0 * t * t * t / (nd * nd)) / nd AS m3,
      |    (sd4 - 4.0 * t * sd3 / nd + 6.0 * t * t * sd2 / (nd * nd)
      |       - 3.0 * t * t * t * t / (nd * nd * nd)) / nd AS m4
      |  FROM p
      |), r AS (
      |  SELECT g AS o_orderpriority, n, nd,
      |    CASE WHEN m2 = 0.0 THEN NULL ELSE m3 / sqrt(m2 * m2 * m2) END AS skewness,
      |    CASE WHEN m2 = 0.0 THEN NULL ELSE m4 / (m2 * m2) - 3.0 END AS kurtosis
      |  FROM q
      |), jb AS (
      |  SELECT o_orderpriority, n, skewness, kurtosis,
      |    CASE WHEN n < 10 OR skewness IS NULL THEN NULL
      |         ELSE nd / 6.0 * (skewness * skewness + (kurtosis * kurtosis) / 4.0) END AS jb_stat
      |  FROM r
      |)
      |SELECT o_orderpriority, n, skewness, kurtosis, jb_stat,
      |  CASE WHEN jb_stat IS NULL THEN NULL ELSE jb_stat < 5.991464547107979 END AS is_normal
      |FROM jb""".stripMargin

  /** D'Agostino-Pearson omnibus normality test per order priority
    * (reference: statistical_analyzer.py:621-664 `_dagostino_pearson_test` —
    * scipy.stats.normaltest). K² = Z₁(g1)² + Z₂(b2)² where Z₁ is
    * D'Agostino's (1970) skewness transform and Z₂ the Anscombe-Glynn
    * (1983) kurtosis transform — re-derived here as Catalyst column
    * expressions over the same exact-integer shifted moments as
    * normalityCheck (one aggregate pass, no driver series). K² is χ²(2)
    * under H₀, so the decision shares normality_check's critical value.
    * n < 20 ⇒ inconclusive (nulls), the reference's minimum-sample guard.
    * HASH-EXACT since r9: the two `ln`s run through [[Drift.portableLn]]
    * and the `pow(·, 1/3)` through [[Drift.withPortableCbrt]] (six staged
    * Newton steps) — arithmetic-only transforms mirrored op-for-op by the
    * DuckDB oracle ([[dagostinoCheckOracle]]). Intermediates are staged as
    * real columns so the Newton/ladder trees stay linear. OperatorsSpec
    * replays the closed forms bit-exactly on the JVM via the scalar twins. */
  def dagostinoCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val centers = o.groupBy(col("o_orderpriority").as("g"))
      .agg(countAll.as("n"), sum("cents").as("s"))
      .withColumn("center", expr("s div n"))
    val d = (col("cents") - col("center"))
    val d2 = (d * d).as("__d2")
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val m = o.join(broadcast(centers), col("o_orderpriority") === col("g"))
      .select(col("g"), col("n"), col("s"), d.as("__d"), d2)
      .groupBy("g", "n", "s")
      .agg(
        sum(dec(col("__d2"))).as("sd2"),
        sum(dec(col("__d2")) * dec(col("__d"))).as("sd3"),
        sum(dec(col("__d2")) * dec(col("__d2"))).as("sd4"))
    val nD = col("n").cast("double")
    val t = (col("s") % col("n")).cast("double")
    // Σd² / Σd²·d / Σ(d²)² exceed 2^63 long before the DECIMAL(38,0) cap, and
    // a direct decimal→double cast is engine-divergent past 2^63 (the
    // bigDecToDouble contract) — route through the sign-aware hi/lo split
    // (sd3 is an odd moment and can be negative).
    val sd2 = bigDecToDoubleSigned(col("sd2"))
    val sd3 = bigDecToDoubleSigned(col("sd3"))
    val sd4 = bigDecToDoubleSigned(col("sd4"))
    val m2 = (sd2 - (t * t) / nD) / nD
    val m3 = (sd3 - lit(3.0) * t * sd2 / nD + lit(2.0) * t * t * t / (nD * nD)) / nD
    val m4 = (sd4 - lit(4.0) * t * sd3 / nD + lit(6.0) * t * t * sd2 / (nD * nD)
      - lit(3.0) * t * t * t * t / (nD * nD * nD)) / nD
    // Each named step becomes a REAL column: the portable-ln ladder and the
    // Newton cbrt reference their operands many times, and attribute refs
    // keep the plan linear where nested trees would grow geometrically.
    val staged0a = m
      .withColumn("__m2", m2).withColumn("__m3", m3).withColumn("__m4", m4)
      .withColumn("__g1", col("__m3") / sqrt(col("__m2") * col("__m2") * col("__m2")))
      // Pearson kurtosis (not excess), as scipy's test uses
      .withColumn("__b2", col("__m4") / (col("__m2") * col("__m2")))
      // D'Agostino (1970) skewness Z — scipy.stats.skewtest's exact sequence
      .withColumn("__y0",
        col("__g1") * sqrt((nD + 1.0) * (nD + 3.0) / (lit(6.0) * (nD - 2.0))))
      .withColumn("__y", when(col("__y0") === 0.0, lit(1.0)).otherwise(col("__y0")))
      .withColumn("__beta2",
        lit(3.0) * (nD * nD + lit(27.0) * nD - 70.0) * (nD + 1.0) * (nD + 3.0) /
          ((nD - 2.0) * (nD + 5.0) * (nD + 7.0) * (nD + 9.0)))
      .withColumn("__w2", sqrt(lit(2.0) * (col("__beta2") - 1.0)) - 1.0)
    val lnStaged = Drift.withPortableLn(
      Drift.withPortableLn(staged0a, "__w2", "__lnw2")
        .withColumn("__delta", lit(1.0) / sqrt(lit(0.5) * col("__lnw2")))
        .withColumn("__alpha", sqrt(lit(2.0) / (col("__w2") - 1.0)))
        .withColumn("__u", col("__y") / col("__alpha"))
        .withColumn("__asinharg",
          col("__u") + sqrt(col("__u") * col("__u") + lit(1.0))),
      "__asinharg", "__lnasinh")
    val staged0 = lnStaged
      .withColumn("__z1", col("__delta") * col("__lnasinh"))
      // Anscombe-Glynn (1983) kurtosis Z — scipy.stats.kurtosistest's sequence
      .withColumn("__eb2", lit(3.0) * (nD - 1.0) / (nD + 1.0))
      .withColumn("__vb2", lit(24.0) * nD * (nD - 2.0) * (nD - 3.0) /
        ((nD + 1.0) * (nD + 1.0) * (nD + 3.0) * (nD + 5.0)))
      .withColumn("__x", (col("__b2") - col("__eb2")) / sqrt(col("__vb2")))
      .withColumn("__sb1",
        lit(6.0) * (nD * nD - lit(5.0) * nD + 2.0) / ((nD + 7.0) * (nD + 9.0)) *
          sqrt(lit(6.0) * (nD + 3.0) * (nD + 5.0) / (nD * (nD - 2.0) * (nD - 3.0))))
      .withColumn("__aa", lit(6.0) + lit(8.0) / col("__sb1") *
        (lit(2.0) / col("__sb1") + sqrt(lit(1.0) + lit(4.0) / (col("__sb1") * col("__sb1")))))
      .withColumn("__term1", lit(1.0) - lit(2.0) / (lit(9.0) * col("__aa")))
      .withColumn("__denom", lit(1.0) + col("__x") * sqrt(lit(2.0) / (col("__aa") - 4.0)))
      .withColumn("__cv", (lit(1.0) - lit(2.0) / col("__aa")) / abs(col("__denom")))
    val staged = Drift.withPortableCbrt(staged0, "__cv", "__cbrt")
      .withColumn("__term2", when(col("__denom") === 0.0, lit(Double.NaN))
        .otherwise(signum(col("__denom")) * col("__cbrt")))
      .withColumn("__z2", (col("__term1") - col("__term2")) /
        sqrt(lit(2.0) / (lit(9.0) * col("__aa"))))
    val bad = col("n") < 20 || col("__m2") === 0.0
    def guarded(c: Column): Column = when(bad, lit(null).cast("double")).otherwise(c)
    staged.select(
        col("g").as("o_orderpriority"), col("n"),
        guarded(col("__g1")).as("skewness"), guarded(col("__b2")).as("kurtosis"),
        guarded(col("__z1")).as("z_skew"), guarded(col("__z2")).as("z_kurt"))
      .withColumn("k2_stat",
        when(col("z_skew").isNull || col("z_kurt").isNull, lit(null).cast("double"))
          .otherwise(col("z_skew") * col("z_skew") + col("z_kurt") * col("z_kurt")))
      .withColumn("is_normal",
        when(col("k2_stat").isNull, lit(null).cast("boolean"))
          .otherwise(col("k2_stat") < 5.991464547107979))
  }

  /** DuckDB twin of [[dagostinoCheck]] — normalityCheckOracle's moment CTEs
    * plus the z-transform chain, with every staged column a CTE column and
    * the ln/cbrt expansions emitted by the Drift portable-math emitters. */
  def dagostinoCheckOracle: String = {
    def ln(kVar: String, zVar: String): String =
      s"(($kVar * CAST(${Drift.Ln2} AS DOUBLE)) + ((CAST(2.0 AS DOUBLE) * $zVar) * ${Drift.lnHornerSql(s"($zVar * $zVar)")}))"
    // six Newton steps, each its own CTE (REPLACE rewrites cbt in place)
    val newtonCtes = (1 to 6).map { i =>
      val prev = if (i == 1) "cb0" else s"cb${i - 1}"
      s"""cb$i AS (
         |  SELECT * REPLACE ((((2.0 * cbt) + (cbm / (cbt * cbt))) / 3.0) AS cbt) FROM $prev
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH o AS (
       |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
       |), c AS (
       |  SELECT o_orderpriority AS g, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
       |  FROM o GROUP BY 1
       |), cc AS (SELECT *, s // n AS center FROM c
       |), j AS (
       |  SELECT g, n, s, cents - center AS d, (cents - center) * (cents - center) AS d2
       |  FROM o JOIN cc ON o_orderpriority = g
       |), mm AS (
       |  SELECT g, n, s,
       |    SUM(CAST(d2 AS DECIMAL(19,0))) AS sd2,
       |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sd3,
       |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))) AS sd4
       |  FROM j GROUP BY 1, 2, 3
       |), p AS (
       |  SELECT g, n,
       |    CAST(n AS DOUBLE) AS nd, CAST(s % n AS DOUBLE) AS t,
       |    ${bigDecToDoubleSignedSql("sd2")} AS sd2,
      |    ${bigDecToDoubleSignedSql("sd3")} AS sd3,
      |    ${bigDecToDoubleSignedSql("sd4")} AS sd4
       |  FROM mm
       |), q AS (
       |  SELECT g, n, nd,
       |    (sd2 - (t * t) / nd) / nd AS m2,
       |    (sd3 - 3.0 * t * sd2 / nd + 2.0 * t * t * t / (nd * nd)) / nd AS m3,
       |    (sd4 - 4.0 * t * sd3 / nd + 6.0 * t * t * sd2 / (nd * nd)
       |       - 3.0 * t * t * t * t / (nd * nd * nd)) / nd AS m4
       |  FROM p
       |), r1 AS (
       |  SELECT g, n, nd, m2,
       |    m3 / sqrt((m2 * m2) * m2) AS g1,
       |    m4 / (m2 * m2) AS b2
       |  FROM q
       |), s1 AS (
       |  SELECT *,
       |    g1 * sqrt(((nd + 1.0) * (nd + 3.0)) / (6.0 * (nd - 2.0))) AS y0,
       |    (((3.0 * (((nd * nd) + (27.0 * nd)) - 70.0)) * (nd + 1.0)) * (nd + 3.0))
       |      / ((((nd - 2.0) * (nd + 5.0)) * (nd + 7.0)) * (nd + 9.0)) AS beta2
       |  FROM r1
       |), s2 AS (
       |  SELECT *,
       |    CASE WHEN y0 = 0.0 THEN 1.0 ELSE y0 END AS y,
       |    (sqrt(2.0 * (beta2 - 1.0)) - 1.0) AS w2
       |  FROM s1
       |), l1 AS (
       |  SELECT *, ${Drift.lnLadderSqlK("w2")} AS lnk1, ${Drift.lnLadderSqlM("w2")} AS lnm1 FROM s2
       |), l2 AS (
       |  SELECT *, ((lnm1 - 1.0) / (lnm1 + 1.0)) AS lnz1 FROM l1
       |), l3 AS (
       |  SELECT *, ${ln("lnk1", "lnz1")} AS lnw2 FROM l2
       |), s3 AS (
       |  SELECT *,
       |    1.0 / sqrt(0.5 * lnw2) AS delta,
       |    sqrt(2.0 / (w2 - 1.0)) AS alpha
       |  FROM l3
       |), s4 AS (
       |  SELECT *, y / alpha AS u FROM s3
       |), s5 AS (
       |  SELECT *, (u + sqrt(((u * u) + 1.0))) AS asinharg FROM s4
       |), l4 AS (
       |  SELECT *, ${Drift.lnLadderSqlK("asinharg")} AS lnk2, ${Drift.lnLadderSqlM("asinharg")} AS lnm2 FROM s5
       |), l5 AS (
       |  SELECT *, ((lnm2 - 1.0) / (lnm2 + 1.0)) AS lnz2 FROM l4
       |), l6 AS (
       |  SELECT *, (delta * ${ln("lnk2", "lnz2")}) AS z1 FROM l5
       |), k1 AS (
       |  SELECT *,
       |    ((3.0 * (nd - 1.0)) / (nd + 1.0)) AS eb2,
       |    ((((24.0 * nd) * (nd - 2.0)) * (nd - 3.0))
       |      / ((((nd + 1.0) * (nd + 1.0)) * (nd + 3.0)) * (nd + 5.0))) AS vb2,
       |    (((6.0 * (((nd * nd) - (5.0 * nd)) + 2.0)) / ((nd + 7.0) * (nd + 9.0)))
       |      * sqrt((((6.0 * (nd + 3.0)) * (nd + 5.0)) / ((nd * (nd - 2.0)) * (nd - 3.0))))) AS sb1
       |  FROM l6
       |), k2c AS (
       |  SELECT *,
       |    ((b2 - eb2) / sqrt(vb2)) AS x,
       |    (6.0 + ((8.0 / sb1) * ((2.0 / sb1) + sqrt((1.0 + (4.0 / (sb1 * sb1))))))) AS aa
       |  FROM k1
       |), k3 AS (
       |  SELECT *,
       |    (1.0 - (2.0 / (9.0 * aa))) AS term1,
       |    (1.0 + (x * sqrt((2.0 / (aa - 4.0))))) AS denom
       |  FROM k2c
       |), k4 AS (
       |  SELECT *, ((1.0 - (2.0 / aa)) / abs(denom)) AS cv FROM k3
       |), cb0 AS (
       |  SELECT *, ${Drift.cbLadderSqlM("cv")} AS cbm, ${Drift.cbLadderSqlS("cv")} AS cbs,
       |    (1.0 + ((${Drift.cbLadderSqlM("cv")}) - 1.0) / 3.0) AS cbt
       |  FROM k4
       |), $newtonCtes, k5 AS (
       |  SELECT *, (cbs * cbt) AS cbrt_v FROM cb6
       |), k6 AS (
       |  SELECT *,
       |    CASE WHEN denom = 0.0 THEN CAST('nan' AS DOUBLE)
       |         ELSE CAST(sign(denom) AS DOUBLE) * cbrt_v END AS term2
       |  FROM k5
       |), k7 AS (
       |  SELECT *, ((term1 - term2) / sqrt((2.0 / (9.0 * aa)))) AS z2 FROM k6
       |), fin AS (
       |  SELECT g AS o_orderpriority, n,
       |    CASE WHEN n < 20 OR m2 = 0.0 THEN NULL ELSE g1 END AS skewness,
       |    CASE WHEN n < 20 OR m2 = 0.0 THEN NULL ELSE b2 END AS kurtosis,
       |    CASE WHEN n < 20 OR m2 = 0.0 THEN NULL ELSE z1 END AS z_skew,
       |    CASE WHEN n < 20 OR m2 = 0.0 THEN NULL ELSE z2 END AS z_kurt
       |  FROM k7
       |)
       |SELECT o_orderpriority, n, skewness, kurtosis, z_skew, z_kurt,
       |  CASE WHEN z_skew IS NULL OR z_kurt IS NULL THEN NULL
       |       ELSE (z_skew * z_skew) + (z_kurt * z_kurt) END AS k2_stat,
       |  CASE WHEN z_skew IS NULL OR z_kurt IS NULL THEN NULL
       |       ELSE ((z_skew * z_skew) + (z_kurt * z_kurt)) < 5.991464547107979 END AS is_normal
       |FROM fin""".stripMargin
  }

  private val distPcts = Seq(1, 5, 10, 25, 50, 75, 90, 95, 99)

  /** Distribution profile per order priority (reference:
    * statistical_analyzer.py:106-162 `analyze_distribution` with
    * `_calculate_percentiles`:337 and `_identify_distribution`:392) — the
    * nine-point percentile ladder plus a shape classification from skewness/
    * kurtosis. Percentiles are discrete order statistics (rn = ceil(n·p)) —
    * np.percentile interpolates, which is not engine-portable (SURVEY §3).
    * The reference's Shapiro-Wilk gate is replaced by the Jarque-Bera
    * critical-value decision (same normal/not contract, reproducible), and
    * the lognormal probe is dropped: it needs ln() over the data, and
    * transcendental libm vs Java rounding diverges between engines.
    *
    * The percentile ranks come from RankOps' grouped core (five priorities
    * never mean five busy tasks); the center join is a broadcast (group
    * cardinality is small) and one aggregate selects the ladder and sums the
    * moments. */
  def distributionProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"), col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val centers = o.groupBy(col("o_orderpriority").as("g"))
      .agg(countAll.as("n"), sum("cents").as("s"))
      .withColumn("center", expr("s div n"))
    val d = (col("cents") - col("center"))
    val d2 = (d * d).as("__d2")
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val ranked = RankOps.withGroupedRank(o, "rn", Seq("o_orderpriority"),
        Seq(col("cents"), col("o_orderkey")))
      .join(broadcast(centers), col("o_orderpriority") === col("g"))
      .select(col("g"), col("n"), col("s"), col("cents"), col("rn"), d.as("__d"), d2)
    val pctAggs = distPcts.map { p =>
      RankOps.valueAt(col("cents"), "rn", ceil(col("n") * (p / 100.0))).as(s"__p$p")
    }
    val m = ranked.groupBy("g", "n", "s")
      .agg(pctAggs.head, pctAggs.tail ++ Seq(
        sum(dec(col("__d2"))).as("sd2"),
        sum(dec(col("__d2")) * dec(col("__d"))).as("sd3"),
        sum(dec(col("__d2")) * dec(col("__d2"))).as("sd4")): _*)
    val nD = col("n").cast("double")
    val t = (col("s") % col("n")).cast("double")
    // Σd² / Σd²·d / Σ(d²)² exceed 2^63 long before the DECIMAL(38,0) cap, and
    // a direct decimal→double cast is engine-divergent past 2^63 (the
    // bigDecToDouble contract) — route through the sign-aware hi/lo split
    // (sd3 is an odd moment and can be negative).
    val sd2 = bigDecToDoubleSigned(col("sd2"))
    val sd3 = bigDecToDoubleSigned(col("sd3"))
    val sd4 = bigDecToDoubleSigned(col("sd4"))
    val m2 = (sd2 - (t * t) / nD) / nD
    val m3 = (sd3 - lit(3.0) * t * sd2 / nD + lit(2.0) * t * t * t / (nD * nD)) / nD
    val m4 = (sd4 - lit(4.0) * t * sd3 / nD + lit(6.0) * t * t * sd2 / (nD * nD)
      - lit(3.0) * t * t * t * t / (nD * nD * nD)) / nD
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    val pctCols = distPcts.map(p => (col(s"__p$p").cast("double") / 100.0).as(s"p$p"))
    val base = m.select(
      Seq(col("g").as("o_orderpriority"), col("n"),
        when(m2 === 0.0, lit(null).cast("double")).otherwise(g1).as("skewness"),
        when(m2 === 0.0, lit(null).cast("double")).otherwise(g2).as("kurtosis")) ++
        pctCols: _*)
    val jb = col("n").cast("double") / lit(6.0) * (col("skewness") * col("skewness") +
      (col("kurtosis") * col("kurtosis")) / lit(4.0))
    base
      .withColumn("distribution_type",
        when(col("skewness").isNull, "unknown")
          .when(col("n") >= 8 && jb < 5.991464547107979, "normal")
          .when(abs(col("kurtosis") + 1.2) < 0.5, "uniform")
          .when(col("skewness") > 1.5, "exponential")
          .when(abs(col("skewness")) < 0.5 && abs(col("kurtosis")) < 0.5, "approximately_normal")
          .when(col("skewness") > 0.5, "right_skewed")
          .when(col("skewness") < -0.5, "left_skewed")
          .otherwise("unknown"))
  }

  /** DuckDB oracle mirroring distributionProfile. */
  def distributionProfileOracle: String = {
    val pctSel = distPcts.map(p =>
      s"MIN(CASE WHEN rn = CAST(ceil(n * ${p / 100.0}) AS BIGINT) THEN cents END) AS pp$p")
      .mkString(",\n      |    ")
    val pctOut = distPcts.map(p => s"CAST(pp$p AS DOUBLE) / 100.0 AS p$p").mkString(", ")
    s"""WITH o AS (
      |  SELECT o_orderpriority, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), c AS (
      |  SELECT o_orderpriority AS g, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
      |  FROM o GROUP BY 1
      |), cc AS (SELECT *, s // n AS center FROM c
      |), j AS (
      |  SELECT g, n, s, cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
      |    cents - center AS d, (cents - center) * (cents - center) AS d2
      |  FROM o JOIN cc ON o_orderpriority = g
      |), m AS (
      |  SELECT g, n, s,
      |    $pctSel,
      |    SUM(CAST(d2 AS DECIMAL(19,0))) AS sd2,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS sd3,
      |    SUM(CAST(d2 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))) AS sd4
      |  FROM j GROUP BY 1, 2, 3
      |), p AS (
      |  SELECT g, n, s, ${distPcts.map(p => s"pp$p").mkString(", ")},
      |    CAST(n AS DOUBLE) AS nd, CAST(s % n AS DOUBLE) AS t,
      |    ${bigDecToDoubleSignedSql("sd2")} AS sd2,
      |    ${bigDecToDoubleSignedSql("sd3")} AS sd3,
      |    ${bigDecToDoubleSignedSql("sd4")} AS sd4
      |  FROM m
      |), q AS (
      |  SELECT *,
      |    (sd2 - (t * t) / nd) / nd AS m2,
      |    (sd3 - 3.0 * t * sd2 / nd + 2.0 * t * t * t / (nd * nd)) / nd AS m3,
      |    (sd4 - 4.0 * t * sd3 / nd + 6.0 * t * t * sd2 / (nd * nd)
      |       - 3.0 * t * t * t * t / (nd * nd * nd)) / nd AS m4
      |  FROM p
      |), r AS (
      |  SELECT g AS o_orderpriority, n, nd,
      |    CASE WHEN m2 = 0.0 THEN NULL ELSE m3 / sqrt(m2 * m2 * m2) END AS skewness,
      |    CASE WHEN m2 = 0.0 THEN NULL ELSE m4 / (m2 * m2) - 3.0 END AS kurtosis,
      |    $pctOut
      |  FROM q
      |)
      |SELECT o_orderpriority, n, skewness, kurtosis, ${distPcts.map(p => s"p$p").mkString(", ")},
      |  CASE WHEN skewness IS NULL THEN 'unknown'
      |       WHEN n >= 8 AND nd / 6.0 * (skewness * skewness + (kurtosis * kurtosis) / 4.0)
      |            < 5.991464547107979 THEN 'normal'
      |       WHEN abs(kurtosis + 1.2) < 0.5 THEN 'uniform'
      |       WHEN skewness > 1.5 THEN 'exponential'
      |       WHEN abs(skewness) < 0.5 AND abs(kurtosis) < 0.5 THEN 'approximately_normal'
      |       WHEN skewness > 0.5 THEN 'right_skewed'
      |       WHEN skewness < -0.5 THEN 'left_skewed'
      |       ELSE 'unknown' END AS distribution_type
      |FROM r""".stripMargin
  }

  /** DuckDB oracle mirroring corrMatrix, generated from the same
    * measure/pair lists so the two can never drift. */
  def corrMatrixOracle: String = {
    val centsSel = measures.map { case (c, a) => s"CAST(round($c * 100) AS BIGINT) AS $a" }.mkString(", ")
    val momentSel = (Seq("COUNT(*) AS n") ++
      measures.map { case (_, a) => s"CAST(SUM($a) AS BIGINT) AS s_$a" } ++
      orderedPairs.map { case ((_, a), (_, b)) =>
        s"SUM(CAST($a AS DECIMAL(19,0)) * CAST($b AS DECIMAL(19,0))) AS p_${a}_$b" }).mkString(", ")
    def corrSql(a: String, b: String): String = {
      val den = s"(sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$a")} - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${b}_$b")} - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))"
      s"CASE WHEN $den = 0.0 THEN NULL ELSE " +
        s"(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$b")} - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) / $den END"
    }
    val branches = orderedPairs.collect { case ((cx, a), (cy, b)) if a != b =>
      s"SELECT '$cx' AS col_x, '$cy' AS col_y, n, ${corrSql(a, b)} AS corr FROM m"
    }.mkString("\nUNION ALL\n")
    s"""WITH c AS (SELECT $centsSel FROM lineitem),
       |m AS (SELECT $momentSel FROM c),
       |long AS (
       |$branches
       |)
       |SELECT col_x, col_y, n, corr, abs(corr) >= 0.7 AS strong FROM long""".stripMargin
  }

  /** Two-sided 5% normal quantile — the large-sample critical value for the
    * correlation t-test (t_{0.975,df} and the normal quantile agree to <1e-4
    * for df ≥ 1000, and every per-pair df here is the full lineitem row
    * count). Below 1000 the approximation is not honest, so the decision is
    * NULL there (documented contract). */
  private val ZCrit95 = 1.959963984540054

  /** Pearson-correlation significance test per measure pair (reference:
    * statistical_analyzer.py:717-769 `_test_correlation_significance` —
    * scipy.stats.pearsonr's t-test on r). t = r·√((n−2)/(1−r²)) from the
    * same exact-moment r as corrMatrix; scipy's p-value is transcendental,
    * so the decision compares |t| against the large-sample 5% critical value
    * (the JB/ab_test critical-value precedent). strength/direction grades
    * mirror `_identify_strong_correlations`:688-715 (0.9/0.7 ladder,
    * sign). Perfectly-correlated pairs (1−r² = 0) have an infinite t:
    * t_stat is NULL and significant TRUE by convention (scipy reports
    * p = 0 there). One distributed moment pass; the pair frame itself is
    * schema-bounded (C(4,2) = 6 rows). */
  def corrSignificance(spark: SparkSession, dir: String): DataFrame = {
    val nD = col("n").cast("double")
    val r = col("corr")
    val perfect = (lit(1.0) - r * r) === 0.0
    val t = r * sqrt((nD - 2.0) / (lit(1.0) - r * r))
    corrPairs(spark, dir)
      .withColumn("df", (col("n") - 2).cast("long"))
      .withColumn("t_stat",
        when(r.isNull || perfect || col("df") < 1, lit(null).cast("double")).otherwise(t))
      .withColumn("t_critical",
        when(col("df") >= 1000, lit(ZCrit95)).otherwise(lit(null).cast("double")))
      .withColumn("significant",
        when(r.isNull, lit(null).cast("boolean"))
          .when(perfect, lit(true))
          .when(col("t_critical").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("t_stat")) > col("t_critical")))
      .withColumn("strength",
        when(r.isNull, lit(null).cast("string"))
          .when(abs(r) > 0.9, "very_strong")
          .when(abs(r) > 0.7, "strong")
          .otherwise("weak"))
      .withColumn("direction",
        when(r.isNull, lit(null).cast("string"))
          .when(r > 0, "positive")
          .otherwise("negative"))
  }

  /** Correlated-field clusters: connected components of the |r| > threshold
    * pair graph (reference: statistical_analyzer.py:771-795
    * `_identify_correlation_clusters`; the reference's greedy first-seen
    * grouping is order-dependent — components are its order-free closure,
    * the dedup_clusters precedent). The pair frame is SCHEMA-bounded —
    * C(4,2) = 6 rows regardless of data size (the RankOps provably-tiny
    * collect rule) — so the component labeling is a driver-side union-find
    * over ≤ 4 nodes, not an iterative join. cluster_id = lexicographically
    * smallest member; fields without a strong partner are singletons. */
  def corrClusters(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val pairRows = corrPairs(spark, dir).select("col_x", "col_y", "corr").collect()
    val fields = measures.map(_._1)
    val parent = scala.collection.mutable.Map(fields.map(f => f -> f): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val root = find(parent(x)); parent(x) = root; root }
    pairRows.foreach { row =>
      if (!row.isNullAt(2) && math.abs(row.getDouble(2)) > threshold) {
        val (ra, rb) = (find(row.getString(0)), find(row.getString(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val labels = fields.map(f => (f, find(f)))
    val sizes = labels.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    import spark.implicits._
    labels.map { case (f, c) => (f, c, sizes(c)) }
      .toDF("field", "cluster_id", "cluster_size")
  }

  /** DuckDB oracle mirroring corrSignificance. */
  def corrSignificanceOracle: String = {
    val centsSel = measures.map { case (c, a) => s"CAST(round($c * 100) AS BIGINT) AS $a" }.mkString(", ")
    val momentSel = (Seq("COUNT(*) AS n") ++
      measures.map { case (_, a) => s"CAST(SUM($a) AS BIGINT) AS s_$a" } ++
      orderedPairs.map { case ((_, a), (_, b)) =>
        s"SUM(CAST($a AS DECIMAL(19,0)) * CAST($b AS DECIMAL(19,0))) AS p_${a}_$b" }).mkString(", ")
    def corrSql(a: String, b: String): String = {
      val den = s"(sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$a")} - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${b}_$b")} - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))"
      s"CASE WHEN $den = 0.0 THEN NULL ELSE " +
        s"(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$b")} - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) / $den END"
    }
    val branches = orderedPairs.collect { case ((cx, a), (cy, b)) if a != b =>
      s"SELECT '$cx' AS col_x, '$cy' AS col_y, n, ${corrSql(a, b)} AS corr FROM m"
    }.mkString("\nUNION ALL\n")
    s"""WITH c AS (SELECT $centsSel FROM lineitem),
       |m AS (SELECT $momentSel FROM c),
       |long AS (
       |$branches
       |), t AS (
       |  SELECT col_x, col_y, n, corr, CAST(n - 2 AS BIGINT) AS df,
       |    (1.0 - corr * corr) = 0.0 AS perfect,
       |    corr * sqrt((CAST(n AS DOUBLE) - 2.0) / (1.0 - corr * corr)) AS t_raw
       |  FROM long
       |)
       |SELECT col_x, col_y, n, corr, df,
       |  CASE WHEN corr IS NULL OR perfect OR df < 1 THEN NULL ELSE t_raw END AS t_stat,
       |  CASE WHEN df >= 1000 THEN $ZCrit95 ELSE NULL END AS t_critical,
       |  CASE WHEN corr IS NULL THEN NULL
       |       WHEN perfect THEN TRUE
       |       WHEN df < 1000 THEN NULL
       |       ELSE abs(t_raw) > $ZCrit95 END AS significant,
       |  CASE WHEN corr IS NULL THEN NULL
       |       WHEN abs(corr) > 0.9 THEN 'very_strong'
       |       WHEN abs(corr) > 0.7 THEN 'strong'
       |       ELSE 'weak' END AS strength,
       |  CASE WHEN corr IS NULL THEN NULL
       |       WHEN corr > 0 THEN 'positive'
       |       ELSE 'negative' END AS direction
       |FROM t""".stripMargin
  }

  /** DuckDB oracle mirroring corrClusters: recursive-CTE reachability over
    * the |corr| > 0.8 edge set, min label per component (the dedup_clusters
    * oracle shape over the 4-field graph). */
  def corrClustersOracle: String = {
    val centsSel = measures.map { case (c, a) => s"CAST(round($c * 100) AS BIGINT) AS $a" }.mkString(", ")
    val momentSel = (Seq("COUNT(*) AS n") ++
      measures.map { case (_, a) => s"CAST(SUM($a) AS BIGINT) AS s_$a" } ++
      orderedPairs.map { case ((_, a), (_, b)) =>
        s"SUM(CAST($a AS DECIMAL(19,0)) * CAST($b AS DECIMAL(19,0))) AS p_${a}_$b" }).mkString(", ")
    def corrSql(a: String, b: String): String = {
      val den = s"(sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$a")} - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${b}_$b")} - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))"
      s"CASE WHEN $den = 0.0 THEN NULL ELSE " +
        s"(CAST(n AS DOUBLE) * ${bigDecToDoubleSql(s"p_${a}_$b")} - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) / $den END"
    }
    val branches = orderedPairs.collect { case ((cx, a), (cy, b)) if a != b =>
      s"SELECT '$cx' AS col_x, '$cy' AS col_y, ${corrSql(a, b)} AS corr FROM m"
    }.mkString("\nUNION ALL\n")
    val fieldValues = measures.map { case (c, _) => s"('$c')" }.mkString(", ")
    s"""WITH RECURSIVE c AS (SELECT $centsSel FROM lineitem),
       |m AS (SELECT $momentSel FROM c),
       |long AS (
       |$branches
       |),
       |edges AS (
       |  SELECT col_x AS s, col_y AS d FROM long WHERE abs(corr) > 0.8
       |  UNION ALL SELECT col_y, col_x FROM long WHERE abs(corr) > 0.8
       |),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
       |),
       |lab AS (SELECT node AS field, min(r) AS cluster_id FROM reach GROUP BY 1),
       |sz AS (SELECT cluster_id, count(*) AS csz FROM lab GROUP BY 1),
       |fields(field) AS (VALUES $fieldValues)
       |SELECT f.field, coalesce(lab.cluster_id, f.field) AS cluster_id,
       |  CAST(coalesce(sz.csz, 1) AS BIGINT) AS cluster_size
       |FROM fields f
       |LEFT JOIN lab ON f.field = lab.field
       |LEFT JOIN sz ON lab.cluster_id = sz.cluster_id""".stripMargin
  }
}
