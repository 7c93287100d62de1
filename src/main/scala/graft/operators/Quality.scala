package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling and outlier detection
  * (reference: src/etl/silver/spark_silver.py:156-253,
  * src/data_quality/core/profiler.py, and the z-score anomaly features in
  * src/etl/transformations/advanced_features.py:273).
  */
object Quality {
  import Exact._

  /** One-row profile of `orders`: null counts, distincts, numeric stats.
    * The reference loops a `count()` per column
    * (spark_silver.py:203-206) — one pass per column over the whole table;
    * here it is a single aggregate pass (one job at any scale). */
  def dqProfileOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val nullCounts = cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))
    val nonNullTotal = cols.map(c => count(col(c))).reduce(_ + _)
    val aggs = nullCounts ++ Seq(
      countDistinct(col("o_custkey")).as("distinct_customers"),
      countDistinct(col("o_orderstatus")).as("distinct_statuses"),
      min(col("o_totalprice")).as("min_totalprice"),
      max(col("o_totalprice")).as("max_totalprice"),
      decSum(col("o_totalprice")).as("__sum"),
      nonNullTotal.cast("long").as("__nonnull"))
    o.agg(countAll.as("total_records"), aggs: _*)
      .withColumn("avg_totalprice", Exact.dec6ToDouble(col("__sum")) / col("total_records"))
      .withColumn("completeness",
        col("__nonnull").cast("double") / (col("total_records") * lit(cols.length)))
      .drop("__sum", "__nonnull")
  }

  /** Generic single-pass profile of ANY DataFrame: one output row per column
    * with null count, approximate distinct (HLL — exact countDistinct per
    * column would be one shuffle each at 100 TB), and min/max rendered as
    * strings. Library API (reference: src/data_quality/core/profiler.py,
    * which loops one Spark job per column — this is one job total). */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = Seq(count(lit(1)).as("__total")) ++ cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        approx_count_distinct(col(c)).as(s"__ad_$c"),
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"),
        (col("__total") - col(s"__nn_$c")).cast("long").as("null_count"),
        (col(s"__nn_$c").cast("double") / col("__total")).as("completeness"),
        col(s"__ad_$c").cast("long").as("approx_distinct"),
        col(s"__mn_$c").as("min_value"), col(s"__mx_$c").as("max_value"))
    }
    one.select(col("__total").as("total_rows"), explode(array(stacked: _*)).as("p"))
      .select(col("p.column"), col("total_rows"), col("p.null_count"),
        col("p.completeness"), col("p.approx_distinct"), col("p.min_value"), col("p.max_value"))
  }

  /** Hash-compare change detection between a current snapshot and incoming
    * rows (reference: src/etl/transformations/windowing.py:275-401 and
    * scd2.py) — insert/update/no_change per business key, via one left join
    * on the key. md5 over a \u0001-separated null-coalesced projection (the
    * reference's F.hash is Spark-internal and irreproducible elsewhere). */
  def detectChanges(current: DataFrame, incoming: DataFrame,
                    keyCols: Seq[String], trackCols: Seq[String]): DataFrame = {
    def rowHash = md5(concat_ws("\u0001", trackCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
    val cur = current.select((keyCols.map(col) :+ rowHash.as("current_hash")): _*)
    incoming
      .withColumn("incoming_hash", rowHash)
      .join(cur, keyCols, "left")
      .withColumn("has_changed",
        col("current_hash").isNull || col("incoming_hash") =!= col("current_hash"))
      .withColumn("change_type",
        when(col("current_hash").isNull, "insert")
          .when(col("incoming_hash") =!= col("current_hash"), "update")
          .otherwise("no_change"))
  }

  /** Order totals in integer cents with their country: the input of the
    * four per-country cents detectors (median_prices, iqr_outliers,
    * mad_outliers, anomaly_ensemble). */
  private[operators] def countryCents(spark: SparkSession, dir: String): DataFrame =
    Tables.ordersWithCountry(spark, dir)
      .select(col("o_orderkey"), col("country"), col("o_totalprice"))
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))

  /** One ranked pass over [[countryCents]] per country (RankOps' grouped
    * core, tie-broken by order key): `s_country`, `n` and the discrete
    * median, q1, q3 and p90 in cents — 25 rows, for a broadcast. */
  private[operators] def countryCentsStats(o: DataFrame): DataFrame =
    RankOps.withGroupedRank(o, "rn", Seq("country"), Seq(col("cents"), col("o_orderkey")),
        countCol = Some("n"))
      .groupBy(col("country").as("s_country"), col("n"))
      .agg(
        RankOps.valueAt(col("cents"), "rn", expr("(n + 1) div 2")).as("med_cents"),
        RankOps.valueAt(col("cents"), "rn", greatest(lit(1L), ceil(col("n") * 0.25))).as("q1_cents"),
        RankOps.valueAt(col("cents"), "rn", ceil(col("n") * 0.75)).as("q3_cents"),
        RankOps.valueAt(col("cents"), "rn", ceil(col("n") * 0.9)).as("p90_cents"))

  /** `stats` ([[countryCentsStats]]) plus `mad_cents`, the discrete median
    * of |cents − median| per country: a second grouped-rank pass, whose
    * positions come from the `n` the first pass counted. */
  private[operators] def withCountryMad(o: DataFrame, stats: DataFrame): DataFrame = {
    val keep = stats.columns.map(col)
    val dev = o.join(broadcast(stats), col("country") === col("s_country"))
      .select(keep ++ Seq(col("o_orderkey"),
        abs(col("cents") - col("med_cents")).as("absdev")): _*)
    RankOps.withGroupedRank(dev, "rn", Seq("s_country"), Seq(col("absdev"), col("o_orderkey")))
      .groupBy(keep: _*)
      .agg(RankOps.valueAt(col("absdev"), "rn", expr("(n + 1) div 2")).as("mad_cents"))
  }

  /** Modified z-score (MAD-based) outliers per country (reference:
    * src/data_quality/core/anomaly_detection.py:329) — robust to the very
    * outliers plain z-score smears. Median and MAD are exact discrete order
    * statistics in integer cents ([[countryCentsStats]], [[withCountryMad]]),
    * so the whole thing is bit-deterministic; the final z =
    * 0.6745·(x-med)/MAD is a fixed IEEE sequence. MAD=0 groups emit NULL z
    * on both engines (explicit guard — engines disagree on x/0). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed because the two grouped ranks and the final join all
    // read it: uncached, the orders-with-country join would run three
    // times. Not persisted: under AQE a persisted input is one more
    // table-cache job, and an unpersist before the final join would re-run
    // the join at execute
    val o = countryCents(spark, dir).localCheckpoint(false)
    val mad = withCountryMad(o, countryCentsStats(o))
    o.join(broadcast(mad), col("country") === col("s_country"))
      .withColumn("median_price", col("med_cents").cast("double") / 100.0)
      .withColumn("mad_price", col("mad_cents").cast("double") / 100.0)
      // explicit MAD=0 guard: engines disagree on x/0 (Spark Divide → NULL
      // or ANSI error, DuckDB → ±inf), so both sides emit NULL
      .withColumn("modified_z",
        when(col("mad_cents") === 0, lit(null).cast("double"))
          .otherwise((lit(0.6745) * (col("cents") - col("med_cents")).cast("double"))
            / col("mad_cents").cast("double")))
      .withColumn("is_mad_outlier", abs(col("modified_z")) > 3.5)
      .select("o_orderkey", "country", "o_totalprice", "median_price", "mad_price",
        "modified_z", "is_mad_outlier")
  }

  /** Rare-category detection over the priority × status lattice (reference:
    * anomaly_detection.py:381). The share window runs on the ~15-row
    * post-aggregate frame — single-partition there is free. */
  def rareCategories(spark: SparkSession, dir: String): DataFrame = {
    val grouped = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(countAll.as("n"))
    val wAll = Window.partitionBy()
    grouped
      .withColumn("total", RankOps.boundedFrame("rare_categories",
        sum(col("n")).over(wAll)).cast("long"))
      .withColumn("share", col("n").cast("double") / col("total"))
      .withColumn("is_rare", col("share") < 0.02)
  }

  /** Calendar gap detection: days inside the order-date span with zero
    * orders (reference: anomaly_detection.py:687 temporal anomalies). */
  def dateGaps(spark: SparkSession, dir: String): DataFrame = {
    val dim = StarSchema.dimDate(spark, dir).select("date", "day_name", "is_weekend")
    val active = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("date")).distinct()
    dim.join(active, Seq("date"), "left_anti")
      .select(col("date").as("missing_date"), col("day_name"), col("is_weekend"))
  }

  /** Distribution-shift check (reference:
    * src/data_quality/core/anomaly_detection.py:783): order totals of the
    * later years vs the earlier years, binned by the reference period's
    * exact deciles (RankOps global rank over integer cents — distributed,
    * no single-partition sort). Drift metrics are total-variation and
    * chi-square contributions — pure arithmetic; PSI's ln() is deliberately
    * absent because libm vs JVM log differ in the last ULP and would break
    * oracle parity. */
  def driftCheck(spark: SparkSession, dir: String, splitYear: Int = 1997): DataFrame = {
    val oc = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        when(year(col("o_orderdate")) <= splitYear, "ref").otherwise("cur").as("period"))
    val ref = oc.filter(col("period") === "ref")
    val (ranked, n) = RankOps.withGlobalRankCounted(ref, "rnk",
      Seq(col("cents").asc, col("o_orderkey").asc))
    val positions = (1 to 9).map(k => math.ceil(n * (k / 10.0)).toLong)
    val edgeAggs = positions.zipWithIndex.map { case (pos, i) =>
      min(when(col("rnk") === pos, col("cents"))).as(s"e${i + 1}")
    }
    val edges = broadcast(ranked.agg(edgeAggs.head, edgeAggs.tail: _*))
    val binned = oc.crossJoin(edges)
      .withColumn("bin",
        (lit(1) + (1 to 9).map(i => (col("cents") > col(s"e$i")).cast("int")).reduce(_ + _))
          .cast("long"))
    val counts = binned.groupBy(col("bin"))
      .agg(
        sum(when(col("period") === "ref", 1L).otherwise(0L)).as("ref_n"),
        sum(when(col("period") === "cur", 1L).otherwise(0L)).as("cur_n"))
    val wAll = Window.partitionBy() // 10-row post-aggregate frame
    counts
      .withColumn("ref_total", RankOps.boundedFrame("drift_bins",
        sum(col("ref_n")).over(wAll)).cast("long"))
      .withColumn("cur_total", sum(col("cur_n")).over(wAll).cast("long"))
      .withColumn("ref_share", col("ref_n").cast("double") / col("ref_total"))
      .withColumn("cur_share", col("cur_n").cast("double") / col("cur_total"))
      .withColumn("abs_diff", abs(col("cur_share") - col("ref_share")))
      .withColumn("tvd_contrib", lit(0.5) * abs(col("cur_share") - col("ref_share")))
      .withColumn("chi2_contrib",
        when(col("ref_n") === 0, lit(null).cast("double"))
          .otherwise(((col("cur_share") - col("ref_share")) * (col("cur_share") - col("ref_share")))
            / col("ref_share")))
  }

  /** Per-country z-score outliers on order totals. Mean/stddev come from
    * exact decimal sums (sum, sum-of-squares) so z is bit-deterministic; the
    * tiny per-country stats frame is broadcast back onto the fact. The
    * reference collects global mean/std to the driver
    * (spark_silver.py:174-188) — same idea, but here it stays a broadcast
    * join and is grouped per country. */
  def anomalyOrders(spark: SparkSession, dir: String): DataFrame = {
    // Variance in exact integer cents (order totals are 2dp) with the
    // shifted-data formula Var = [Σd² - (Σd)²/n]/(n-1), d = cents - S div n.
    // Everything up to the final projection is exact integer/decimal
    // arithmetic; the projection is a fixed sequence of single IEEE ops, so
    // both engines produce identical bits. (Casting computed doubles like
    // (x-mean)² to decimals is NOT parity-safe: DuckDB scales via a double
    // multiply, which diverges from Spark's exact conversion once |v|·10^s
    // approaches 2^53.)
    val o = Tables.ordersWithCountry(spark, dir)
      .select(col("o_orderkey"), col("country"), col("o_totalprice"))
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
    val agg1 = o.groupBy(col("country").as("a_country"))
      .agg(countAll.as("n"), sum(col("cents")).as("s"))
      .withColumn("center", expr("s div n"))
    val d15 = (col("cents") - col("center")).cast("decimal(15,0)")
    val agg2 = o.join(broadcast(agg1), col("country") === col("a_country"))
      .groupBy(col("a_country").as("s_country"), col("n"), col("s"), col("center"))
      .agg(sum(d15 * d15).as("ssd"))
    val tD = (col("s") % col("n")).cast("double") // Σd = S mod n, < n so exact
    // ssd exceeds BIGINT once a group's Σd² passes 2^63 (measured at a 60k-row
    // country of cent² deviations) — the 2^62 hi/lo split converts the full
    // DECIMAL(38,0) range engine-portably (Exact.bigDecToDouble).
    val ssdD = bigDecToDouble(col("ssd"))
    val stats = agg2.select(
      col("s_country"),
      ((col("s").cast("double") / col("n")) / lit(100.0)).as("mean_price"),
      // n=1 guard: (n-1)=0 division parity differs across engines
      when(col("n") <= 1, lit(null).cast("double"))
        .otherwise(sqrt((ssdD - (tD * tD) / col("n")) / (col("n") - 1)) / lit(100.0))
        .as("std_price"))
    o.join(broadcast(stats), o("country") === stats("s_country"))
      .withColumn("z", (col("o_totalprice") - col("mean_price")) / col("std_price"))
      .withColumn("is_outlier", abs(col("z")) > 3.0)
      .select("o_orderkey", "country", "o_totalprice", "mean_price", "std_price", "z", "is_outlier")
  }
}
