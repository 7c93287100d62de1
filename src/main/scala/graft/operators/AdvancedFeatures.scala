package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering operators (reference:
  * src/etl/transformations/advanced_features.py — pandas, single-node,
  * per-row; re-expressed as distributed aggregates and windows).
  */
object AdvancedFeatures {
  import Exact._

  /** Market-basket stats per order (reference: advanced_features.py:236).
    * One shuffle on the order key; the size category is the reference's
    * pd.cut bins. */
  def basketFeatures(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.groupBy(col("l_orderkey"))
      .agg(
        countAll.as("basket_size"),
        countDistinct(col("l_partkey")).as("basket_diversity"),
        decSumDbl(col("l_quantity")).as("basket_total_quantity"),
        decSum(col("l_extendedprice")).as("__ext"),
        decSumDbl(revenue).as("basket_total_value"))
      .withColumn("basket_avg_price", dec6ToDouble(col("__ext")) / col("basket_size"))
      .drop("__ext")
      .withColumn("basket_size_category",
        when(col("basket_size") <= 1, "Single")
          .when(col("basket_size") <= 3, "Small")
          .when(col("basket_size") <= 10, "Medium")
          .otherwise("Large"))
  }

  /** Per-customer behavior profile (reference: advanced_features.py:172):
    * tenure, order cadence, spend, plus the modal order day-of-week via a
    * two-level aggregate + rank (never a driver-side mode()). */
  def customerBehavior(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.ordersWithCountry(spark, dir)
      .select(col("o_custkey").as("customer_id"), col("country"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("od"),
        date_format(col("o_orderdate"), "EEEE").as("dow"))
    val base = o.groupBy(col("customer_id"), col("country"))
      .agg(
        countAll.as("orders_count"),
        min(col("od")).as("first_order"),
        max(col("od")).as("last_order"),
        decSum(col("o_totalprice")).as("__spend"))
      .withColumn("tenure_days", datediff(col("last_order"), col("first_order")).cast("long"))
      .withColumn("avg_days_between_orders", col("tenure_days").cast("double") / col("orders_count"))
      .withColumn("total_spend", dec6ToDouble(col("__spend")))
      .withColumn("avg_order_value", dec6ToDouble(col("__spend")) / col("orders_count"))
      .drop("__spend")
    // modal order day-of-week: two-level aggregate + partitioned rank
    // (the reference's driver-side pandas .mode() has no distributed analog)
    val dowCounts = o.groupBy(col("customer_id").as("m_cust"), col("dow"))
      .agg(countAll.as("dow_cnt"))
    val wMode = Window.partitionBy(col("m_cust")).orderBy(col("dow_cnt").desc, col("dow").asc)
    val mode = dowCounts.withColumn("__rn", row_number().over(wMode))
      .filter(col("__rn") === 1)
      .select(col("m_cust"), col("dow").as("preferred_dow"), col("dow_cnt").as("preferred_dow_orders"))
    base.join(mode, base("customer_id") === mode("m_cust")).drop("m_cust")
  }

  /** Monthly seasonality profile (reference: advanced_features.py:326):
    * revenue and order counts per (year, month) with share-of-year — the
    * year total is an exact decimal window sum, so shares are
    * bit-deterministic. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val monthly = o.groupBy(
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"))
      .agg(decSum(col("o_totalprice")).as("__rev"), countAll.as("monthly_orders"))
    val wYear = Window.partitionBy(col("order_year"))
    monthly
      .withColumn("__year_rev", sum(col("__rev")).over(wYear))
      .withColumn("monthly_revenue", dec6ToDouble(col("__rev")))
      .withColumn("year_revenue", dec6ToDouble(col("__year_rev")))
      .withColumn("revenue_share_of_year",
        dec6ToDouble(col("__rev")) / dec6ToDouble(col("__year_rev")))
      .withColumn("month_angle_turns", (col("order_month") - 1) / lit(12.0))
      .withColumn("is_q4", col("order_month") >= 10)
      .drop("__rev", "__year_rev")
  }

  /** Exact discrete median / p90 of order totals per country — order
    * statistics of integer cents from the shared ranked pass
    * ([[Quality.countryCentsStats]]; same portability rationale as
    * iqrOutliers; interpolated percentile bits differ across engines). */
  def medianPrices(spark: SparkSession, dir: String): DataFrame =
    Quality.countryCentsStats(Quality.countryCents(spark, dir)).select(
      col("s_country").as("country"), col("n").as("orders"),
      (col("med_cents").cast("double") / 100.0).as("median_price"),
      (col("p90_cents").cast("double") / 100.0).as("p90_price"))

  /** IQR outlier flags on order totals per country (reference:
    * advanced_features.py:273 uses np.percentile + 1.5·IQR). Quartiles are
    * *discrete* order statistics of integer cents
    * ([[Quality.countryCentsStats]]) — exact and engine-portable, unlike
    * interpolated percentiles whose last-ULP arithmetic differs across
    * engines. */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Quality.countryCents(spark, dir)
    val quart = Quality.countryCentsStats(o)
      .withColumn("lower_cents", col("q1_cents").cast("double") - lit(1.5) * (col("q3_cents") - col("q1_cents")))
      .withColumn("upper_cents", col("q3_cents").cast("double") + lit(1.5) * (col("q3_cents") - col("q1_cents")))
    o.join(broadcast(quart), col("country") === col("s_country"))
      .withColumn("q1_price", col("q1_cents").cast("double") / 100.0)
      .withColumn("q3_price", col("q3_cents").cast("double") / 100.0)
      .withColumn("lower_bound", col("lower_cents") / 100.0)
      .withColumn("upper_bound", col("upper_cents") / 100.0)
      .withColumn("is_iqr_outlier",
        col("cents").cast("double") < col("lower_cents") || col("cents").cast("double") > col("upper_cents"))
      .select("o_orderkey", "country", "o_totalprice", "q1_price", "q3_price",
        "lower_bound", "upper_bound", "is_iqr_outlier")
  }
}
