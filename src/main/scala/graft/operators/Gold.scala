package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold-layer analytics: the reference's headline surface
  * (reference: src/etl/gold/spark_gold.py:48-199) re-mapped onto the TPC-H-ish
  * test schema — sales fact = lineitem⋈orders, country = customer's nation.
  *
  * Every aggregate follows SURVEY.md §3 (exact decimal sums, ratio columns
  * derived in the final projection), and every ranking window carries a unique
  * tie-breaker so results are bit-deterministic under any shuffle order.
  */
object Gold {
  import Exact._

  /** Sales summary by country × year × month
    * (reference: src/etl/gold/spark_gold.py:48-65). Partial aggregation
    * happens map-side (plain groupBy.agg); countDistinct is exact because the
    * oracle needs it — swap for approx_count_distinct at 100 TB if a 2%
    * error is acceptable. */
  def salesSummary(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.salesFact(spark, dir)
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    f.groupBy(
        col("country"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"))
      .agg(
        countAll.as("total_lines"),
        countDistinct(col("l_orderkey")).as("total_orders"),
        decSum(revenue).as("__rev"),
        decSumDbl(col("l_quantity")).as("total_quantity"),
        countDistinct(col("o_custkey")).as("unique_customers"),
        countDistinct(col("l_partkey")).as("unique_products"))
      .withColumn("total_revenue", dec6ToDouble(col("__rev")))
      .withColumn("avg_line_value", dec6ToDouble(col("__rev")) / col("total_lines"))
      .withColumn("revenue_per_customer", dec6ToDouble(col("__rev")) / col("unique_customers"))
      .drop("__rev")
  }

  /** Product performance by part × country with revenue rank-in-country
    * (reference: src/etl/gold/spark_gold.py:68-90). The rank is per-group
    * distributed (RankOps.withGroupedRank, tie-broken by part key): a bare
    * country-partitioned window would cap parallelism at 25 tasks forever
    * while the ranked part×country frame scales with the part count. */
  def productAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.salesFact(spark, dir)
    val p = Tables.part(spark, dir).select("p_partkey", "p_name", "p_brand")
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    // Aggregate on (l_partkey, country) FIRST, attach the part attributes
    // AFTER (optimization r18, guide §2.3: shuffle fewer bytes). p_name and
    // p_brand are functions of the part key (part is unique-keyed), so
    // grouping by the key alone partitions the fact rows identically, and
    // the inner join filters the same rows whether it runs before or after
    // the aggregation — but run before, every fact row dragged the two
    // part strings through BOTH aggregation exchanges (the distinct
    // pre-shuffle and the final group shuffle); run after, the join
    // touches one part×country row per group instead of one per line item.
    val agg0 = f.groupBy(col("l_partkey"), col("country"))
      .agg(
        decSum(revenue).as("__rev"),
        decSum(col("l_extendedprice")).as("__ext"),
        decSumDbl(col("l_quantity")).as("total_quantity"),
        countAll.as("transaction_count"),
        countDistinct(col("o_custkey")).as("unique_customers"))
    val agg = agg0.join(p, agg0("l_partkey") === p("p_partkey"))
      .select(
        col("p_partkey"), col("p_name"), col("p_brand"), col("country"),
        col("total_quantity"), col("transaction_count"), col("unique_customers"),
        dec6ToDouble(col("__rev")).as("total_revenue"),
        (dec6ToDouble(col("__ext")) / col("transaction_count")).as("avg_extended_price"),
        (dec6ToDouble(col("__rev")) / col("transaction_count")).as("revenue_per_transaction"))
    RankOps.withGroupedRank(agg, "revenue_rank_in_country", Seq("country"),
      Seq(col("total_revenue").desc, col("p_partkey").asc))
  }

  /** RFM customer segmentation (reference: src/etl/gold/spark_gold.py:93-137).
    * ntile scoring is exact SQL NTILE semantics but computed scalably by
    * RankOps' boundary selection (the reference's unpartitioned Window.orderBy is its own
    * scale-killer — see RankOps scaladoc). Segment labels use the reference's
    * regex CASE ladder. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.ordersWithCountry(spark, dir)
    val metrics = o.groupBy(col("o_custkey").as("customer_id"), col("country"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_purchase"),
        min(to_date(col("o_orderdate"))).as("first_purchase"),
        countAll.as("transaction_count"),
        decSum(col("o_totalprice")).as("__spent"))
      .withColumn("total_spent", dec6ToDouble(col("__spent")))
      .withColumn("avg_order_value", dec6ToDouble(col("__spent")) / col("transaction_count"))
      .withColumn("customer_lifetime_days",
        datediff(col("last_purchase"), col("first_purchase")).cast("long"))
      .drop("__spent")

    // Three global NTILE(5)s in one call, each with customer_id as the unique
    // tie-breaker (matches NTILE(5) OVER (ORDER BY x DESC, customer_id) in
    // the oracle).
    val scored = RankOps.withGlobalNtile(metrics, 5, Seq(
      "recency_score" -> Seq(col("last_purchase").desc, col("customer_id").asc),
      "frequency_score" -> Seq(col("transaction_count").desc, col("customer_id").asc),
      "monetary_score" -> Seq(col("total_spent").desc, col("customer_id").asc)))

    // NTILE over DESC ordering makes 1 the best score. The segment regex
    // ladder below is deliberately re-authored: the reference's own ladder
    // (spark_gold.py:120-137) is internally inconsistent about which end is
    // "best", so this is a coherent remap, not a faithful copy.
    val withScore = scored.withColumn("rfm_score",
      concat(col("recency_score").cast("string"),
             col("frequency_score").cast("string"),
             col("monetary_score").cast("string")))
    withScore.withColumn("customer_segment",
      when(col("rfm_score").rlike("^[1-2][1-2][1-2]$"), "Champions")
        .when(col("rfm_score").rlike("^[1-3][3-5][1-2]$"), "Big Spenders")
        .when(col("rfm_score").rlike("^[1-3][1-3][3-5]$"), "Loyal Customers")
        .when(col("rfm_score").rlike("^[1-2][3-5][3-5]$"), "New Customers")
        .when(col("rfm_score").rlike("^[3-4][1-3][1-3]$"), "Potential Loyalists")
        .when(col("rfm_score").rlike("^[2-3][2-3][2-3]$"), "Need Attention")
        .when(col("rfm_score").rlike("^[4-5][1-2][1-2]$"), "Cannot Lose Them")
        .when(col("rfm_score").rlike("^[4-5][4-5][1-2]$"), "At Risk")
        .otherwise("Others"))
  }

  /** Daily time-series metrics with 7-day moving averages
    * (reference: src/etl/gold/spark_gold.py:140-166). The moving average is an
    * exact-decimal windowed sum divided by the window row count, so segment-
    * tree vs streaming window evaluation cannot change the bits. */
  def dailyMetrics(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.ordersWithCountry(spark, dir)
    val daily = o.groupBy(to_date(col("o_orderdate")).as("order_date"), col("country"))
      .agg(
        decSum(col("o_totalprice")).as("__rev"),
        countAll.as("daily_transactions"),
        countDistinct(col("o_custkey")).as("unique_customers"))
      .withColumn("daily_revenue", dec6ToDouble(col("__rev")))
      .withColumn("avg_order_value", dec6ToDouble(col("__rev")) / col("daily_transactions"))
      .drop("__rev")
    val w7 = Window.partitionBy(col("country")).orderBy(col("order_date"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("revenue_7d_sum",
        dec6ToDouble(sum(col("daily_revenue").cast(Exact.Dec)).over(w7)))
      .withColumn("window_days", count(lit(1)).over(w7).cast("long"))
      .withColumn("revenue_7d_avg", col("revenue_7d_sum") / col("window_days"))
      .withColumn("day_of_week", date_format(col("order_date"), "EEEE"))
      .withColumn("is_weekend", dayofweek(col("order_date")).isin(1, 7))
  }

  /** Hierarchical rollup: revenue at (region, country), per-region subtotal,
    * and grand total in one pass — Spark's grouping-sets/rollup surface
    * (reference: the gold layer materializes each aggregation level as a
    * separate table; ROLLUP computes the lattice in one shuffle). grouping()
    * flags distinguish subtotal rows from real NULL keys. */
  def rollupSales(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name").as("country"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name").as("region"))
    val geo = broadcast(n.join(r, n("n_regionkey") === r("r_regionkey")).select("n_nationkey", "country", "region"))
    val f = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(geo, c("c_nationkey") === geo("n_nationkey"))
    f.rollup(col("region"), col("country"))
      .agg(
        countAll.as("orders"),
        decSumDbl(col("o_totalprice")).as("revenue"),
        grouping(col("region")).cast("long").as("is_region_total"),
        grouping(col("country")).cast("long").as("is_country_total"))
  }

  /** Cohort analysis: first-purchase-month cohorts × months-since-first
    * (reference: src/etl/gold/spark_gold.py:169-198). period_number is integer
    * month arithmetic (identical on both engines) rather than the fractional
    * months_between the reference uses. */
  def cohortAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), to_date(col("o_orderdate")).as("od"))
    val firsts = o.groupBy(col("o_custkey").as("fp_custkey"))
      .agg(min(col("od")).as("first_purchase_date"))
    // customer-key shuffle join: both sides scale with SF
    val joined = o.join(firsts, o("o_custkey") === firsts("fp_custkey"))
    joined
      .withColumn("cohort_month", date_format(col("first_purchase_date"), "yyyy-MM"))
      .withColumn("period_number",
        ((year(col("od")) - year(col("first_purchase_date"))) * 12 +
          (month(col("od")) - month(col("first_purchase_date")))).cast("long"))
      .groupBy(col("cohort_month"), col("period_number"))
      .agg(
        countDistinct(col("o_custkey")).as("customers"),
        decSumDbl(col("o_totalprice")).as("revenue"),
        countAll.as("orders"))
  }
}
