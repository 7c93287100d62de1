package graft.operators

import graft.Tables
import graft.Exact.{countAll, dec6ToDouble}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer behavior segmentation rollup (reference:
  * src/etl/gold/materialized_views_manager.py:344-413 — the
  * customer_behavior_metrics materialized view: spend-tier × activity-status
  * matrix with per-segment value metrics).
  *
  * Determinism discipline: every "average" is a RATIO OF EXACT SUMS
  * (Σcents/Σn), never a mean of per-customer doubles — summing doubles is
  * partition-order-dependent and would break the oracle hash (SURVEY §3).
  * The median customer value is an exact discrete order statistic; the
  * activity reference date is max(o_orderdate) computed from the data
  * (broadcast 1-row) rather than the reference's NOW(). Segment percentage
  * uses a window over the rollup frame, whose size is bounded by the 4×3
  * tier matrix — never by the data. */
object Segments {

  def customerSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey"), to_date(col("o_orderdate")).as("day"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val refDate = o.agg(max(col("day")).as("ref_date"))
    val perCust = o.groupBy("o_custkey")
      .agg(
        countAll.as("n_orders"),
        sum("cents").as("spent_c"),
        max("day").as("last_day"), min("day").as("first_day"))
      .crossJoin(broadcast(refDate))
      .withColumn("lifetime_days", datediff(col("last_day"), col("first_day")).cast("long"))
      .withColumn("customer_segment",
        when(col("spent_c") >= 300000000L, "VIP")          // >= $3.0M
          .when(col("spent_c") >= 240000000L, "Premium")   // >= $2.4M
          .when(col("spent_c") >= 180000000L, "Regular")   // >= $1.8M
          .otherwise("Basic"))
      .withColumn("customer_status",
        when(datediff(col("ref_date"), col("last_day")) <= 365, "Active")
          .when(datediff(col("ref_date"), col("last_day")) <= 1095, "At Risk")
          .otherwise("Churned"))
    val ranked = RankOps.withGroupedRank(perCust, "rn", Seq("customer_segment", "customer_status"),
      Seq(col("spent_c"), col("o_custkey")), countCol = Some("n"))
    val agg = ranked.groupBy(col("customer_segment"), col("customer_status"), col("n").as("customer_count"))
      .agg(
        sum(col("spent_c").cast("decimal(19,0)")).as("__rev"),
        sum(col("n_orders")).as("__orders"),
        sum(col("lifetime_days")).as("__life"),
        RankOps.valueAt(col("spent_c"), "rn", expr("(n + 1) div 2")).as("__med"))
    val rev = col("__rev").cast("double") / lit(100.0)
    val withTotals = agg.select(
      col("customer_segment"), col("customer_status"), col("customer_count"),
      rev.as("segment_revenue"),
      (rev / col("customer_count").cast("double")).as("avg_customer_value"),
      (col("__orders").cast("double") / col("customer_count").cast("double")).as("avg_purchases"),
      (rev / col("__orders").cast("double")).as("avg_transaction_size"),
      (col("__life").cast("double") / col("customer_count").cast("double")).as("avg_lifetime_days"),
      (col("__med").cast("double") / 100.0).as("median_customer_value"))
    withTotals
      .withColumn("segment_percentage",
        col("customer_count").cast("double") * lit(100.0) /
          RankOps.boundedFrame("customer_segments",
            sum(col("customer_count")).over(Window.partitionBy())).cast("double"))
  }

  /** DuckDB oracle mirroring customerSegments. */
  def customerSegmentsOracle: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), ref AS (SELECT max(day) AS ref_date FROM o
      |), pc AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS spent_c,
      |    MAX(day) AS last_day, MIN(day) AS first_day
      |  FROM o GROUP BY 1
      |), seg AS (
      |  SELECT pc.*, CAST(datediff('day', first_day, last_day) AS BIGINT) AS lifetime_days,
      |    CASE WHEN spent_c >= 300000000 THEN 'VIP'
      |         WHEN spent_c >= 240000000 THEN 'Premium'
      |         WHEN spent_c >= 180000000 THEN 'Regular'
      |         ELSE 'Basic' END AS customer_segment,
      |    CASE WHEN datediff('day', last_day, ref_date) <= 365 THEN 'Active'
      |         WHEN datediff('day', last_day, ref_date) <= 1095 THEN 'At Risk'
      |         ELSE 'Churned' END AS customer_status
      |  FROM pc CROSS JOIN ref
      |), ranked AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY customer_segment, customer_status
      |                            ORDER BY spent_c, o_custkey) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY customer_segment, customer_status) AS BIGINT) AS n
      |  FROM seg
      |), agg AS (
      |  SELECT customer_segment, customer_status, n AS customer_count,
      |    SUM(CAST(spent_c AS DECIMAL(19,0))) AS rev,
      |    CAST(SUM(n_orders) AS BIGINT) AS orders,
      |    CAST(SUM(lifetime_days) AS BIGINT) AS life,
      |    MIN(CASE WHEN rn = (n + 1) // 2 THEN spent_c END) AS med
      |  FROM ranked GROUP BY 1, 2, 3
      |)
      |SELECT customer_segment, customer_status, customer_count,
      |  CAST(rev AS DOUBLE) / 100.0 AS segment_revenue,
      |  (CAST(rev AS DOUBLE) / 100.0) / CAST(customer_count AS DOUBLE) AS avg_customer_value,
      |  CAST(orders AS DOUBLE) / CAST(customer_count AS DOUBLE) AS avg_purchases,
      |  (CAST(rev AS DOUBLE) / 100.0) / CAST(orders AS DOUBLE) AS avg_transaction_size,
      |  CAST(life AS DOUBLE) / CAST(customer_count AS DOUBLE) AS avg_lifetime_days,
      |  CAST(med AS DOUBLE) / 100.0 AS median_customer_value,
      |  CAST(customer_count AS DOUBLE) * 100.0
      |    / CAST(SUM(customer_count) OVER () AS DOUBLE) AS segment_percentage
      |FROM agg""".stripMargin

  /** RFM segment rollup (reference: materialized_views_manager.py:864-921 —
    * the customer_segments_realtime materialized view: per-RFM-segment
    * customer counts, revenue, value metrics, activity windows and exact
    * median customer value). Built on Gold.rfmSegments' exact distributed
    * NTILEs; the rollup itself is one shuffle on the segment key, and the
    * activity as-of date is the data's own max purchase date (broadcast one
    * row) instead of the reference's NOW(). Averages are ratios of exact
    * sums; the median is a discrete order statistic over the hash-stable
    * per-customer totals. */
  def rfmSegmentRollup(spark: SparkSession, dir: String): DataFrame = {
    val seg = Gold.rfmSegments(spark, dir).select(
      col("customer_id"), col("customer_segment"), col("total_spent"),
      col("transaction_count"), col("last_purchase"),
      (col("recency_score") + col("frequency_score") + col("monetary_score")).as("__score3"))
    val asof = broadcast(seg.agg(max(col("last_purchase")).as("__asof")))
    // per-segment median rank/count via the distributed grouped rank: a bare
    // segment-partitioned window would be ~9 tasks each sorting a whole
    // segment (100M+ customers at scale). countCol is safe here — the totals
    // frame is one row per RFM segment.
    val rankInput = seg.crossJoin(asof)
      .withColumn("__days_since", datediff(col("__asof"), col("last_purchase")).cast("long"))
    val ranked = RankOps.withGroupedRank(rankInput, "rn", Seq("customer_segment"),
      Seq(col("total_spent"), col("customer_id")), countCol = Some("n"))
    val agg = ranked.groupBy(col("customer_segment"), col("n").as("customer_count"))
      .agg(
        sum(col("total_spent").cast("decimal(18,6)")).as("__rev"),
        sum(col("transaction_count")).cast("long").as("__txn"),
        sum(col("__score3")).cast("long").as("__s3"),
        sum(when(col("__days_since") <= 180, 1L).otherwise(0L)).cast("long").as("active_180d"),
        sum(when(col("__days_since") <= 365, 1L).otherwise(0L)).cast("long").as("active_365d"),
        RankOps.valueAt(col("total_spent"), "rn", expr("(n + 1) div 2")).as("median_customer_value"))
    agg.select(
      col("customer_segment"), col("customer_count"),
      dec6ToDouble(col("__rev")).as("segment_revenue"),
      (dec6ToDouble(col("__rev")) / col("customer_count").cast("double")).as("avg_customer_value"),
      (col("__txn").cast("double") / col("customer_count").cast("double")).as("avg_transactions"),
      (col("__s3").cast("double") / (lit(3.0) * col("customer_count").cast("double"))).as("avg_value_score"),
      col("active_180d"), col("active_365d"), col("median_customer_value"))
  }
}
