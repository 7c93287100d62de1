package graft.operators

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate scale-path variants of the exact operators.
  *
  * The oracle-checked queries use exact semantics (exact countDistinct)
  * because the correctness gate demands bit-equality. At 100 TB you usually
  * trade that for one less shuffle: these variants use HLL distinct counts
  * (±2.3%) and drop the count-distinct Expand. (Exact RFM scoring is
  * already threshold lookups after one aggregate — RankOps' NTILE boundary
  * selection — so it has no approximate twin.)
  */
object Approx {
  import Exact._

  /** Sales summary with HLL distinct counts — same plan shape as the exact
    * query minus the count-distinct Expand (which doubles shuffle volume). */
  def salesSummaryApprox(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.salesFact(spark, dir)
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    f.groupBy(col("country"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        month(col("o_orderdate")).cast("long").as("order_month"))
      .agg(
        countAll.as("total_lines"),
        approx_count_distinct(col("l_orderkey")).as("total_orders_approx"),
        decSumDbl(revenue).as("total_revenue"),
        approx_count_distinct(col("o_custkey")).as("unique_customers_approx"),
        approx_count_distinct(col("l_partkey")).as("unique_products_approx"))
  }

  /** Product analysis with an HLL unique-customer count — the exact twin
    * (Gold.productAnalysis) carries one exact countDistinct whose Expand
    * doubles the shuffled row count; at 100 TB the ±2.3% HLL answer is the
    * recommended form. The distributed grouped rank is kept identical (it is
    * exact and scale-clean either way), so the measured delta isolates the
    * Expand cost. */
  def productAnalysisApprox(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.salesFact(spark, dir)
    val p = Tables.part(spark, dir).select("p_partkey", "p_name", "p_brand")
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    // aggregate on (l_partkey, country) first, join part after — the exact
    // twin's r18 rewrite (guide §2.3), kept identical here so the measured
    // exact-vs-approx delta still isolates the distinct-count cost
    val agg0 = f.groupBy(col("l_partkey"), col("country"))
      .agg(
        decSum(revenue).as("__rev"),
        decSum(col("l_extendedprice")).as("__ext"),
        decSumDbl(col("l_quantity")).as("total_quantity"),
        countAll.as("transaction_count"),
        approx_count_distinct(col("o_custkey")).as("unique_customers_approx"))
    val agg = agg0.join(p, agg0("l_partkey") === p("p_partkey"))
      .select(
        col("p_partkey"), col("p_name"), col("p_brand"), col("country"),
        col("total_quantity"), col("transaction_count"),
        col("unique_customers_approx"),
        col("__rev").cast("double").as("total_revenue"),
        (col("__ext").cast("double") / col("transaction_count")).as("avg_extended_price"),
        (col("__rev").cast("double") / col("transaction_count")).as("revenue_per_transaction"))
    RankOps.withGroupedRank(agg, "revenue_rank_in_country", Seq("country"),
      Seq(col("total_revenue").desc, col("p_partkey").asc))
  }
}
