package graft

import graft.operators.{Approx, Gold}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ApproxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("HLL distinct counts land within documented error of exact") {
    val exact = Gold.salesSummary(spark, dir)
      .select("country", "order_year", "order_month", "unique_customers")
    val approx = Approx.salesSummaryApprox(spark, dir)
      .select("country", "order_year", "order_month", "unique_customers_approx")
    val joined = exact.join(approx, Seq("country", "order_year", "order_month"))
      .withColumn("abs_err", abs(col("unique_customers_approx") - col("unique_customers")))
      .withColumn("rel_err", col("abs_err").cast("double") / greatest(col("unique_customers"), lit(1L)))
    // HLL's rsd guarantee is asymptotic: small groups may be off by a small
    // absolute count, large groups by a small relative one
    val bad = joined.filter(col("abs_err") > 3 && col("rel_err") > 0.1).count()
    assert(bad == 0)
  }

  test("approx product analysis keeps exact columns exact and ranks consistently") {
    val exact = Gold.productAnalysis(spark, dir)
      .select(col("p_partkey"), col("country"), col("total_revenue"),
        col("transaction_count").as("tc_e"), col("unique_customers"))
    spark.catalog.clearCache()
    val approx = Approx.productAnalysisApprox(spark, dir)
      .select(col("p_partkey"), col("country").as("c2"), col("total_revenue").as("rev_a"),
        col("transaction_count").as("tc_a"), col("unique_customers_approx"),
        col("revenue_rank_in_country"))
    spark.catalog.clearCache()
    val joined = exact.join(approx,
      col("country") === col("c2") && exact("p_partkey") === approx("p_partkey"))
    val rows = joined.count()
    assert(rows > 0)
    // the non-sketch columns are untouched by the approximation
    assert(joined.filter(col("total_revenue") =!= col("rev_a")).count() == 0)
    assert(joined.filter(col("tc_e") =!= col("tc_a")).count() == 0)
    // HLL bound (same shape as the sales-summary guarantee)
    val bad = joined
      .withColumn("abs_err", abs(col("unique_customers_approx") - col("unique_customers")))
      .withColumn("rel_err", col("abs_err").cast("double") / greatest(col("unique_customers"), lit(1L)))
      .filter(col("abs_err") > 3 && col("rel_err") > 0.1).count()
    assert(bad == 0)
    // ranks are a permutation 1..n within every country
    val badRank = approx.groupBy(col("c2"))
      .agg(count(lit(1)).as("n"), max(col("revenue_rank_in_country")).as("mx"),
        countDistinct(col("revenue_rank_in_country")).as("nd"))
      .filter(col("mx") =!= col("n") || col("nd") =!= col("n")).count()
    spark.catalog.clearCache()
    assert(badRank == 0)
  }
}
