package graft.operators

import graft.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ensemble anomaly detection (reference: src/ml/analytics/predictive_engine
  * .py:673-826, AnomalyDetector — a pyod IsolationForest/LOF ensemble with
  * averaged scores, mean-vote labels, and a severity ladder at :808-826).
  *
  * The model zoo is MLOps out of scope (SURVEY §6); what this re-expresses is
  * the ensemble *query semantics* — N independent detectors, normalized
  * scores averaged, majority vote, severity ladder — over the repo's three
  * exact detectors (z-score, IQR fence, MAD modified-z; recipes proven
  * portable in Quality.scala / AdvancedFeatures.scala).
  *
  * Cost: the per-country stats are the standalone detectors' own passes —
  * [[Quality.countryCentsStats]] (median and quartiles from one grouped
  * rank), [[Quality.withCountryMad]] (the MAD's grouped rank) — plus one
  * moment aggregate, each 25 rows out and broadcast back onto the fact.
  */
object Ensemble {
  import Exact._

  def anomalyEnsemble(spark: SparkSession, dir: String): DataFrame = {
    // persisted while the two grouped ranks read it twice each (the
    // Quality.madOutliers reasoning)
    val o = Quality.countryCents(spark, dir).persist()

    // moment stats (z-score): shifted-data variance in exact integer cents
    val agg1 = o.groupBy(col("country").as("a_country"))
      .agg(countAll.as("n"), sum(col("cents")).as("s"))
      .withColumn("center", expr("s div n"))
    val d15 = (col("cents") - col("center")).cast("decimal(15,0)")
    val agg2 = o.join(broadcast(agg1), col("country") === col("a_country"))
      .groupBy(col("a_country").as("z_country"), col("n"), col("s"), col("center"))
      .agg(sum(d15 * d15).as("ssd"))
    val tD = (col("s") % col("n")).cast("double")
    val ssdD = bigDecToDouble(col("ssd"))
    val zStats = agg2.select(
      col("z_country"),
      ((col("s").cast("double") / col("n")) / lit(100.0)).as("mean_price"),
      when(col("n") <= 1, lit(null).cast("double"))
        .otherwise(sqrt((ssdD - (tD * tD) / col("n")) / (col("n") - 1)) / lit(100.0))
        .as("std_price"))

    val ordStats = Quality.withCountryMad(o, Quality.countryCentsStats(o))
    o.unpersist()

    val scored = o
      .join(broadcast(zStats), o("country") === col("z_country")).drop("z_country")
      .join(broadcast(ordStats), o("country") === col("s_country"))
      .withColumn("z", (col("o_totalprice") - col("mean_price")) / col("std_price"))
      .withColumn("modified_z",
        when(col("mad_cents") === 0, lit(null).cast("double"))
          .otherwise((lit(0.6745) * (col("cents") - col("med_cents")).cast("double"))
            / col("mad_cents").cast("double")))
      .withColumn("lower_cents",
        col("q1_cents").cast("double") - lit(1.5) * (col("q3_cents") - col("q1_cents")))
      .withColumn("upper_cents",
        col("q3_cents").cast("double") + lit(1.5) * (col("q3_cents") - col("q1_cents")))
      .withColumn("is_iqr_outlier",
        col("cents").cast("double") < col("lower_cents") ||
        col("cents").cast("double") > col("upper_cents"))
    // normalized scores in [0,1]: |z|/3 and |mz|/3.5 capped, fence binary.
    // Null detector (n=1 or MAD=0 group) scores 0 — must be an explicit
    // isNull branch: least() IGNORES nulls on both engines, so
    // least(null, 1.0) would silently score 1.0
    val scoreZ = when(col("z").isNull, lit(0.0))
      .otherwise(least(abs(col("z")) / 3.0, lit(1.0)))
    val scoreM = when(col("modified_z").isNull, lit(0.0))
      .otherwise(least(abs(col("modified_z")) / 3.5, lit(1.0)))
    val scoreI = when(col("is_iqr_outlier"), lit(1.0)).otherwise(lit(0.0))
    val votes =
      when(abs(col("z")) > 3.0, 1L).otherwise(0L) +
      when(abs(col("modified_z")) > 3.5, 1L).otherwise(0L) +
      when(col("is_iqr_outlier"), 1L).otherwise(0L)
    scored
      .withColumn("ensemble_score", (scoreZ + scoreM + scoreI) / 3.0)
      .withColumn("votes", votes)
      .withColumn("is_anomaly", votes >= 2)
      // severity ladder: AnomalyConfig.severity_levels (predictive_engine.py:131)
      .withColumn("severity",
        when(col("ensemble_score") >= 0.9, "critical")
          .when(col("ensemble_score") >= 0.7, "high")
          .when(col("ensemble_score") >= 0.5, "medium")
          .otherwise("low"))
      .select("o_orderkey", "country", "o_totalprice", "z", "modified_z",
        "is_iqr_outlier", "ensemble_score", "votes", "is_anomaly", "severity")
  }

  /** The statistical ensemble plus the KMeans-distance ML detector
    * ([[graft.ml.MlAnomaly]], the reference's `_detect_ml_anomalies` analog)
    * as a FOURTH vote — the reference's pyod zoo mixes statistical and
    * model detectors in exactly this way (predictive_engine.py:698 stacks
    * IForest/LOF next to the z-family). Kept as a separate query key so the
    * 3-vote statistical ensemble stays DuckDB-oracle-exact (MLlib KMeans is
    * partition-order-dependent → this one is rows-only + ScalaTest, the
    * customer_clusters precedent).
    *
    * Cost on top of the two parents: one shuffle join on the order key
    * (both sides order-grain; the ML side re-reads orders/lineitem, the
    * statistical side orders only). */
  def anomalyEnsembleMl(spark: SparkSession, dir: String): DataFrame = {
    val stat = anomalyEnsemble(spark, dir)
    val ml = graft.ml.MlAnomaly.mlAnomaly(spark, dir)
      .select(col("o_orderkey").as("ml_orderkey"), col("ml_score"),
        col("is_ml_anomaly"))
    stat.join(ml, col("o_orderkey") === col("ml_orderkey")).drop("ml_orderkey")
      .withColumn("votes",
        col("votes") + when(col("is_ml_anomaly"), 1L).otherwise(0L))
      .withColumn("ensemble_score",
        (col("ensemble_score") * 3.0 + col("ml_score")) / 4.0)
      .withColumn("is_anomaly", col("votes") >= 2)
      .withColumn("severity",
        when(col("ensemble_score") >= 0.9, "critical")
          .when(col("ensemble_score") >= 0.7, "high")
          .when(col("ensemble_score") >= 0.5, "medium")
          .otherwise("low"))
      .select("o_orderkey", "country", "o_totalprice", "z", "modified_z",
        "is_iqr_outlier", "ml_score", "is_ml_anomaly", "ensemble_score",
        "votes", "is_anomaly", "severity")
  }
}
