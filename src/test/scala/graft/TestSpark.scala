package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup dominates
  * test wall-clock otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "local[4]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
