package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps compiled whole-stage-codegen classes in one JVM-wide LRU
  * (`spark.sql.codegen.cache.maxEntries`). These four paths generate well
  * over Spark's default of 100 distinct classes between them, so at the
  * default a repeated pass cycles the LRU and recompiles every class; at
  * `GraftSession`'s bound the repeat is served entirely from the cache.
  * The paths are pass-stable: their generated source is the same on every
  * pass (`plans/codegen_cache.json`), so any compile on the repeat is an
  * eviction. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val paths = Seq("rfm_segments", "events_sessions", "bpe_encode", "dedup_simhash")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val before = compiles
    paths.foreach { q =>
      SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    compiles - before
  }

  test("a repeated pass over a >100-class query set compiles no class") {
    pass()
    assert(pass() == 0L)
  }
}
