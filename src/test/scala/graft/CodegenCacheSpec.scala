package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps compiled whole-stage-codegen classes in one JVM-wide LRU
  * (`spark.sql.codegen.cache.maxEntries`). These paths generate well
  * over Spark's default of 100 distinct classes between them, so at the
  * default a repeated pass cycles the LRU and recompiles every class; at
  * `GraftSession`'s bound the repeat is served entirely from the cache.
  * The paths are pass-stable: their generated source is the same on every
  * pass (`plans/codegen_cache.json`), so any compile on the repeat is an
  * eviction or a join whose build side changed between passes (what
  * semdedup_incremental and incremental_neardup did before theirs was
  * pinned). */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val paths = Seq("rfm_segments", "events_sessions", "bpe_encode", "dedup_simhash",
    "semdedup_incremental", "incremental_neardup")

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

  test("NTILE scoring of an input with other boundaries compiles no class") {
    import graft.functions.NtileScore
    import graft.operators.RankOps
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ntile_codegen").toString
    Seq(0L, 7919L).foreach { shift =>
      (1L to 500L).map(i => (i, (i * 31L + shift) % 1000L)).toDF("id", "v")
        .write.parquet(s"$dir/t$shift")
    }
    def scored(shift: Long) = RankOps.withGlobalNtile(spark.read.parquet(s"$dir/t$shift"), 5,
      Seq("a" -> Seq(col("v").desc, col("id")), "b" -> Seq(col("id").desc)))
    val first = scored(0L)
    first.write.format("noop").mode("overwrite").save()
    // the scoring projection is whole-stage code, not an interpreted fallback
    val fused = first.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[NtileScore]))))
    assert(fused, first.queryExecution.executedPlan.toString)
    val before = compiles
    scored(7919L).write.format("noop").mode("overwrite").save()
    assert(compiles - before == 0L)
  }
}
