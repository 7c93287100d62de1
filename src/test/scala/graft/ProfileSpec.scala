package graft

import graft.tools.Profile
import org.scalatest.funsuite.AnyFunSuite

/** `graft.tools.Profile`'s modes on the shared session: the counts it
  * prints are `Traced`'s, its plan dump covers bench-only paths, and an
  * unknown query name stops it before any Spark job. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("phases: cold then warm, and the warm counts are Traced's for the construct and noop write") {
    val ps = Profile.phases(spark, dir, Seq("events_sessions"))
    assert(ps.map(p => (p.pass, p.path)) ==
      Seq("cold" -> "events_sessions", "warm" -> "events_sessions"))
    val built = Traced(spark)(SparkEntry.queries("events_sessions")(spark, dir))
    val run = Traced(spark)(built.value.write.mode("overwrite").format("noop").save())
    spark.catalog.clearCache()
    val warm = ps.last
    assert((warm.constructJobs, warm.executeJobs) == ((built.jobs, run.jobs)))
    assert(run.jobs > 0 && warm.constructS >= 0 && warm.executeS > 0)
  }

  test("plan: the formatted explain of a bench-only path under its header") {
    val out = Profile.plan(spark, dir, "sales_summary_approx")
    assert(out.startsWith("========== sales_summary_approx ==========\n== Physical Plan ==\n"), out)
  }

  test("an unknown query name fails before any Spark job runs") {
    // a dir with no inputs: the set-up would fail on it, so only the name
    // check can raise, and schemas resolved by earlier tests cannot hide a
    // set-up that runs first
    val empty = java.nio.file.Files.createTempDirectory("profile_empty")
    val run = try Traced(spark) {
      intercept[IllegalArgumentException](
        Profile.phases(spark, empty.toString, Seq("events_sessions", "no_such_path")))
    } finally java.nio.file.Files.delete(empty)
    assert(run.value.getMessage.contains("unknown query: no_such_path"))
    assert(run.jobs == 0, s"${run.jobs} jobs ran before the name check")
    assert(Profile.paths(Nil) == (SparkEntry.queries ++ SparkEntry.benchOnly).keys.toSeq.sorted)
  }
}
