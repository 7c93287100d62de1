package graft

import graft.operators.Funnel
import graft.streaming.StreamingFunnel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingFunnelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("batch-boundary invariance: 1/2/4/7/16 batches equal the batch cascade") {
    val batch = Funnel.eventFunnel(spark, dir).collect().map(_.toString).sorted
    Seq(1, 2, 4, 7, 16).foreach { n =>
      val streamed = StreamingFunnel.streamingFunnelReplay(spark, dir, nBatches = n)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch), s"nBatches=$n diverged from the batch path")
    }
  }

  test("replaying a committed batch is a no-op (exactly-once)") {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "signup", "purchase"))
      .select("user_id", "event_id", "event_type", "ts")
    val stateDir = java.nio.file.Files.createTempDirectory("sfunnel_eo").toString
    val banded = graft.operators.RankOps
      .withGlobalNtile(ev, 2, Seq("__b" -> Seq(col("ts"), col("event_id"))))
      .localCheckpoint(false)
    val sink = StreamingFunnel.funnelSink(stateDir)
    sink(banded.filter(col("__b") === 1).drop("__b"), 0L)
    sink(banded.filter(col("__b") === 2).drop("__b"), 1L)
    val before = spark.read.parquet(s"$stateDir/batch=1")
      .collect().map(_.toString).sorted
    // crash-replay of BOTH batches: committed markers must make them no-ops
    sink(banded.filter(col("__b") === 1).drop("__b"), 0L)
    sink(banded.filter(col("__b") === 2).drop("__b"), 1L)
    val after = spark.read.parquet(s"$stateDir/batch=1")
      .collect().map(_.toString).sorted
    assert(after.sameElements(before))
  }

  test("state is user-bounded and step times are monotone-consistent") {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "signup", "purchase"))
    val stateDir = java.nio.file.Files.createTempDirectory("sfunnel_state").toString
    val banded = graft.operators.RankOps
      .withGlobalNtile(ev.select("user_id", "event_id", "event_type", "ts"),
        3, Seq("__b" -> Seq(col("ts"), col("event_id"))))
      .localCheckpoint(false)
    val sink = StreamingFunnel.funnelSink(stateDir)
    (1 to 3).foreach(k => sink(banded.filter(col("__b") === k).drop("__b"), (k - 1).toLong))
    val st = spark.read.parquet(s"$stateDir/batch=2").persist()
    assert(st.count() == ev.select("user_id").distinct().count())
    assert(st.select("user_id").distinct().count() == st.count())
    // step times are strictly increasing where present (the > contract)
    assert(st.filter(col("t2").isNotNull && !(col("t2") > col("t1"))).count() == 0)
    assert(st.filter(col("t3").isNotNull && !(col("t3") > col("t2"))).count() == 0)
    assert(st.filter(col("t4").isNotNull && !(col("t4") > col("t3"))).count() == 0)
    // a set step implies every earlier step is set
    assert(st.filter(col("t4").isNotNull && (col("t3").isNull ||
      col("t2").isNull || col("t1").isNull)).count() == 0)
    st.unpersist()
  }

  test("a micro-batch folds in one Exchange and no Join; a 4-batch replay constructs in ≤16 jobs") {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "signup", "purchase"))
      .select("user_id", "event_id", "event_type", "ts")
    val stateDir = java.nio.file.Files.createTempDirectory("sfunnel_plan").toString
    val banded = graft.operators.RankOps
      .withGlobalNtile(ev, 2, Seq("__b" -> Seq(col("ts"), col("event_id"))))
      .localCheckpoint(false)
    StreamingFunnel.funnelSink(stateDir)(banded.filter(col("__b") === 1).drop("__b"), 0L)
    val prior = spark.read.parquet(s"$stateDir/batch=0")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      StreamingFunnel.advance(prior, banded.filter(col("__b") === 2).drop("__b"))
        .explain("formatted")
    }
    val plan = out.toString
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).toSet.size
    assert(exchanges == 1, s"one fold planned $exchanges exchanges:\n$plan")
    assert(!plan.contains("Join"), s"one fold planned a join:\n$plan")

    // the replay's eager work: the banding NTILE's boundary selection
    // (count-and-sample, histogram, boundary collect) and each batch's sink
    // write; banding by a global rank made it 12, and the per-batch join,
    // distinct, anti-join and state-schema inference before that 33
    val group = "sfunnel-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
          js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    Tables.events(spark, dir).schema // the input's schema is set-up, not construction
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "streaming funnel replay")
      try StreamingFunnel.streamingFunnelReplay(spark, dir, nBatches = 4)
      finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    spark.catalog.clearCache()
    assert(jobs.get <= 11, s"a 4-batch replay constructed in ${jobs.get} jobs")
  }
}
