package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** One benchmark run in one fresh JVM: set-up, a cold pass, then warm
  * passes until the requested seconds are spent, then (outside every timed
  * region) the retained heap. With `--trace 1` a
  * SparkListener and a QueryExecutionListener are attached, each (pass,
  * query, phase) runs under its own job group, traced and untraced warm
  * passes alternate so the tracing overhead is measured, and the spans are
  * written when the run ends.
  *
  * One closed-loop client: the queries of a workload run one after
  * another in a fixed order, each waiting for the previous one. A query's
  * time covers construction (the `fn(spark, dir)` call, where graft does
  * its eager collects, fits, index builds and durable commits) and
  * execution (a noop-sink write of every output column).
  *
  * Every pass is checked: after a query's timed noop write, the same
  * DataFrame is written as parquet for the oracle comparison, and that
  * write is left out of the pass time (and, in a traced pass, out of the
  * pass's jobs and plans).
  *
  * Writes a JSON result file that perfbench/run.py reads. */
object Harness {
  final case class QueryRun(query: String, module: String, start: Double, executeStart: Double,
                            end: Double, error: Option[String]) {
    def constructS: Double = (executeStart - start) / 1000
    def executeS: Double = (end - executeStart) / 1000
    def totalS: Double = (end - start) / 1000
  }

  /** `checkMs` is the time spent writing check outputs inside the pass. */
  final case class Pass(name: String, traced: Boolean, start: Double, end: Double,
                        queries: Seq[QueryRun], checkMs: Double) {
    def wallS: Double = (end - start - checkMs) / 1000
  }

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds from the monotonic clock, so spans of the harness
    * line up with the job times Spark reports. */
  def nowMs(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** k of local[k]: one closed-loop client on at most four cores. */
  private val Cores = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Warm passes run until `--seconds` are spent, but at least this many
    * (a traced run needs a traced and an untraced one) and at most MaxWarm. */
  private def minWarm(traced: Boolean): Int = if (traced) 2 else 1
  private val MaxWarm = 8

  private val InputTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** The set-up a user pays: a session from GraftSession with every graft
    * function registered, and every input resolved (files listed, a footer
    * read for its schema; no Spark job runs). */
  private def setUp(data: String): SparkSession = {
    val spark = GraftSession.create("perfbench", s"local[$Cores]", Cores)
    spark.sparkContext.setLogLevel("WARN")
    InputTables.foreach(t => Tables.read(spark, data, t).schema)
    Tables.events(spark, data).schema
    spark
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val queries = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"

    // set-up as a user pays it: from JVM start to a ready session
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = setUp(data)
    val ready = nowMs()
    val sc = spark.sparkContext
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val tracer = new Tracer
    var attached = false
    def tracing(on: Boolean): Unit = if (on != attached) {
      BenchBus.drain(sc)
      if (on) { sc.addSparkListener(tracer); session.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); session.listenerManager.unregister(tracer) }
      attached = on
    }

    val errors = mutable.ArrayBuffer.empty[String]
    val checkErrors = mutable.ArrayBuffer.empty[String]
    val checkDir = opt("check")
    def runPass(name: String, traceIt: Boolean): Pass = {
      tracing(traceIt)
      BenchBus.drain(sc)
      tracer.bucket = name
      var checkMs = 0.0
      val start = nowMs()
      val runs = queries.map { case (q, module) =>
        val fn = SparkEntry.queries(q)
        val t0 = nowMs()
        var t1 = Double.NaN
        var df: org.apache.spark.sql.DataFrame = null
        val err = try {
          if (traceIt) sc.setJobGroup(s"$name/$q/construct", s"$q construct")
          df = fn(spark, data)
          t1 = nowMs()
          if (traceIt) sc.setJobGroup(s"$name/$q/execute", s"$q execute")
          df.write.mode("overwrite").format("noop").save()
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        val t2 = nowMs()
        if (traceIt) sc.clearJobGroup()
        err.foreach { e =>
          errors += s"$name/$q: $e"
          System.err.println(s"[perfbench] $name/$q failed: $e")
        }
        // the check write runs under no job group and, once the bus is
        // drained, in a plan bucket of its own, so a traced pass does not
        // count it
        if (traceIt) { BenchBus.drain(sc); tracer.bucket = "check" }
        try {
          if (df == null) checkErrors += s"$name/$q: no result to check"
          else df.write.mode("overwrite").parquet(s"$checkDir/$name/$q")
        } catch { case NonFatal(e) => checkErrors += s"$name/$q: $e" }
        if (traceIt) { BenchBus.drain(sc); tracer.bucket = name }
        checkMs += nowMs() - t2
        spark.catalog.clearCache()
        QueryRun(q, module, t0, if (t1.isNaN) t2 else t1, t2, err)
      }
      Pass(name, traceIt, start, nowMs(), runs, checkMs)
    }

    val cold = runPass("cold", traced)
    // what one run of every query leaves behind: persisted indexes, replay
    // and sink dirs (read between passes, so it does not depend on how
    // many warm passes fit in the run)
    val scratchBytes = Seq(sys.props("java.io.tmpdir"), sys.env("SPARK_GRAFT_SCRATCH")).map(dirBytes).sum
    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Pass]
    // traced runs alternate traced and untraced warm passes
    while (warm.size < MaxWarm &&
      (warm.size < minWarm(traced) || (System.nanoTime() - warmStart) / 1e9 < seconds)) {
      val i = warm.size + 1
      warm += runPass(s"warm$i", traced && i % 2 == 1)
    }
    tracing(false)

    // outside every timed region; the second collection, after a pause, lets
    // the ContextCleaner drop the blocks of RDDs the first one found unreachable
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layers: Seq[(String, Double)] = if (!traced) Nil else {
      tracing(true)
      BenchBus.drain(sc)
      tracer.bucket = "sources"
      sc.setJobGroup("sources/scan/execute", "sources scan")
      val s0 = System.nanoTime()
      InputTables.foreach(t => Tables.read(spark, data, t).write.mode("overwrite").format("noop").save())
      Tables.events(spark, data).write.mode("overwrite").format("noop").save()
      val scanS = (System.nanoTime() - s0) / 1e9
      sc.clearJobGroup()
      tracing(false)
      val kernels = Kernels.measure(spark, data)
      val (tw, uw) = warm.partition(_.traced)
      Metrics.perLayer(cold, tw.toSeq, tracer) ++ Seq(
        "sources.scan_s" -> scanS,
        "trace.overhead_s" -> (median(tw.map(_.wallS).toSeq) - median(uw.map(_.wallS).toSeq))) ++
        kernels.map { case (k, v) => s"functions.$k.rows_per_s" -> v }
    }

    spark.stop()
    val end = nowMs()

    val passes = cold +: warm.toSeq
    Spans.write(opt("spans"), jvmStart, end, (jvmStart, ready), passes, tracer.jobs.toSeq)

    val timedWarm = if (traced) warm.filter(_.traced) else warm
    def warmOf(q: String) = median(timedWarm.toSeq.map(_.queries.find(_.query == q).get.totalS))
    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "cores" -> Cores,
      "setup_s" -> (ready - jvmStart) / 1000,
      "cold_s" -> cold.wallS,
      "warm_s" -> timedWarm.map(_.wallS),
      "query_runs" -> passes.map(_.queries.size).sum,
      "errors" -> errors,
      "check_errors" -> checkErrors,
      "passes" -> passes.map(_.name),
      "scratch_bytes" -> scratchBytes,
      "heap_retained_mb" -> heapMb,
      "queries" -> queries.map { case (q, _) =>
        q -> Map("cold_s" -> cold.queries.find(_.query == q).get.totalS, "warm_s" -> warmOf(q),
          "oracle_sql" -> SparkEntry.oracleSql(q))
      }.toMap,
      "per_layer" -> scala.collection.immutable.ListMap(layers: _*))
    Files.write(Paths.get(opt("out")), Json.mapper.writeValueAsBytes(result))
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
