package graft

import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A loader that counts its runs. */
  private class Loads { var n = 0; def apply[V](v: V): V = { n += 1; v } }

  test("a hit never runs the loader") {
    Memo.resetAll()
    val loads = new Loads
    assert(Memo.get("spec", "k")(loads(41L)) == 41L)
    assert(Memo.get("spec", "k")(loads(99L)) == 41L)
    assert(Memo.get("spec", "b")(loads(true)))
    assert(Memo.get("spec", "b")(loads(false)))
    assert(loads.n == 2)
    // kinds namespace the keys: the same key under another kind is a miss
    assert(Memo.get("spec.other", "k")(loads(7L)) == 7L)
    assert(loads.n == 3)
  }

  test("the bound holds after Bound + 2 distinct keys") {
    Memo.resetAll()
    val loads = new Loads
    (0 until Memo.Bound + 2).foreach(i => Memo.get("spec", i)(loads(i)))
    assert(Memo.census == Map("spec" -> Memo.Bound))
    // the two oldest keys went; the newest survived
    Memo.get("spec", Memo.Bound + 1)(loads(-1))
    assert(loads.n == Memo.Bound + 2)
    assert(Memo.get("spec", 0)(loads(-1)) == -1)
    assert(loads.n == Memo.Bound + 3)
  }

  test("the least recently used entry is the one evicted") {
    Memo.resetAll()
    val loads = new Loads
    (0 until Memo.Bound).foreach(i => Memo.get("spec", i)(loads(i)))
    assert(Memo.get("spec", 0)(loads(-1)) == 0) // use the oldest insert
    Memo.get("spec", Memo.Bound)(loads(Memo.Bound)) // one past the bound
    assert(loads.n == Memo.Bound + 1)
    assert(Memo.get("spec", 0)(loads(-1)) == 0, "recently used entry was evicted")
    assert(Memo.get("spec", 1)(loads(-1)) == -1, "least recently used entry survived")
  }

  test("invalidate and resetAll force a reload") {
    Memo.resetAll()
    val loads = new Loads
    Memo.get("spec", "a")(loads(1))
    Memo.get("spec", "b")(loads(2))
    Memo.invalidate("spec", "a")
    assert(Memo.get("spec", "a")(loads(10)) == 10)
    assert(Memo.get("spec", "b")(loads(20)) == 2, "invalidate dropped another key")
    Memo.resetAll()
    assert(Memo.census.isEmpty)
    assert(Memo.get("spec", "b")(loads(30)) == 30)
    assert(loads.n == 4)
  }

  test("a plan-keyed memo misses after its input is rewritten in place") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("memo_rewrite").toString + "/t"
    (0L until 5L).toDF("id").write.parquet(path)
    assert(ann.Ann.cachedCount(spark.read.parquet(path)) == 5L)
    assert(ann.Ann.cachedCount(spark.read.parquet(path)) == 5L) // unchanged re-read
    assert(PlanKey.digest(spark.read.parquet(path)) == PlanKey.digest(spark.read.parquet(path)),
      "a re-read of unchanged input changed its key")
    (0L until 7L).toDF("id").write.mode("overwrite").parquet(path)
    assert(ann.Ann.cachedCount(spark.read.parquet(path)) == 7L,
      "count served from before the in-place rewrite")
  }

  /** Spark jobs `f` launches on this thread, and its result. */
  private def jobsOf[T](f: => T): (Int, T) = {
    val group = "memo-schema-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
          js.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables.read")
      val out = try f finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.read resolves a schema once per file listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo_schema").toString
    (0L until 5L).toDF("id").write.parquet(s"$dir/t.parquet")
    def readJobs(): (Int, Seq[String]) = jobsOf(Tables.read(spark, dir, "t").columns.toSeq)
    val (first, cols) = readJobs()
    assert(first >= 1 && cols == Seq("id"), "the first read infers the schema")
    assert(readJobs() == (0, Seq("id")), "a re-read of an unchanged listing launched jobs")
    // an in-place rewrite that adds a column changes the listing
    (0L until 3L).map(i => (i, i.toString)).toDF("id", "tag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(readJobs()._2 == Seq("id", "tag"), "schema served from before the rewrite")
    assert(Tables.read(spark, dir, "t").count() == 3L)
  }

  test("a schema resolved before Tables.events turns nanosAsLong on is reused after it") {
    import spark.implicits._
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    def session(on: Boolean) = {
      val s = spark.newSession()
      s.conf.set(nanosAsLong, on.toString)
      s
    }
    // why reuse is safe: with the conf off, Spark refuses to infer a schema
    // for a file with ns timestamps, so a conf-off schema holds none
    val ns = getClass.getResource("/ns_timestamps.parquet").getPath
    val refused = intercept[Exception](Tables.parquet(session(on = false), ns))
    assert(refused.getMessage.contains("TIMESTAMP(NANOS"), refused.getMessage)
    assert(Tables.parquet(session(on = true), ns).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    // the other direction stays keyed: the conf-on schema is not served with it off
    intercept[Exception](Tables.parquet(session(on = false), ns))

    val dir = java.nio.file.Files.createTempDirectory("memo_nanos").toString
    (0L until 5L).toDF("id").write.parquet(s"$dir/t.parquet")
    val s = session(on = false)
    assert(jobsOf(Tables.read(s, dir, "t"))._1 >= 1, "the first read infers the schema")
    Tables.events(s, TestSpark.sfDir)
    assert(s.conf.get(nanosAsLong) == "true")
    assert(jobsOf(Tables.read(s, dir, "t").columns.toSeq) == (0, Seq("id")),
      "a schema inferred with the conf off was inferred again after events")
  }

  test("Memo is the only module-level cache in the library") {
    // the tools/ mains keep job-timing maps local to main, not as fields
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"library sources not found under ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val tools = new java.io.File(root, "tools")
    val cache = "ConcurrentHashMap|LinkedHashMap|newKeySet".r
    val offenders = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getName != "Memo.scala" &&
        !f.toPath.startsWith(tools.toPath)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if cache.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, "caches outside graft.Memo:\n" + offenders.mkString("\n"))
  }
}
