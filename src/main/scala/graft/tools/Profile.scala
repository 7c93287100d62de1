package graft.tools

import graft.{GraftSession, SparkEntry, Tables, Traced}
import graft.ann.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Profiling entry point (not part of the query surface), on the session
  * `graft.Verify` and the benchmark use: `GraftSession` at
  * `local[SPARK_GRAFT_CPUS]` (default 4) with as many shuffle partitions.
  *
  * Usage: `runMain graft.tools.Profile <mode> <sfDir> [query …]`, where a
  * query is a `SparkEntry.queries` or `SparkEntry.benchOnly` path name and
  * none named means every path in name order. Modes:
  *  - `phases`: construct and execute (noop sink) seconds and Spark jobs per
  *    path, a cold pass then a warm one in one JVM, after the benchmark's
  *    set-up — the columns of `plans/job_floor.json`;
  *  - `plan`: `explain("formatted")` per path, under a header;
  *  - `recall`: recall@10 against brute force for the IVF coverage ladder
  *    and the LSH `tables` ladder (no query names);
  *  - `bpe`: BPE merge-budget timing (no query names). */
object Profile {

  private val all = SparkEntry.queries ++ SparkEntry.benchOnly
  private val modes = Set("phases", "plan", "recall", "bpe")

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, names) = args.toSeq match {
      case m +: d +: ns if modes(m) => (m, d, ns)
      case _ => fail(s"usage: Profile <${modes.toSeq.sorted.mkString("|")}> <sfDir> [query ...]")
    }
    if (Set("recall", "bpe")(mode) && names.nonEmpty) fail(s"$mode takes no query names")
    try paths(names) catch { case e: IllegalArgumentException => fail(e.getMessage) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    sys.props("spark.ui.enabled") = "false" // read by the session's SparkConf
    val spark = GraftSession.create("graft-profile", s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "phases" =>
        phases(spark, sfDir, names).groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (pass, ps) =>
          println(s"[phases] $pass total construct ${ps.map(_.constructJobs).sum} jobs " +
            s"execute ${ps.map(_.executeJobs).sum} jobs")
        }
      case "plan"   => paths(names).foreach(n => println(plan(spark, sfDir, n)))
      case "recall" => recall(spark, sfDir)
      case "bpe"    => bpe(spark, sfDir)
    } finally spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[profile] $msg")
    sys.exit(2)
  }

  /** The named paths, or every path in name order when none is named;
    * throws before anything runs if a name is unknown. */
  def paths(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.keys.toSeq.sorted else names
  }

  final case class Phase(pass: String, path: String, constructS: Double, constructJobs: Int,
                         executeS: Double, executeJobs: Int) {
    def line: String = f"[phases] $pass%-4s $path%-36s construct $constructS%7.2f s " +
      f"$constructJobs%4d jobs  execute $executeS%7.2f s $executeJobs%4d jobs"
  }

  /** Resolves every input as the benchmark's set-up does (one schema job
    * each, which the paths that first read an input then do not count),
    * then profiles the paths cold and then warm, printing each line as it
    * lands. */
  def phases(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Phase] = {
    val ps = paths(names)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.read(spark, sfDir, t).schema)
    Tables.events(spark, sfDir).schema
    for (pass <- Seq("cold", "warm"); name <- ps) yield {
      val p = phase(spark, sfDir, pass, name)
      println(p.line)
      p
    }
  }

  private def phase(spark: SparkSession, sfDir: String, pass: String, name: String): Phase = {
    def timed[T](body: => T): Traced.Run[(T, Double)] = Traced(spark) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val built = timed(all(name)(spark, sfDir))
      val run = timed(built.value._1.write.mode("overwrite").format("noop").save())
      Phase(pass, name, built.value._2, built.jobs, run.value._2, run.jobs)
    } finally spark.catalog.clearCache()
  }

  /** `explain("formatted")` of one path under a header naming it. */
  def plan(spark: SparkSession, sfDir: String, name: String): String =
    try s"========== $name ==========\n" +
      all(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    finally spark.catalog.clearCache()

  /** recall@10 against brute force for the IVF coverage ladder at the
    * size-derived list count and the LSH `tables` ladder: the evidence
    * behind `Ann.nListsFor`, `Ann.ivfDefaultProbe` and
    * `Ann.lshDefaultTables`. */
  def recall(spark: SparkSession, dir: String): Unit = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    val brute = Ann.bruteTopKExact(emb, queries, k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val nl = Ann.derivedLists(spark, dir)
    // the ladder reaches down to 1/32 coverage: on clustered corpora
    // (replicate.py --cluster) recall holds at tiny coverage and the small
    // rungs are where the data-adaptive default lives
    val probeLadder = Seq(nl / 32, nl / 16, nl / 8, nl / 4, nl / 2,
      nl * 5 / 8, nl * 3 / 4, nl * 7 / 8, Ann.ivfDefaultProbe(nl), nl)
      .map(math.max(1, _)).distinct.sorted
    for (nProbe <- probeLadder) {
      val t0 = System.nanoTime()
      val r = recallOf(Ann.ivfTopK(emb, queries, k, nProbe = nProbe))
      val sec = (System.nanoTime() - t0) / 1e9
      val cov = nProbe.toDouble / nl
      println(f"RECALL kind=ivf dir=$dir nLists=$nl nProbe=$nProbe " +
        f"coverage=$cov%.3f recall=$r%.3f sec=$sec%.1f" +
        (if (nProbe == Ann.ivfDefaultProbe(nl)) " (shipped default)" else ""))
    }
    for (tables <- Seq(12, 16, 20, 24, 30)) {
      val t0 = System.nanoTime()
      val r = recallOf(Ann.lshTopK(emb, queries, k, tables = tables))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"RECALL kind=lsh dir=$dir tables=$tables recall=$r%.3f sec=$sec%.1f")
    }
  }

  /** BPE merge-budget timing, the evidence behind the driver-local merge
    * loop: the full `bpeMerges` surface on the dir at the shipped 20 merges
    * (corpus pass + loop), then 1k and 4k merges on a synthetic 50k-word
    * vocabulary — the test corpora exhaust their pair vocabulary after
    * about 107 merges, so big-budget timing needs a big vocabulary. */
  def bpe(spark: SparkSession, dir: String): Unit = {
    val t0 = System.nanoTime()
    val n20 = graft.text.Bpe.bpeMerges(spark, dir, numMerges = 20).count()
    println(f"BPE dir=$dir merges=20 rows=$n20 wall=${(System.nanoTime() - t0) / 1e9}%.1f s")

    // word = hex md5 prefix of length 6..18 (long enough that the pair
    // vocabulary survives thousands of merges), count = zipf-ish
    // 1e6/(rank+1)
    val vocab = spark.range(50000).select(
      substring(md5(col("id").cast("string")), lit(1),
        (col("id") % 13 + 6).cast("int")).as("word"),
      (lit(1000000L) / (col("id") + 1)).cast("long").as("n"))
      .groupBy("word").agg(sum("n").as("n"))
    for (budget <- Seq(1000, 4000)) {
      val t1 = System.nanoTime()
      val n = try {
        graft.text.Bpe.mergesFromWords(spark, vocab, budget).count()
      } catch {
        case e: IllegalArgumentException =>
          println(s"BPE synthetic budget=$budget exhausted: ${e.getMessage}"); -1L
      }
      if (n >= 0)
        println(f"BPE synthetic-50k merges=$budget wall=${(System.nanoTime() - t1) / 1e9}%.1f s")
    }
  }
}
