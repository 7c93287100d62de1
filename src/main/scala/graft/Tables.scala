package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver's TPC-H-ish parquet tables (TESTDATA.md) plus the
  * shared sales-fact join every gold query consumes.
  *
  * Re-expresses the reference's bronze ingest surface
  * (reference: src/etl/bronze/spark_bronze.py:70,178) as plain parquet scans so
  * Catalyst gets predicate pushdown and column pruning for free; column
  * normalization there is a rename/trim pass, here schemas are already clean.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths)` with the schema resolved once per file
    * listing: Spark infers a parquet schema with a footer-reading job on
    * every read (even of one footer), so a query that reads an input —
    * or a sink dir it wrote — launched that job each time. The schema is a
    * [[Memo]] entry keyed by the paths, every file's (path, length,
    * modification time) under them, and `spark.sql.legacy.parquet.nanosAsLong`:
    * an in-place rewrite changes the listing and misses (the [[PlanKey]]
    * standard), and the conf decides whether `events`' ns timestamps read
    * as longs. A schema inferred with the conf off holds no ns column
    * (Spark refuses to infer one), so it is valid under both settings and
    * serves reads after [[events]] turns the conf on; one inferred with it
    * on may hold ns-as-long columns and is never reused with it off. A
    * missing path falls through to Spark's own error. On a 4-core box, a
    * warm JVM resolves one sf0.1 input in about 11 ms with its schema given
    * against about 95 ms with the footer job. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = paths.map(new org.apache.hadoop.fs.Path(_))
    if (!roots.forall(p => p.getFileSystem(conf).exists(p))) spark.read.parquet(paths: _*)
    else {
      val listing = roots.map { p =>
        val files = p.getFileSystem(conf).listFiles(p, true)
        val out = Seq.newBuilder[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          out += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        out.result()
      }
      val nanosAsLong = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false").toBoolean
      var inferred: Option[DataFrame] = None // a miss returns the frame it inferred
      val reusable =
        if (nanosAsLong) Memo.peek[StructType]("tables.schema", (paths, listing, false)) else None
      val schema = reusable.getOrElse(Memo.get("tables.schema", (paths, listing, nanosAsLong)) {
        val df = spark.read.parquet(paths: _*)
        inferred = Some(df)
        df.schema
      })
      inferred.getOrElse(spark.read.schema(schema).parquet(paths: _*))
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  /** events.parquet carries ns-precision timestamps, which the vectorized
    * parquet reader rejects; read nanos as long and convert to µs timestamps
    * (truncation — matches DuckDB's ns→µs handling).
    *
    * SESSION-LEVEL SIDE EFFECT (documented contract): Spark exposes
    * `spark.sql.legacy.parquet.nanosAsLong` only as a SQL conf — there is no
    * per-read parquet option — so this reader flips it for the whole session
    * and leaves it set. Any later read of ns-timestamp parquet in the same
    * session will also see ns as LongType; wrap such reads the way this one
    * wraps events (convert explicitly), or unset the conf. Restoring the
    * conf here would be unsafe: the scan re-reads it lazily at execution. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, dir, "events")
    // schema-dispatch: the driver's file carries ns-as-long (converted here);
    // corpora rewritten by other tools (replication harnesses) carry a real
    // timestamp column already — accept both layouts
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** customer ⋈ nation with nation broadcast (25 rows — constant at any SF). */
  def customerWithCountry(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    val n = broadcast(nation(spark, dir).select(col("n_nationkey"), col("n_name").as("country")))
    c.join(n, c("c_nationkey") === n("n_nationkey")).drop("n_nationkey")
  }

  /** orders ⋈ customer ⋈ nation: order-grain fact with customer country.
    * orders⋈customer shuffles on the key (both scale with SF — correct at
    * 100 TB); nation is broadcast. */
  def ordersWithCountry(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val c = customerWithCountry(spark, dir).select("c_custkey", "country", "c_mktsegment")
    o.join(c, o("o_custkey") === c("c_custkey")).drop("c_custkey")
  }

  /** lineitem ⋈ orders ⋈ customer ⋈ nation: the line-grain "silver sales"
    * fact (reference's silver sales dataset, src/etl/silver/spark_silver.py).
    * Line⋈order and order⋈customer are key-shuffle joins; nation broadcast. */
  def salesFact(spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir)
    val o = orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority")
    val c = customerWithCountry(spark, dir).select("c_custkey", "country")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .drop("o_orderkey", "c_custkey")
  }
}
