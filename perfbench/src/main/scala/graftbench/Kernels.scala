package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.{Dec6ToDouble, KMeansAssign, MinHashSig, SrpBuckets}

/** Throughput of the native kernels over the workload's own columns,
  * through their public `.of` wrappers or registered names. Inputs are
  * replicated to about twenty thousand rows and cached first, so a
  * timing covers the kernel over an in-memory scan rather than file reads
  * or fixed per-job cost. */
object Kernels {
  private val DocCopies = 4
  private val VecCopies = 10
  private val Reps = 3

  def measure(spark: SparkSession, data: String): Seq[(String, Double)] = {
    def replicate(df: DataFrame, copies: Int): DataFrame =
      df.crossJoin(spark.range(copies).select(col("id").as("copy")))

    val docs = replicate(Tables.documents(spark, data), DocCopies)
      .select(split(lower(col("text")), " ").as("tokens"))
      .withColumn("shingles", expr("word_ngrams(tokens, 3)"))
    val vecs = replicate(Tables.embeddings(spark, data), VecCopies)
      .select(col("embedding"), col("embedding").cast("array<double>").as("z"))
    val lines = Tables.lineitem(spark, data)
      .select(expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))").as("d"))
    val inputs = Seq(docs, vecs, lines).map(_.persist(StorageLevel.MEMORY_ONLY))
    val rows = inputs.map(_.count())
    val Seq(docRows, vecRows, lineRows) = rows
    val Seq(docIn, vecIn, lineIn) = inputs

    val dim = vecIn.select(size(col("embedding"))).head().getInt(0)
    val rng = new java.util.Random(7L)
    val (tables, bits) = (8, 8)
    val planes = Array.fill(tables * bits * dim)(rng.nextInt().toLong)
    val srp = SrpBuckets.register(spark, s"perfbench_$dim", planes, tables, bits, dim)
    val minhash = MinHashSig.register(spark, 64)
    val centers: Column = typedLit(vecIn.select("z").limit(16).collect().map(_.getSeq[Double](0)).toSeq)

    val kernels: Seq[(String, DataFrame, Long, Column)] = Seq(
      ("array_cosine", vecIn, vecRows, expr("array_cosine(embedding, reverse(embedding))")),
      ("minhash_sig", docIn, docRows, expr(s"$minhash(shingles)")),
      ("simhash64", docIn, docRows, expr("simhash64(tokens)")),
      ("srp_buckets", vecIn, vecRows, expr(s"$srp(embedding)")),
      ("ngram_array", docIn, docRows, expr("word_ngrams(tokens, 3)")),
      ("kmeans_assign", vecIn, vecRows, KMeansAssign.of(col("z"), centers)),
      ("dec6_to_double", lineIn, lineRows, Dec6ToDouble.of(col("d"))))
    val out = kernels.map { case (name, in, n, k) =>
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        in.select(k.as("k")).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> n / times(Reps / 2)
    }
    inputs.foreach(_.unpersist(blocking = true))
    out
  }
}
