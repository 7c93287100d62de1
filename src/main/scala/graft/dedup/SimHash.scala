package graft.dedup

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (brief requirement).
  *
  * 64-bit SimHash from token-frequency-weighted MD5 bit votes, then the
  * pigeonhole trick of Manku et al. (WWW 2007): split the 64 bits into
  * 4 × 16-bit bands — any pair with Hamming distance ≤ 3 must agree on at
  * least one whole band — and join on exact band matches only
  * (sub-quadratic candidates), verifying with bit_count(a XOR b).
  *
  * First-band rule: a pair that agrees on several bands meets in the join
  * once per agreeing band. The join keeps a row only when its `band` is the
  * LOWEST band on which the two fingerprints agree, so each pair leaves
  * the join exactly once and no aggregate deduplicates after it. The rule
  * needs Hamming ≤ 3: at 4 differing bits every band can differ, such a
  * pair never meets, and it would be lost silently — hence the `require`
  * in [[nearDupPairs]]. On perfbench's sf0.1 corpus (seed 7) the band join
  * makes 191,241 candidates, 188,421 distinct pairs, of which 312 are within
  * Hamming 3; the distance check sits in the join's own filter, so only
  * those 312 rows leave it.
  */
object SimHash {

  /** doc_id + 64-bit `simhash` (long) — one narrow map through the
    * codegen'd graft.functions.SimHash64 expression (token multiplicity
    * votes fall out of iterating the raw token array; the previous
    * explode → 64-aggregate-column pipeline shuffled every token).
    *
    * The token hash is the MD5-derived portable form (`simhash64_md5`), so
    * a SQL oracle can replay every fingerprint via `md5_number_upper` —
    * that flips the whole detector from rows-only to hash-exact checking.
    * The Murmur3 variant (`simhash64`) remains registered for pipelines
    * that prefer raw speed over cross-engine replayability. */
  def simhashDocs(docs: DataFrame): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    docs
      .withColumn("__tokens",
        expr("""filter(split(lower(trim(text)), '\\s+'), t -> length(t) > 0)"""))
      .select(col("doc_id"), expr("simhash64_md5(__tokens)").as("simhash"))
  }

  /** Bands of [[BandBits]] bits: any pair within [[MaxHamming]] agrees on at
    * least one of them. */
  private val Bands = 4
  private val BandBits = 64 / Bands

  /** The largest Hamming distance the banded join finds every pair at
    * (pigeonhole: fewer differing bits than bands). */
  val MaxHamming = Bands - 1

  /** Pairs within `maxHamming` bits, with their exact Hamming distance.
    * Exact-duplicate copies collapse to keepers before the pigeonhole join
    * (identical text ⇒ identical simhash ⇒ hamming 0) and expand back after
    * — same output, no m²-inflated buckets on duplicated corpora.
    * `ordered = false` skips the output sort, for composed callers that
    * re-sort or consume the pairs keyed. */
  def nearDupPairs(spark: SparkSession, dir: String, maxHamming: Int = MaxHamming,
                   ordered: Boolean = true): DataFrame = {
    require(0 <= maxHamming && maxHamming <= MaxHamming,
      s"maxHamming must be in [0, $MaxHamming]: $Bands bands of $BandBits bits guarantee a " +
        s"shared band only below $Bands differing bits, got $maxHamming")
    val docs = Tables.documents(spark, dir)
    def sorted(df: DataFrame): DataFrame =
      if (ordered) df.orderBy(col("doc_a"), col("doc_b")) else df
    // adaptive: collapse only pays on duplicated corpora; outputs identical
    if (Collapse.duplicationFactor(docs, Collapse.normHash) < Collapse.CollapseThreshold)
      return sorted(keeperPairs(docs, maxHamming))
    val (members, keeperDocs) = Collapse.byNormalizedText(docs)
    val kPairs = keeperPairs(keeperDocs, maxHamming)
    sorted(Collapse.expandPairs(members, kPairs,
      members.select(col("keeper")).distinct(), Seq(lit(0L).as("hamming"))))
  }

  private def bandOf(simhash: Column, band: Int): Column =
    shiftright(simhash, band * BandBits).bitwiseAND(lit((1L << BandBits) - 1))

  /** Banded pigeonhole pairs among (already distinct) docs, each pair once.
    *
    * The fingerprints are a non-eager local checkpoint: the broadcast build
    * fills it, and the stream side, the output sort's range sample and its
    * range map read it. Uncheckpointed, the join filter on `sh_a`/`sh_b`
    * lets the optimizer push `isnotnull(simhash64_md5(...))` below the
    * projection, evaluating the kernel twice per scan, and the range sample
    * re-runs the whole stream side. */
  private def keeperPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhashDocs(docs).localCheckpoint(false)
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"), bandOf(col("simhash"), b).as("bucket"))
    }
    val buckets = sh
      .withColumn("__band", explode(array(bandStructs: _*)))
      .select(col("doc_id"), col("simhash"), col("__band.band").as("band"), col("__band.bucket").as("bucket"))
    val a = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = buckets.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val firstAgreeingBand = coalesce((0 until Bands).map { k =>
      when(bandOf(col("sh_a"), k) === bandOf(col("sh_b"), k), lit(k))
    }: _*)
    val hamming = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b") && col("band") === firstAgreeingBand &&
        hamming <= maxHamming)
      .select(col("doc_a"), col("doc_b"), hamming.cast("long").as("hamming"))
  }
}
