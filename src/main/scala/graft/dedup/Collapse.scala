package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-duplicate collapse shared by the near-dup detectors: a corpus where
  * documents carry m identical copies inflates every LSH/pigeonhole bucket
  * m× and the true pair count m² — collapsing copies to one keeper first
  * makes the expensive stage run on distinct content only, and the final
  * expansion is proportional to the emitted pairs (the output's own size,
  * the lower bound for pair-emitting semantics). Identical normalized text
  * ⇒ identical shingles, simhash, and signatures, so the expansion
  * reproduces EXACTLY the pairs the uncollapsed pipeline would emit. */
object Collapse {

  /** Normalized-text identity hash shared by every text detector. */
  def normHash: Column = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))

  /** Ratio rows/distinct-identities (approximate — the decision it feeds only
    * picks between two pipelines with IDENTICAL outputs, so HLL error is
    * harmless). One cheap aggregate scan, memoized per (plan, identity)
    * digest (the Ann.cachedCount pattern): every near-dup query re-probes
    * the same corpus, and a reused factor can only flip the adaptive choice
    * between two output-identical pipelines. */
  def duplicationFactor(df: DataFrame, identity: Column): Double =
    graft.Memo.get("collapse.factor", graft.PlanKey.digest(df.select(identity.as("__id")))) {
      val r = df.agg(count(lit(1)).as("n"), approx_count_distinct(identity).as("d")).head()
      val (n, d) = (r.getLong(0), r.getLong(1))
      if (d == 0) 1.0 else n.toDouble / d.toDouble
    }

  /** Collapse only pays when copies are plural enough to beat its extra
    * hash-groupBy + expansion joins; below this the direct pipeline wins. */
  val CollapseThreshold = 1.05

  /** (members(doc_id, keeper), keeperDocs): keeper = min doc_id per distinct
    * normalized text. `members` is lazily checkpointed (read 3×). */
  def byNormalizedText(docs: DataFrame): (DataFrame, DataFrame) = {
    val hashed = docs
      .withColumn("h", normHash)
      .select("doc_id", "h")
    val keeperByHash = hashed.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    val members = hashed.join(keeperByHash, "h").select("doc_id", "keeper")
      .localCheckpoint(false)
    val keeperDocs = docs.join(
      members.filter(col("doc_id") === col("keeper")).select("doc_id"), "doc_id")
    (members, keeperDocs)
  }

  /** Expand keeper-level pairs (doc_a, doc_b, payload...) to copy-level
    * pairs, plus within-group pairs carrying `withinPayload` for every
    * keeper in `withinEligible`. Pair order is canonical (doc_a < doc_b). */
  def expandPairs(members: DataFrame, keeperPairs: DataFrame,
                  withinEligible: DataFrame, withinPayload: Seq[Column]): DataFrame = {
    val payloadCols = keeperPairs.columns.toSeq.filterNot(Set("doc_a", "doc_b"))
    val mA = members.select(col("keeper").as("doc_a"), col("doc_id").as("a_id"))
    val mB = members.select(col("keeper").as("doc_b"), col("doc_id").as("b_id"))
    val cross = keeperPairs.join(mA, "doc_a").join(mB, "doc_b")
      .select(Seq(least(col("a_id"), col("b_id")).as("doc_a"),
        greatest(col("a_id"), col("b_id")).as("doc_b")) ++ payloadCols.map(col): _*)
    val within = members.join(withinEligible, "keeper").as("x")
      .join(members.as("y"),
        col("x.keeper") === col("y.keeper") && col("x.doc_id") < col("y.doc_id"))
      .select(Seq(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")) ++ withinPayload: _*)
    cross.unionByName(within)
  }
}
