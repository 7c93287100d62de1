package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Streaming conversion funnel — the stateful-incremental form of
  * [[graft.operators.Funnel.eventFunnel]]: per-user step-time state
  * (t1..t4) evolved one ts-ordered micro-batch at a time with the
  * exactly-once write-then-mark sink, answered as the SAME 4-row summary.
  * The classic hard streaming-analytics problem (strictly-ordered
  * multi-step state), closed the way the other streaming arcs were
  * (neardup / hybrid / IVF-append): batch-boundary invariance lets the
  * replay ride the BATCH oracle verbatim.
  *
  * WHY batch boundaries cannot change the answer: ingest is ts-ordered
  * (the replay bands events by global (ts, event_id) rank — in production,
  * an event-time-sorted log with a watermark barrier), and every step time
  * is a MONOTONE min over an append-only prefix: once t_k is set, no
  * later-ts event can lower it, and a step-k candidate's qualifying
  * condition (`ts > t_{k-1}`) only references state from strictly earlier
  * positions. So folding the cascade per batch — seeding each batch's
  * running windows with the prior state — lands on exactly the timestamps
  * the one-shot cascade computes, wherever the boundaries fall
  * (spec-pinned against the batch path, 1/2/4/7/16 batches).
  *
  * Scale shape: state is one row per ACTIVE user (bounded by users, not
  * events); each micro-batch costs ONE exchange, on `user_id`. A user's
  * prior state rides the batch as one more row with null `ts` and
  * `event_id`, which the window's ASC NULLS FIRST order puts before the
  * user's events, so the running `min(coalesce(p_k, candidate_k))` starts
  * from the prior step times; the closing `groupBy(user_id)` reuses the
  * window's partitioning and also emits users with state but no events
  * this batch (their state row alone). No join, no `distinct`: the
  * mapGroupsWithState cost model expressed as replayable DataFrame ops.
  * State is read back with its declared schema, so no read infers one. */
object StreamingFunnel {

  private val StepTypes = Seq("view", "click", "signup", "purchase")

  private val StateSchema = StructType(StructField("user_id", LongType) +:
    (1 to 4).map(k => StructField(s"t$k", TimestampType)))

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StateSchema)

  private def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StateSchema).parquet(path)

  /** Fold one ts-ordered micro-batch into the per-user state. Events must
    * not precede (in (ts, event_id) order) anything already folded — the
    * ts-ordered-ingest contract that makes the state monotone. */
  private[graft] def advance(prior: DataFrame, events: DataFrame): DataFrame = {
    val noTime = lit(null).cast(TimestampType)
    val ev = events.filter(col("event_type").isin(StepTypes: _*))
      .select(Seq(col("user_id"), col("event_id"), col("event_type"), col("ts")) ++
        (1 to 4).map(k => noTime.as(s"p$k")): _*)
    val state = prior.select(Seq(col("user_id"),
        lit(null).cast(ev.schema("event_id").dataType).as("event_id"),
        lit(null).cast("string").as("event_type"), noTime.as("ts")) ++
      (1 to 4).map(k => col(s"t$k").as(s"p$k")): _*)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the batch cascade seeded with prior state: the state row sorts first
    // and coalesce() lets it stand in for its own (null) candidate
    val x1 = ev.unionByName(state)
      .withColumn("__q1", when(col("event_type") === "view", col("ts")))
      .withColumn("__r1", min(coalesce(col("p1"), col("__q1"))).over(w))
    val x2 = x1
      .withColumn("__q2",
        when(col("event_type") === "click" && col("ts") > col("__r1"), col("ts")))
      .withColumn("__r2", min(coalesce(col("p2"), col("__q2"))).over(w))
    val x3 = x2
      .withColumn("__q3",
        when(col("event_type") === "signup" && col("ts") > col("__r2"), col("ts")))
      .withColumn("__r3", min(coalesce(col("p3"), col("__q3"))).over(w))
    val x4 = x3
      .withColumn("__q4",
        when(col("event_type") === "purchase" && col("ts") > col("__r3"), col("ts")))
    val steps = (1 to 4).map(k => min(coalesce(col(s"p$k"), col(s"__q$k"))).as(s"t$k"))
    x4.groupBy("user_id").agg(steps.head, steps.tail: _*)
  }

  /** foreachBatch body with the exactly-once write-then-mark protocol:
    * skip committed batch ids, else fold batch `k` onto the committed
    * state of batch `k−1` and write `stateDir/batch=k`. Batches must
    * arrive in order (foreachBatch's contract). */
  def funnelSink(stateDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      if (!ExactlyOnce.isCommitted(spark, stateDir, batchId)) {
        val prior =
          if (batchId == 0L) emptyState(spark)
          else readState(spark, s"$stateDir/batch=${batchId - 1}")
        advance(prior, batch)
          .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
        ExactlyOnce.commit(spark, stateDir, batchId)
      }
    }

  /** The driver-gated replay: band the event stream into `nBatches`
    * ts-ordered micro-batches, fold each through the exactly-once sink,
    * and answer the final state as the standard 4-row funnel summary —
    * bit-identical to the batch cascade, so it rides `event_funnel`'s
    * oracle. */
  def streamingFunnelReplay(spark: SparkSession, dir: String,
                            nBatches: Int = 4): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin(StepTypes: _*))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val stateDir = ReplayScratch.dir("sfunnel_state")
    val banded = graft.operators.RankOps
      .withGlobalNtile(ev, nBatches, Seq("__b" -> Seq(col("ts"), col("event_id"))))
      .localCheckpoint(false) // banded once, reused by every micro-batch filter
    val sink = funnelSink(stateDir)
    (1 to nBatches).foreach { k =>
      sink(banded.filter(col("__b") === k).drop("__b"), (k - 1).toLong)
    }
    val finalState = readState(spark, s"$stateDir/batch=${nBatches - 1}")
    graft.operators.Funnel.summarizeSteps(finalState)
  }
}
