package graft.operators

import graft.functions.PartitionPrefix
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Distributed global rank, grouped rank, NTILE and running sum — one
  * mechanism. The reference scores RFM with `Window.orderBy(...)` and **no
  * partition** (reference: src/etl/gold/spark_gold.py:114-116), which Spark
  * collapses to a single-partition sort, the classic scale-killer.
  *
  * Every form is one prefix sum of a summand `v` (1 for ranks, the value
  * for running sums) under `groupCols ++ sortCols` order: range-partition
  * on that order (each group occupies consecutive partitions) and
  * `localCheckpoint`; collect one row per (partition, group) — `count` and
  * `sum(v)` — and fold them on the driver into each one's offset (the
  * group's sum in earlier partitions) and total (its row count); then
  * `sortWithinPartitions`, project the partition-local prefix
  * ([[graft.functions.PartitionPrefix]]) and add the broadcast offset. The
  * frame is never exchanged after the range shuffle.
  *
  * The offsets pass: a partition's rows all carry its index, so the
  * per-(partition, group) totals are one partition-local fold over the
  * checkpoint (`mapPartitionsWithIndex` + `collect`) — no exchange, no
  * sort, no `limit` scan. A call costs 3 Spark jobs besides its input's
  * own stages: the range sample, the range shuffle's map stage, and the
  * offsets fold, which also materializes the checkpoint (4 when the
  * sampler re-samples a skewed input partition). An input that would
  * re-run a shuffle of its own (a join, an aggregate) is persisted while
  * the range sample and the shuffle map read it, then released, so it is
  * evaluated once; a scan, a checkpoint or a frame the caller already
  * persisted is read twice instead.
  *
  * Why the checkpoint: the offsets are only valid for the exact boundaries
  * the range sampler drew, and a cache-evicted recompute could draw others
  * — silent rank corruption; a cut lineage fails loudly instead.
  * Why the collect is eager: the result stands on its own, so a caller may
  * unpersist the input right after construction (`Quality.madOutliers`).
  * Why it is bounded: the fold has ≤ #partitions + #groups rows (groups
  * are contiguous) — tiny for the few-huge-groups shape these forms serve;
  * past [[MaxBoundedFrame]] rows it fails loudly rather than broadcast a
  * data-proportional table.
  *
  * Sort keys must be a total order (callers append a unique tie-breaker),
  * so `withGlobalNtile`'s SQL bucket formula matches `NTILE(k) OVER (ORDER
  * BY …)` bit-for-bit.
  *
  * Per-group order statistics (medians, quartiles, p90–p99, MAD, a series'
  * last value) are the grouped core too: `withGroupedRank` with `countCol`,
  * then one `groupBy` that selects each statistic with [[valueAt]] — the
  * ordered-set aggregate as partition, sort and prefix, never a
  * `row_number` + `count` window pair that sorts a whole group in one task.
  * That serves the few-large-group keys (country, priority, segment,
  * language, source). Plain `Window.partitionBy` stays right for numerous
  * groups — per conversion, per key dedup, per calendar bucket (the KPI
  * views' days and hours, exec_kpis' months) — where #groups already feeds
  * every task, and for calendar-bounded frames (quality_trends' stacked
  * series); there the core's range sample, checkpoint and collect are pure
  * overhead (`plans/order_stats_cost.json`).
  */
object RankOps {

  /** Ceiling for frames that ride an UNPARTITIONED window because they are
    * calendar/bucket-bounded (daily series, monthly rollups, KPI buckets):
    * ~550 years of days — far above any real calendar frame, far below any
    * data-proportional one. Also bounds the prefix core's offset table. */
  val MaxBoundedFrame = 200000L

  /** Guard rail for unpartitioned-window expressions whose legality rests
    * on the frame being calendar/bucket-bounded: wraps a CONSUMED window
    * column so the plan raises at execution — distributed, no extra job —
    * if the frame exceeds `maxRows` (i.e. someone fed a data-proportional
    * frame to a bounded-frame operator). Within the bound the value is
    * `inner` unchanged, so oracles are unaffected. Wrapping a consumed
    * column (not adding a side column) is what keeps the optimizer's
    * column pruning from silently deleting the check. */
  def boundedFrame(what: String, inner: Column,
                   maxRows: Long = MaxBoundedFrame): Column =
    when(count(lit(1)).over(Window.partitionBy()) > maxRows,
      raise_error(lit(s"bounded-frame guard '$what': unpartitioned window " +
        s"frame exceeded $maxRows rows — the input is data-proportional, " +
        "not calendar/bucket-bounded")))
      .otherwise(inner)

  /** The one core (see above): adds `outCol` = the prefix sum of `summand`
    * and, if set, `totalCol` = the group's row count. Returns the frame and
    * its row count. */
  private def prefixed(df: DataFrame, outCol: String, groupCols: Seq[String],
                       sortCols: Seq[Column], summand: Column, numPartitions: Int,
                       totalCol: Option[String] = None): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val keys = groupCols.map(col)
    val order = keys ++ sortCols
    // the range sample and the shuffle map both read the input: one that
    // would re-run a shuffle of its own is persisted so it runs once
    val input = if (rereadsCheaply(df)) df else df.persist()
    val ranged =
      try input.repartitionByRange(parts, order: _*).localCheckpoint(false)
      finally if (input ne df) input.unpersist()
    val aux = partitionTotals(ranged, keys, summand)
    if (aux.length > MaxBoundedFrame)
      throw new IllegalStateException(s"bounded-frame guard 'rank_offsets': more " +
        s"than $MaxBoundedFrame (partition, group) offset rows — too many groups " +
        "to broadcast; numerous small groups want Window.partitionBy(group)")
    val offsets = aux.groupBy(_._2).values.flatMap { rows =>
      val total = rows.map(_._3).sum
      var acc = 0L
      rows.sortBy(_._1).map { case (pid, key, _, sum) =>
        val row = Row.fromSeq(pid +: key.toSeq :+ acc :+ total)
        acc = Math.addExact(acc, sum)
        row
      }
    }
    val auxKeys = (0 to keys.size).map(i => s"__k$i")
    val offSchema = StructType(StructField("__k0", IntegerType, false) +:
      ranged.select(keys: _*).schema.zip(auxKeys.tail).map { case (f, n) => f.copy(name = n) } :+
      StructField("__off", LongType, false) :+ StructField("__tot", LongType, false))
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq.asJava, offSchema))
    val on = ((col("__pid") === col("__k0")) +:
      keys.zip(auxKeys.tail).map { case (k, a) => k <=> col(a) }).reduce(_ && _)
    val joined = ranged.sortWithinPartitions(order: _*)
      .withColumn("__pp", PartitionPrefix.of(summand, keys))
      .withColumn("__pid", col("__pp.pid"))
      .join(offDf, on)
      .withColumn(outCol, col("__pp.p") + col("__off"))
    val out = totalCol.fold(joined)(c => joined.withColumn(c, col("__tot")))
    (out.drop("__pp" +: "__pid" +: "__off" +: "__tot" +: auxKeys: _*), aux.map(_._3).sum)
  }

  /** True when reading `df` twice costs no more than caching it: it is
    * already persisted, or its physical plan runs no shuffle (a scan, a
    * checkpoint, a broadcast join onto either). */
  private def rereadsCheaply(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      !plan.exists(_.isInstanceOf[ShuffleExchangeLike])
    }

  /** One row per (partition, group) of the range-partitioned checkpoint:
    * (partition index, group key, row count, sum of the summand), in one
    * partition-local pass — a partition is never exchanged, so the job
    * sorts and shuffles nothing. Groups compare as the sort orders them
    * (as [[PartitionPrefix]] does); each partition stops past
    * [[MaxBoundedFrame]] groups, which trips the caller's guard. */
  private def partitionTotals(ranged: DataFrame, keys: Seq[Column],
                              summand: Column): Array[(Int, Row, Long, Long)] = {
    val keyed = ranged.select(summand.cast(LongType) +: keys: _*)
    val keySchema = StructType(keyed.schema.tail)
    val keyTypes = keySchema.map(_.dataType)
    val bound = MaxBoundedFrame
    val totals = keyed.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val keyOf = UnsafeProjection.create(keyTypes.zipWithIndex.map { case (t, i) =>
        BoundReference(i + 1, t, nullable = true): Expression })
      val groups = new java.util.TreeMap[InternalRow, Array[Long]](
        InterpretedOrdering.forSchema(keyTypes))
      while (rows.hasNext && groups.size <= bound) {
        val r = rows.next()
        val k = keyOf(r)
        var t = groups.get(k)
        if (t == null) { t = Array(0L, 0L); groups.put(k.copy(), t) }
        t(0) += 1
        if (!r.isNullAt(0)) t(1) = Math.addExact(t(1), r.getLong(0))
      }
      groups.asScala.iterator.map { case (k, t) => (pid, k, t(0), t(1)) }
    }.collect()
    val toRow = CatalystTypeConverters.createToScalaConverter(keySchema)
    totals.map { case (pid, k, n, s) => (pid, toRow(k).asInstanceOf[Row], n, s) }
  }

  /** Adds `rankCol` = 1-based global row_number under `sortCols` ordering.
    * Returns (df, totalCount). */
  def withGlobalRankCounted(df: DataFrame, rankCol: String, sortCols: Seq[Column],
                            numPartitions: Int = 0): (DataFrame, Long) =
    prefixed(df, rankCol, Nil, sortCols, lit(1L), numPartitions)

  def withGlobalRank(df: DataFrame, rankCol: String, sortCols: Seq[Column]): DataFrame =
    withGlobalRankCounted(df, rankCol, sortCols)._1

  /** Adds `cumCol` = exact `SUM(valueCol) OVER (ORDER BY sortCols ROWS
    * UNBOUNDED PRECEDING)` (long). `valueCol` must be integral and
    * non-null. */
  def withGlobalCumSum(df: DataFrame, cumCol: String, valueCol: Column,
                       sortCols: Seq[Column], numPartitions: Int = 0): DataFrame =
    prefixed(df, cumCol, Nil, sortCols, valueCol, numPartitions)._1

  /** Adds `rankCol` = 1-based `row_number() OVER (PARTITION BY groupCols
    * ORDER BY sortCols)` (long) without ever sorting a whole group in one
    * task: a bare `Window.partitionBy(group)` yields exactly #groups tasks,
    * a parallelism ceiling when groups are few and huge (25 countries over
    * 20M+ ranked parts at 100 TB). `countCol`, if set, also adds the
    * per-group row count. Group columns compare null-safely, so null groups
    * rank like any other group. */
  def withGroupedRank(df: DataFrame, rankCol: String, groupCols: Seq[String],
                      sortCols: Seq[Column], numPartitions: Int = 0,
                      countCol: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty, "withGroupedRank needs at least one group column")
    prefixed(df, rankCol, groupCols, sortCols, lit(1L), numPartitions, countCol)._1
  }

  /** The value at 1-based position `pos` of its group, for a frame ranked
    * into `rankCol` by [[withGroupedRank]] and grouped by its group columns:
    * `pos` is an expression of the group's count — the lower median
    * `(n + 1) div 2`, the discrete quantile `ceil(n * p)`, the last row `n`. */
  def valueAt(value: Column, rankCol: String, pos: Column): Column =
    min(when(col(rankCol) === pos, value))

  /** Adds `ntileCol` = exact `NTILE(k) OVER (ORDER BY sortCols)` (long). */
  def withGlobalNtile(df: DataFrame, ntileCol: String, k: Int, sortCols: Seq[Column]): DataFrame = {
    require(k > 0, "ntile bucket count must be positive")
    val (ranked, n) = withGlobalRankCounted(df, "__grank", sortCols)
    val q = n / k // base bucket size
    val r = n % k // first r buckets get one extra row
    val rank = col("__grank")
    val bucket =
      if (q == 0) rank // fewer rows than buckets: row i -> bucket i
      else if (r == 0) (rank - 1) / lit(q) + 1
      else
        when(rank <= lit((q + 1) * r), (rank - 1) / lit(q + 1) + 1)
          .otherwise(lit(r) + (rank - 1 - lit(r * (q + 1))) / lit(q) + 1)
    // integer division: operands are longs; use floor to force integral result
    ranked.withColumn(ntileCol, floor(bucket).cast("long")).drop("__grank")
  }
}
