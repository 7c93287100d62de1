package graft.operators

import graft.functions.PartitionPrefix
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
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
  * `sum(v)`, order-free, so that job sorts nothing — and fold them on the
  * driver into each one's offset (the group's sum in earlier partitions)
  * and total (its row count); then `sortWithinPartitions`, project the
  * partition-local prefix ([[graft.functions.PartitionPrefix]]) and add the
  * broadcast offset. The frame is never exchanged after the range shuffle.
  *
  * Why the checkpoint: the offsets are only valid for the exact boundaries
  * the range sampler drew, and a cache-evicted recompute could draw others
  * — silent rank corruption; a cut lineage fails loudly instead.
  * Why the collect is eager: the result stands on its own, so a caller may
  * unpersist the input right after construction (`Gold.rfmSegments`).
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
    val ranged = df.repartitionByRange(parts, order: _*).localCheckpoint(false)
    def withPrefix(f: DataFrame) = f
      .withColumn("__pp", PartitionPrefix.of(summand, keys))
      .withColumn("__pid", col("__pp.pid"))
    val auxDf = withPrefix(ranged).groupBy(col("__pid") +: keys: _*)
      .agg(count(lit(1)).as("__cnt"), coalesce(sum(summand.cast("long")), lit(0L)).as("__sum"))
    val aux = auxDf.limit((MaxBoundedFrame + 1).toInt).collect()
    if (aux.length > MaxBoundedFrame)
      throw new IllegalStateException(s"bounded-frame guard 'rank_offsets': more " +
        s"than $MaxBoundedFrame (partition, group) offset rows — too many groups " +
        "to broadcast; numerous small groups want Window.partitionBy(group)")
    val nk = keys.size
    val offsets = aux.groupBy(_.toSeq.slice(1, nk + 1)).values.flatMap { rows =>
      val total = rows.map(_.getLong(nk + 1)).sum
      var acc = 0L
      rows.sortBy(_.getInt(0)).map { r =>
        val row = Row.fromSeq(r.toSeq.take(nk + 1) ++ Seq(acc, total))
        acc = Math.addExact(acc, r.getLong(nk + 2))
        row
      }
    }
    val auxKeys = (0 to nk).map(i => s"__k$i")
    val offSchema = StructType(auxDf.schema.take(nk + 1).zip(auxKeys)
      .map { case (f, n) => f.copy(name = n) } ++
      Seq(StructField("__off", LongType, false), StructField("__tot", LongType, false)))
    val offDf = broadcast(spark.createDataFrame(offsets.toSeq.asJava, offSchema))
    val on = ((col("__pid") === col("__k0")) +:
      keys.zip(auxKeys.tail).map { case (k, a) => k <=> col(a) }).reduce(_ && _)
    val joined = withPrefix(ranged.sortWithinPartitions(order: _*))
      .join(offDf, on)
      .withColumn(outCol, col("__pp.p") + col("__off"))
    val out = totalCol.fold(joined)(c => joined.withColumn(c, col("__tot")))
    (out.drop("__pp" +: "__pid" +: "__off" +: "__tot" +: auxKeys: _*),
      aux.map(_.getLong(nk + 1)).sum)
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
