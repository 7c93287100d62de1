package graft.operators

import graft.functions.{NtileScore, PartitionPrefix}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftInternal, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedOrdering, NullOrdering, SortDirection, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Distributed global rank, grouped rank, running sum and NTILE. The
  * reference scores RFM with `Window.orderBy(...)` and **no partition**
  * (reference: src/etl/gold/spark_gold.py:114-116), which Spark collapses
  * to a single-partition sort, the classic scale-killer.
  *
  * Ranks and running sums share one prefix core; NTILE has its own path
  * (below).
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
  * sampler re-samples a skewed input partition). An input whose plan runs
  * a shuffle of its own (a join, an aggregate — including the exchanges
  * AQE's `EnsureRequirements` adds) is checkpointed, non-eagerly: the range
  * sample fills the checkpoint and the shuffle map reads it, so the input
  * is evaluated once with no job of its own (a persisted input would be
  * one more job under AQE, a table-cache query stage); a scan, a
  * checkpoint or a frame the caller already persisted is read twice
  * instead.
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
  * NTILE is not a rank: `NTILE(k)` needs only the k − 1 rows where its
  * buckets end, so `withGlobalNtile` selects those boundary keys and scores
  * every row with a projection, `1 + #{i : row sorts after boundary i}`
  * ([[graft.functions.NtileScore]]) — no exchange, no output checkpoint, no
  * broadcast join. The selection serves any number of orders over one frame
  * in the same jobs: one count-and-sample job (a reservoir of keys per
  * partition; it also materializes an input that would re-run a shuffle,
  * which is checkpointed), one exact histogram over splitters drawn from
  * the sample, and one bounded collect of the buckets that hold the
  * boundary ranks. A bucket over the collect bound is split once more on
  * the sampled keys inside it (one job for every such bucket), and past
  * that the call fails loudly. The result depends only on row values, so a
  * recompute cannot draw other boundaries.
  *
  * Sort keys must be a total order (callers append a unique tie-breaker),
  * so ranks and NTILE buckets match `row_number()` / `NTILE(k) OVER (ORDER
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
    * data-proportional one. Also bounds the prefix core's offset table and
    * the rows one NTILE boundary bucket may collect. */
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
    // would re-run a shuffle of its own is checkpointed so it runs once
    val input = if (rereadsCheaply(df)) df else df.localCheckpoint(false)
    val ranged = input.repartitionByRange(parts, order: _*).localCheckpoint(false)
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

  /** True when reading `df` again costs no more than caching it: it is
    * already persisted, or its physical plan runs no shuffle (a scan, a
    * checkpoint, a broadcast join onto either). Under AQE the executed plan
    * is the adaptive root, whose `inputPlan` is planned before
    * `EnsureRequirements` adds the aggregate and join exchanges; so a
    * shuffle is also a node whose child does not yet satisfy the
    * distribution the node requires (a broadcast side is not a shuffle). */
  private def rereadsCheaply(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      !plan.exists {
        case _: ShuffleExchangeLike => true
        case p => p.children.zip(p.requiredChildDistribution).exists {
          case (_, _: BroadcastDistribution) => false
          case (c, d) => !c.outputPartitioning.satisfies(d)
        }
      }
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

  /** Adds one column per `(name, sortCols)` in `tiles`: exact `NTILE(k)
    * OVER (ORDER BY sortCols)` (long), every order scored over the same
    * frame in the same three jobs by boundary selection (see above). A
    * bucket that holds a boundary is collected only up to `collectBound`
    * rows; a larger one is split once more, and past that the call fails. */
  def withGlobalNtile(df: DataFrame, k: Int, tiles: Seq[(String, Seq[Column])],
                      collectBound: Long = MaxBoundedFrame): DataFrame = {
    require(k > 0, "ntile bucket count must be positive")
    val orders = tiles.map { case (_, sortCols) => sortCols.map(GraftInternal.sortKey) }
    val keys = orders.map(o => struct(o.map(_._1): _*))
    val dirs = orders.map(_.map { case (_, dir, nulls) => (dir, nulls) })
    // the three jobs and the scoring projection all read the input: one
    // that would re-run a shuffle of its own is checkpointed, so it runs once
    val input = if (k == 1 || rereadsCheaply(df)) df else df.localCheckpoint(false)
    val bounds =
      if (k == 1) dirs.map(_ => Array.empty[InternalRow])
      else ntileBounds(input.select(keys: _*), k, dirs, collectBound)
    tiles.indices.foldLeft(input) { (out, j) =>
      out.withColumn(tiles(j)._1, NtileScore.of(keys(j), bounds(j), dirs(j)))
    }
  }

  /** Reservoir size per input partition in the count-and-sample job, and
    * the cap on the whole sample (keys per order, across partitions). */
  private val SamplePerPartition = 256
  private val SampleBudget = 1 << 18
  /** Sampled keys per first-round bucket (so a bucket that needs a second
    * round has sampled keys inside it to split on), and the cap on the
    * first round's splitters. */
  private val SamplesPerBucket = 16
  private val MaxSplitters = 1023

  /** A key range `(lo, hi]` of order `order` (a null end is open): `below`
    * rows sort at or before `lo`, `size` rows fall inside, and `round`
    * histograms have narrowed it so far. */
  private case class Span(order: Int, lo: InternalRow, hi: InternalRow,
                          below: Long, size: Long, round: Int)

  /** For each order (a struct column of `keyed` and its field directions),
    * the keys at the ranks where NTILE(k)'s buckets end, ascending: bucket
    * `b` ends at rank `b·q + min(b, r)` for `n = q·k + r` rows, and a
    * boundary at rank `n` has no row after it, so it is left out. */
  private def ntileBounds(keyed: DataFrame, k: Int,
                          dirs: Seq[Seq[(SortDirection, NullOrdering)]],
                          collectBound: Long): Seq[Array[InternalRow]] = {
    val types = keyed.schema.map(_.dataType.asInstanceOf[StructType])
    val ords = types.zip(dirs).map { case (t, d) => NtileScore.ordering(t, d) }
    val widths = types.map(_.size)
    val rows = keyed.queryExecution.toRdd
    val perPart = math.max(1, math.min(SamplePerPartition,
      SampleBudget / math.max(1, rows.getNumPartitions)))
    // job 1: each partition's row count and a reservoir of its key rows
    val drawn = rows.mapPartitionsWithIndex { (pid, it) =>
      val rnd = new scala.util.Random(pid)
      val kept = new Array[InternalRow](perPart)
      var n = 0L
      while (it.hasNext) {
        val row = it.next()
        val slot = if (n < perPart) n else rnd.nextLong(n + 1)
        if (slot < perPart) kept(slot.toInt) = row.copy()
        n += 1
      }
      Iterator((n, kept.take(math.min(n, perPart.toLong).toInt)))
    }.collect()
    val n = drawn.map(_._1).sum
    val (q, r) = (n / k, n % k)
    val targets = (1 until k).map(b => b * q + math.min(b, r)).filter(_ < n).distinct
    if (targets.isEmpty) return ords.map(_ => Array.empty[InternalRow])
    // each order's sample, sorted, weighted by its partition's rows per key
    val samples = ords.indices.map { j =>
      drawn.flatMap { case (c, kept) =>
        kept.map(row => (row.getStruct(j, widths(j)), c.toDouble / kept.length))
      }.sortBy(_._1)(ords(j))
    }
    // split points in (lo, hi): the first round cuts the whole sample into
    // equal weights; the second round splits on every sampled key inside
    def splitters(s: Span): Array[InternalRow] = {
      val ord = ords(s.order)
      val inside = samples(s.order).filter { case (key, _) =>
        (s.lo == null || ord.gt(key, s.lo)) && (s.hi == null || ord.lt(key, s.hi))
      }
      if (s.round > 0) inside.map(_._1)
      else {
        val cuts = math.min(MaxSplitters, inside.length / SamplesPerBucket)
        val step = inside.map(_._2).sum / (cuts + 1)
        val out = Array.newBuilder[InternalRow]
        var (acc, taken) = (0.0, 0)
        inside.foreach { case (key, w) =>
          acc += w
          if (taken < cuts && acc >= step * (taken + 1)) { out += key; taken += 1 }
        }
        out.result()
      }
    }
    val found = ords.map(_ => scala.collection.mutable.Map.empty[Long, InternalRow])
    var pending: Map[Span, Seq[Long]] =
      ords.indices.map(j => Span(j, null, null, 0L, n, 0) -> targets).toMap
    // jobs 2 and on: one exact pass per round serves every order and target
    while (pending.nonEmpty) {
      val plan = pending.keys.toSeq.map { s =>
        if (s.round > 0 && s.size <= collectBound) (s, null)
        else {
          val cuts = if (s.round > 1) Array.empty[InternalRow] else splitters(s)
          if (cuts.nonEmpty) (s, cuts)
          else if (s.size <= collectBound) (s, null)
          else throw new IllegalStateException(s"bounded-frame guard 'ntile_bounds': an " +
            s"NTILE boundary lies in a bucket of ${s.size} rows after ${s.round} histogram " +
            s"rounds, past the collect bound of $collectBound rows — the frame is too " +
            "large to select its boundaries within the bound")
        }
      }
      val passed = selectionPass(rows, widths, ords, plan)
      pending = plan.zip(passed).flatMap { case ((s, cuts), (counts, keys)) =>
        val ts = pending(s)
        if (cuts == null) {
          val sorted = keys.sorted(ords(s.order))
          ts.foreach(t => found(s.order)(t) = sorted((t - s.below - 1).toInt))
          Nil
        } else {
          val below = counts.scanLeft(s.below)(_ + _)
          val ends = (s.lo +: cuts) :+ s.hi
          ts.groupBy(t => below.lastIndexWhere(_ < t)).map { case (b, inB) =>
            Span(s.order, ends(b), ends(b + 1), below(b), counts(b), s.round + 1) -> inB
          }
        }
      }.toMap
    }
    found.map(f => targets.map(f).toArray)
  }

  /** One pass over the key rows for every span of `plan` at once: a span
    * with splitters counts its rows per sub-range `(cut(i-1), cut(i)]`; one
    * without (null) collects its keys, whose number the previous round
    * counted exactly. */
  private def selectionPass(rows: RDD[InternalRow], widths: Seq[Int],
                            ords: Seq[InterpretedOrdering],
                            plan: Seq[(Span, Array[InternalRow])]
                           ): Seq[(Array[Long], Array[InternalRow])] = {
    val probes = plan.map { case (s, cuts) => (s.order, s.lo, s.hi, cuts) }.toArray
    val (counts, keys) = rows.mapPartitions { it =>
      val counts = probes.map(p => if (p._4 == null) Array.emptyLongArray
        else new Array[Long](p._4.length + 1))
      val picked = probes.map(_ => Array.newBuilder[InternalRow])
      while (it.hasNext) {
        val row = it.next()
        val keys = widths.indices.map(j => row.getStruct(j, widths(j)))
        var i = 0
        while (i < probes.length) {
          val (j, lo, hi, cuts) = probes(i)
          val key = keys(j)
          val ord = ords(j)
          if ((lo == null || ord.gt(key, lo)) && (hi == null || ord.lteq(key, hi))) {
            if (cuts == null) picked(i) += key.copy()
            else counts(i)(NtileScore.after(key, cuts, ord)) += 1
          }
          i += 1
        }
      }
      Iterator((counts, picked.map(_.result())))
    }.reduce { case ((c1, k1), (c2, k2)) =>
      (c1.zip(c2).map { case (a, b) => a.indices.map(i => a(i) + b(i)).toArray },
        k1.zip(k2).map { case (a, b) => a ++ b })
    }
    counts.toSeq.zip(keys.toSeq)
  }
}
