package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` seams that custom logical plans
  * and native kernels need (the standard extension-library idiom — e.g. how
  * OSS geo/timeseries Spark extensions construct DataFrames over injected
  * plan nodes):
  *
  *  - `Dataset.ofRows`: wrap a hand-built LogicalPlan as a DataFrame;
  *  - `queryExecution.analyzed`: the resolved plan + output attributes of an
  *    input DataFrame, used to bind the custom node's expressions.
  */
object GraftInternal {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Optimized plan of a DataFrame (tests use this to assert optimizer rules
    * like AsOfColumnPruning actually fired). */
  def analyzedToOptimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan

  /** Column ⇄ catalyst-Expression bridge (classic.ExpressionUtils is
    * `private[sql]`): lets the native kernels' `.of` wrappers build
    * Columns directly, with no per-call function registration and no
    * `SparkSession.active` dependency. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** A sort Column (`col.desc`, `col.asc_nulls_last`, …) as its key Column,
    * direction and null ordering; a plain Column sorts ascending, nulls
    * first. (A sort Column's expression is resolved lazily, so the
    * direction is read from its column node.) */
  def sortKey(c: Column): (Column, catalyst.expressions.SortDirection,
      catalyst.expressions.NullOrdering) = {
    import catalyst.expressions.{Ascending, Descending, NullsFirst, NullsLast}
    c.node match {
      case internal.SortOrder(child, dir, nulls, _) =>
        (new Column(child),
          if (dir == internal.SortOrder.Ascending) Ascending else Descending,
          if (nulls == internal.SortOrder.NullsFirst) NullsFirst else NullsLast)
      case _ => (c, Ascending, NullsFirst)
    }
  }

  /** Spark's ANSI overflow errors (`QueryExecutionErrors` is
    * `private[sql]`), so a native kernel fails with the same error class
    * as the cast or arithmetic it replaces. */
  def castOverflowError(v: Any, from: types.DataType, to: types.DataType): ArithmeticException =
    errors.QueryExecutionErrors.castingCauseOverflowError(v, from, to)

  def arithmeticOverflowError(message: String): ArithmeticException =
    errors.QueryExecutionErrors.arithmeticOverflowError(message)
}
