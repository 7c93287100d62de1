package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedOrdering, NullOrdering, SortDirection, SortOrder, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** An exact NTILE's bucket for one row, given its boundary keys (the sort
  * keys at the ranks where buckets end, ascending and distinct):
  * `1 + #{i : key sorts after bounds(i)}`, where `key` (the child) is the
  * row's sort key as a struct and `order` gives each key field's direction
  * and null ordering. Keys compare as Spark's sort does
  * (`InterpretedOrdering`: NaN is the largest double, −0.0 equals 0.0).
  *
  * The boundaries ride as a reference object, as [[KMeansAssign]]'s centers
  * do, so the generated source is the same for every set of boundaries —
  * one compile per key shape, not per dataset. The search is the static
  * [[NtileScore.after]], which [[graft.operators.RankOps]]' boundary
  * selection also uses to place keys among its splitters. */
case class NtileScore(child: Expression, bounds: Array[InternalRow],
                      order: Seq[(SortDirection, NullOrdering)]) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "ntile_score"

  @transient private lazy val ordering =
    NtileScore.ordering(child.dataType.asInstanceOf[StructType], order)

  def score(key: InternalRow): Long = NtileScore.after(key, bounds, ordering) + 1L

  override def eval(input: InternalRow): Any = score(child.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ntile", this)
    val key = child.genCode(ctx)
    ev.copy(code = code"""
      ${key.code}
      long ${ev.value} = $self.score(${key.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NtileScore =
    copy(child = newChild)
}

object NtileScore {

  /** The ordering of a sort-key struct: field `i` compares under `order(i)`. */
  def ordering(key: StructType, order: Seq[(SortDirection, NullOrdering)]): InterpretedOrdering =
    new InterpretedOrdering(key.fields.toSeq.zip(order).zipWithIndex.map {
      case ((f, (dir, nulls)), i) =>
        SortOrder(BoundReference(i, f.dataType, nullable = true), dir, nulls, Seq.empty)
    })

  /** How many of the ascending, distinct `sorted` keys `key` sorts after. */
  def after(key: InternalRow, sorted: Array[InternalRow], ord: Ordering[InternalRow]): Int = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.gt(key, sorted(mid))) lo = mid + 1 else hi = mid
    }
    lo
  }

  def of(key: Column, bounds: Array[InternalRow],
         order: Seq[(SortDirection, NullOrdering)]): Column =
    Native.column(NtileScore(Native.expression(key), bounds, order))
}
