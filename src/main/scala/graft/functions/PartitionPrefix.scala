package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering, Nondeterministic, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._

/** The partition-local prefix behind every [[graft.operators.RankOps]]
  * form: `struct<pid: int, p: long>`, where `pid` is the partition index
  * and `p` the inclusive running sum of the long summand (first child) over
  * the rows the partition has produced so far, restarting wherever the
  * group keys (the other children) change; keys compare as the sort does.
  *
  * Per-partition state in the manner of Spark's `MonotonicallyIncreasingID`,
  * deterministic under the same condition: the partition's row order is
  * pinned (`sortWithinPartitions` under a total order over a checkpointed
  * frame), so a retried task recomputes identical sums. A null summand adds
  * nothing; overflow raises (`Math.addExact`), as the ANSI window sum does. */
case class PartitionPrefix(children: Seq[Expression])
    extends Expression with Nondeterministic with CodegenFallback {

  private def keys = children.tail

  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def dataType: DataType = PartitionPrefix.Type
  override def prettyName: String = "partition_prefix"

  @transient private[this] lazy val keyOf = UnsafeProjection.create(keys)
  @transient private[this] lazy val sameKey = InterpretedOrdering.forSchema(keys.map(_.dataType))
  @transient private[this] var pid: Int = _
  @transient private[this] var acc: Long = _
  @transient private[this] var prev: UnsafeRow = _

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    pid = partitionIndex; acc = 0L; prev = null
  }

  override protected def evalInternal(input: InternalRow): Any = {
    if (keys.nonEmpty) {
      val k = keyOf(input)
      if (prev == null || sameKey.compare(prev, k) != 0) {
        acc = 0L
        prev = k.copy()
      }
    }
    val v = children.head.eval(input)
    if (v != null) acc = Math.addExact(acc, v.asInstanceOf[Long])
    InternalRow(pid, acc)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PartitionPrefix = copy(children = newChildren)
}

object PartitionPrefix {
  val Type: StructType = StructType(Seq(
    StructField("pid", IntegerType, nullable = false),
    StructField("p", LongType, nullable = false)))

  def of(summand: Column, keys: Seq[Column]): Column =
    Native.column(PartitionPrefix(
      Native.expression(summand.cast(LongType)) +: keys.map(Native.expression)))
}
