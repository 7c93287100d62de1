package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused q20 fixed-point cosine — the oracle-parity scoring
  * (floats scaled by 2^20, rounded half-away-from-zero to integers held in
  * doubles; every product and partial sum is an exact integer, so the score
  * is bit-identical in any engine) in ONE loop per pair.
  *
  * Arithmetic contract (must not drift — three DuckDB oracles mirror it):
  * identical to the declarative
  * `aggregate(zip_with(quantize(a), quantize(b), …))` chain with the
  * denominator written as sqrt(na·nb) — NOT sqrt(na)·sqrt(nb) — and
  * quantization `round(x·1048576.0)` with HALF_UP ties (away from zero;
  * x·2^20 is exact for float x, so ties genuinely occur). The declarative
  * form walks each 64-float array four times and materializes the quantized
  * intermediates; on the near-dup candidate path that measured 23× slower
  * than a fused loop. NULL if either side is null, lengths differ, or a
  * norm is zero. The interpreted and generated paths both call the static
  * [[ArrayCosineQ20.cosine]], so the arithmetic is written once and the
  * loop is a small method HotSpot compiles on its own.
  */
case class ArrayCosineQ20(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // type inferred (Seq[ArrayType]) — AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // can return NULL from non-null inputs (length mismatch, zero norm); without
  // this, non-nullable children make nullSafeCodeGen render ev.isNull as the
  // literal `false` and the generated `false = true;` fails Janino compile
  override def nullable: Boolean = true
  override def prettyName: String = "array_cosine_q20"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayCosineQ20.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val c = ctx.freshName("c")
      s"""
         |final java.lang.Double $c = graft.functions.ArrayCosineQ20.cosine($x, $y);
         |if ($c == null) { ${ev.isNull} = true; } else { ${ev.value} = $c.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayCosineQ20 =
    copy(left = newLeft, right = newRight)
}

object ArrayCosineQ20 {
  val info = new ExpressionInfo(classOf[ArrayCosineQ20].getName, "array_cosine_q20")

  /** The score of one pair, null when the lengths differ or a norm is
    * zero. Quantization is [[SphereQ20.halfUp]], the IVF featurization's
    * rule: on float·2^20 it equals `round(x·1048576.0)` with HALF_UP ties. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xi = SphereQ20.halfUp(x.getFloat(i).toDouble * 1048576.0)
        val yi = SphereQ20.halfUp(y.getFloat(i).toDouble * 1048576.0)
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      val nn = nx * ny
      if (nn == 0.0) null else dot / math.sqrt(nn)
    }
  }

  def register(spark: SparkSession): Unit = {
    val fid = FunctionIdentifier("array_cosine_q20")
    if (!spark.sessionState.functionRegistry.functionExists(fid))
      spark.sessionState.functionRegistry.registerFunction(
        fid, info,
        (children: Seq[Expression]) => ArrayCosineQ20(children.head, children(1)))
  }

  /** Column wrapper — direct catalyst construction, session-independent
    * (see [[Native]]). */
  def of(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Native.column(ArrayCosineQ20(Native.expression(a), Native.expression(b)))
}
