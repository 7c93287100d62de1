package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The IVF family's spherical q20 featurization (`Ann.ivfProj`) in one
  * pass: `sphere_q20(v: array<float>)` → `array<long>` of length `dims`.
  *
  * Arithmetic contract (the DuckDB oracles replay it):
  *  - q_i = half-up(v_i·2^20) as a long — x·2^20 is exact for a float;
  *  - nrm = Σ q_i² over every element, in exact long arithmetic;
  *  - x_d = half-up(q_d·1048576.0 / sqrt(nrm)) for d < `dims`, zero past
  *    the input's length; nrm = 0 gives all zeros;
  *  - a null array or a null element gives a null array;
  *  - half-up is half away from zero on the exact double
  *    ([[SphereQ20.halfUp]]), which is what Spark's `round(d, 0)` computes
  *    through `BigDecimal`; `floor(v + 0.5)` is not (0.49999999999999994);
  *  - a q outside the long range raises `CAST_OVERFLOW` and a square or
  *    sum past it `ARITHMETIC_OVERFLOW`, as the ANSI cast and multiply of
  *    the declarative chain did.
  *
  * One kernel, because the declarative form needs `transform` and
  * `aggregate` (both CodegenFallback: every element interpreted, and the
  * projection kept out of whole-stage codegen) plus one `BigDecimal` round
  * per output dimension. The loop is the static [[SphereQ20.project]], not
  * generated source: HotSpot never JIT-compiles a method over 8,000
  * bytecodes, and the 64-column projections around this kernel generate
  * methods past that limit, so inlined loops would run interpreted.
  */
case class SphereQ20(child: Expression, dims: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // a null element nulls the result (see ArrayCosineQ20 on why this must
  // not follow the child's nullability)
  override def nullable: Boolean = true
  override def prettyName: String = "sphere_q20"

  override def nullSafeEval(v: Any): Any = {
    val out = SphereQ20.project(v.asInstanceOf[ArrayData], dims)
    if (out == null) null else UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      s"""
         |final long[] $out = graft.functions.SphereQ20.project($v, $dims);
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SphereQ20 =
    copy(child = newChild)
}

object SphereQ20 {
  /** The largest |q| whose square fits a long: floor(sqrt(2^63 − 1)). */
  private final val MaxSquarable = 3037000499L

  /** Half away from zero on the exact value of `v`: the fraction of |v| is
    * exact in a double, so one compare against 0.5 decides the tie. NaN and
    * ±∞ pass through. */
  def halfUp(v: Double): Double = {
    val a = math.abs(v)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    if (v < 0) -r else r
  }

  /** Spark's ANSI double→long cast of an integral double. */
  private def toLong(d: Double): Long =
    if (math.floor(d) <= Long.MaxValue.toDouble && math.ceil(d) >= Long.MinValue.toDouble) d.toLong
    else throw org.apache.spark.sql.GraftInternal.castOverflowError(d, DoubleType, LongType)

  /** The projection of one array (see the class doc), null for a null
    * element. Every element is quantized before an overflowing square or
    * sum raises, so a cast overflow anywhere wins, as in the chain this
    * replaces; the norm stops at the first null element, as its
    * null-propagating sum did. */
  def project(v: ArrayData, dims: Int): Array[Long] = {
    val n = v.numElements()
    val out = new Array[Long](dims)
    var nrm = 0L
    var sawNull = false
    var overflow = false
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) sawNull = true
      else {
        val q = toLong(halfUp(v.getFloat(i).toDouble * 1048576.0))
        if (i < dims) out(i) = q
        if (q > MaxSquarable || q < -MaxSquarable) overflow = true
        else if (!sawNull) {
          nrm += q * q
          if (nrm < 0) overflow = true
        }
      }
      i += 1
    }
    if (overflow) throw org.apache.spark.sql.GraftInternal.arithmeticOverflowError("long overflow")
    if (sawNull) null
    else {
      // nrm = 0 means every q is 0: out is already the zero vector
      if (nrm != 0L) {
        val s = math.sqrt(nrm.toDouble)
        var d = 0
        while (d < dims) {
          out(d) = halfUp(out(d).toDouble * 1048576.0 / s).toLong
          d += 1
        }
      }
      out
    }
  }

  /** Column wrapper — direct catalyst construction, session-independent
    * (see [[Native]]). */
  def of(v: org.apache.spark.sql.Column, dims: Int): org.apache.spark.sql.Column =
    Native.column(SphereQ20(Native.expression(v), dims))
}
