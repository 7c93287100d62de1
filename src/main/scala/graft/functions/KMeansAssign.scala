package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Nearest-center assignment for [[graft.ml.DetKMeans]]:
  * `kmeans_assign(z: array<double>, centers: array<array<double>>)` → the
  * 0-based index of the center with the smallest squared Euclidean
  * distance; ties keep the FIRST (smallest) index, matching the oracle's
  * lexicographic `min(struct(dist, cluster))`.
  *
  * Why a custom expression: the declarative forms both lose —
  * `transform`/`array_min`/`array_position` are CodegenFallback (an
  * interpreted walk per row per Lloyd's iteration), and a literal-centers
  * CASE ladder inlines k×d scalar constants into the generated source, so
  * every iteration's new centers force a fresh Janino compile. Here
  * foldable centers are converted once to a `double[][]` reference object,
  * so the generated source is the same for every set of centers — one
  * compile per fit shape.
  *
  * Why the loop is the static [[KMeansAssign.argmin]] and not generated
  * source: HotSpot never JIT-compiles a method over 8,000 bytecodes, and
  * the wide projections that call this kernel (the IVF family's 64 z
  * columns) generate methods past that limit, so an inlined argmin ran in
  * the bytecode interpreter — about 15× slower than the same loop in a
  * narrow projection. As its own small method it compiles on its own.
  */
case class KMeansAssign(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "kmeans_assign"
  override def nullIntolerant: Boolean = true

  /** Foldable centers (every caller passes `typedLit`), converted once. */
  @transient private lazy val foldedCenters: Array[Array[Double]] =
    if (right.foldable) KMeansAssign.matrix(right.eval().asInstanceOf[ArrayData]) else null

  override def nullSafeEval(z: Any, cs: Any): Any = {
    val centers =
      if (right.foldable) foldedCenters else KMeansAssign.matrix(cs.asInstanceOf[ArrayData])
    KMeansAssign.argmin(z.asInstanceOf[ArrayData].toDoubleArray(), centers)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val folded =
      if (right.foldable) Some(ctx.addReferenceObj("centers", foldedCenters, "double[][]"))
      else None
    nullSafeCodeGen(ctx, ev, (zv, cv) => {
      val centers = folded.getOrElse(s"graft.functions.KMeansAssign.matrix($cv)")
      s"${ev.value} = graft.functions.KMeansAssign.argmin($zv.toDoubleArray(), $centers);"
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): KMeansAssign =
    copy(left = newLeft, right = newRight)
}

object KMeansAssign {
  def register(spark: SparkSession): Unit = {
    val fid = FunctionIdentifier("kmeans_assign")
    if (!spark.sessionState.functionRegistry.functionExists(fid))
      spark.sessionState.functionRegistry.registerFunction(
        fid, new ExpressionInfo(classOf[KMeansAssign].getName, "kmeans_assign"),
        (children: Seq[Expression]) => KMeansAssign(children.head, children(1)))
  }

  /** The index of the center nearest `z`. The accumulation `d += t·t` in
    * ascending dimension order IS the left-associated sum the oracle
    * writes out; a strict `<` keeps ties on the smallest index. */
  def argmin(z: Array[Double], centers: Array[Array[Double]]): Long = {
    val nd = z.length
    var best = 0L
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < centers.length) {
      val c = centers(j)
      var d = 0.0
      var i = 0
      while (i < nd) {
        val t = z(i) - c(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = j.toLong }
      j += 1
    }
    best
  }

  /** `array<array<double>>` as a JVM matrix (null stays null). */
  def matrix(cs: ArrayData): Array[Array[Double]] =
    if (cs == null) null
    else Array.tabulate(cs.numElements())(j => cs.getArray(j).toDoubleArray())

  /** Column wrapper — direct catalyst construction, session-independent
    * (see [[Native]]). */
  def of(z: org.apache.spark.sql.Column,
         centers: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Native.column(KMeansAssign(Native.expression(z), Native.expression(centers)))
}
