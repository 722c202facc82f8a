package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native vector arithmetic for the similarity family. The interpreted
  * `aggregate(zip_with(...))` HOF form computes the identical value but
  * leaves whole-stage codegen and allocates a lambda frame per element —
  * switching the LSH verify join (~11M candidate cosines at bench SF) to
  * this expression halved the whole query (6.7 → 3.5 s measured; the
  * remainder is the band join itself). Same cross-engine contract as
  * everywhere else: LEFT-TO-RIGHT double accumulation, 6-decimal-rounded
  * surface (the [[graft.sim.Similarity.cosine6]] acceptance).
  */
object VecOps {

  /** Hot-path entry referenced from generated code: round-6 cosine of two
    * equal-length double arrays, sums accumulated in element order.
    * Zero-norm input yields 0.0 (the [[graft.sim.Similarity.cosine6]]
    * contract — BigDecimal(NaN) would throw); a length mismatch is a
    * caller bug and fails with a descriptive error instead of reading
    * past the shorter buffer. */
  def cosine6(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine6: array lengths differ (${n} vs ${b.numElements()})")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = na * nb
    if (d == 0.0) 0.0
    else BigDecimal(dot / math.sqrt(d)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Column form: `cosine6Col(a, b)` over two array<double> columns. */
  def cosine6Col(a: Column, b: Column): Column =
    ColumnBridge.column(Cosine6Expr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All raw plane projections of an array<double> column in ONE native
    * pass: `planeProjCol(emb, planes)` returns array<double> of
    * left-to-right dot products, one per plane row. Replaces a per-plane
    * `aggregate(zip_with(...))` HOF stack — at 24×12 bands (288 planes)
    * the interpreted stack walks 288 lambda frames and allocates 576
    * intermediate arrays per row; this is one flat double loop (measured
    * on `dedup_lsh_pairs_prod` at bench SF: 9.7 → 7.3 s, and to 2.9 s
    * once the signature frame is also materialized once). Rounding and
    * the sign comparison stay OUTSIDE, in Spark's own `round(…, 6) >= 0`
    * columns, so the cross-engine rounding surface is untouched. */
  def planeProjCol(emb: Column, planes: Array[Array[Int]]): Column =
    ColumnBridge.column(PlaneProjExpr(ColumnBridge.expression(emb), planes))
}

/** `plane_proj(array<double>) -> array<double>`: the raw projection of the
  * input against every row of a plane matrix baked into the expression
  * (the [[graft.dedup.EmbeddingLsh]] LCG planes — a few KB, serialized
  * with the plan; same left-to-right accumulation as the HOF fold it
  * replaces, so values are bit-identical). Eval-only (CodegenFallback):
  * the hand-rolled loop is already flat Java; inlining a 288×64 matrix
  * into generated code would bloat past the JIT's method limits. */
case class PlaneProjExpr(child: Expression, planes: Array[Array[Int]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"plane_proj requires array<double>, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Double](planes.length)
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      require(a.length == p.length,
        s"plane_proj: vector length ${a.length} != plane width ${p.length}")
      var s = 0.0
      var i = 0
      while (i < p.length) { s += a(i) * p(i); i += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneProjExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_plane_proj"
}

/** `cosine6(array<double>, array<double>) -> double`: codegen'd exact-order
  * cosine, rounded to the shared 6-decimal cross-engine surface. */
case class Cosine6Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine6 requires two array<double> arguments, got ${left.dataType} and ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine6(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosine6($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Cosine6Expr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine6"
}
