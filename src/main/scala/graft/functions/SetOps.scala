package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Sorted-set intersection count: `|A ∩ B|` for two ASCENDING-SORTED,
  * duplicate-free arrays, as one linear merge — no per-row hash table.
  *
  * Why it exists: every near-dup verifier (token-jaccard, MinHash exact
  * verify) scores candidate PAIRS, so each document's set is intersected
  * against every partner it shares a candidate with (dozens at sf0.1,
  * unbounded at 100 TB). Spark's `size(array_intersect(a, b))` builds and
  * discards a hash set per pair and materializes the intersection array
  * nobody reads; sorting each set ONCE per document (`array_sort`, amortized
  * over all its pairs) turns every pair-score into an allocation-free
  * two-pointer merge inside whole-stage codegen. Same jaccard, same oracle,
  * ~2× less verify CPU.
  *
  * PRECONDITION (documented, not checked): both inputs sorted ascending with
  * no duplicate elements — exactly what `array_sort(array_distinct(...))`
  * produces. String order is UTF8String binary order, i.e. `array_sort`'s
  * own ordering, so sorting and merging agree by construction. Null
  * elements, if present, are skipped (array_sort puts them last).
  */
object SetOps {

  /** Merge-count for `array<string>` (UTF8String binary comparison). */
  def intersectCountString(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Merge-count for `array<bigint>`. */
  def intersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Column form: `sortedIntersectCountCol(a, b)` — both sides sorted
    * ascending, duplicate-free. */
  def sortedIntersectCountCol(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Position-wise equality count for two `array<bigint>` of equal length
    * (positions beyond the shorter array never match — mirrors `zip_with`'s
    * null padding falling to the `otherwise(0)` arm). Null elements count
    * as unequal. */
  def posEqCountLong(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Column form: `posEqCountCol(a, b)` — the MinHash signature-agreement
    * count. Replaces the interpreted `aggregate(zip_with(...))` lambda
    * chain, which is CodegenFallback and was measured dominating the LSH
    * candidate join (it runs once per CANDIDATE PAIR): the whole join stays
    * inside whole-stage codegen with this expression. */
  def posEqCountCol(a: Column, b: Column): Column =
    ColumnBridge.column(PosEqCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** `sorted_intersect_count(array<T>, array<T>) -> int` for T in
  * {string, bigint}: native codegen two-pointer merge over pre-sorted
  * duplicate-free arrays (see [[SetOps]] for the contract and why). */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  private def elemType: Option[DataType] = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) if a == b => Some(a)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(StringType) | Some(LongType) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "sorted_intersect_count requires two arrays of the same element type " +
        s"(string or bigint), got ${left.dataType} and ${right.dataType}")
  }

  private def entry: String = elemType match {
    case Some(StringType) => "intersectCountString"
    case _ => "intersectCountLong"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = elemType match {
    case Some(StringType) =>
      SetOps.intersectCountString(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case _ =>
      SetOps.intersectCountLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SetOps.$entry($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_count"
}

/** `graft_pos_eq_count(array<bigint>, array<bigint>) -> int`: position-wise
  * equality count (MinHash signature agreement) as one native codegen loop —
  * see [[SetOps.posEqCountCol]] for why this exists. */
case class PosEqCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "pos_eq_count requires two array<bigint> inputs, " +
        s"got ${left.dataType} and ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOps.posEqCountLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SetOps.posEqCountLong($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PosEqCountExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pos_eq_count"
}
