package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 32-bit hash over a string's UTF-8 bytes, masked to 31 bits — the
  * reference engine's reduce-bucket router
  * (`ihash`, /root/reference/src/mr/worker.go:36-40: fnv.New32a, &0x7fffffff),
  * provided for byte-compatible bucket routing. Implemented as a native
  * Catalyst expression with codegen (stays inside whole-stage codegen — no
  * UDF serialization on the hot path). FNV constants are public domain
  * (fnv-1a: offset 2166136261, prime 16777619).
  */
object Fnv32 {
  /** Static hot-path helper referenced from generated code. */
  def hashBytes(bytes: Array[Byte]): Int = {
    var h = 0x811c9dc5 // 2166136261
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xff); h *= 16777619; i += 1 }
    h & 0x7fffffff
  }
  def hash(s: String): Int = hashBytes(s.getBytes("UTF-8"))

  /** Column form: `fnv32($"key")`. */
  def fnv32(c: Column): Column = ColumnBridge.column(Fnv32Expr(ColumnBridge.expression(c)))

  /** Reference-compatible reduce-bucket id: `ihash(key) % nReduce`
    * (/root/reference/src/mr/worker.go:109; nReduce=10 at mrmaster.go:26). */
  def mrBucket(c: Column, nReduce: Int = 10): Column = fnv32(c) % nReduce
}

case class Fnv32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fnv32 requires a string argument, got ${child.dataType}")
  override protected def nullSafeEval(input: Any): Any =
    Fnv32.hashBytes(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv32.hashBytes(($c).getBytes())")
  override protected def withNewChildInternal(newChild: Expression): Fnv32Expr =
    copy(child = newChild)
  override def prettyName: String = "graft_fnv32"
}
