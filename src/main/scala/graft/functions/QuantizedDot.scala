package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the integer dot product of two int8-code
  * arrays (int or long elements) — the scoring kernel of the quantized
  * retrieval tier ([[graft.operators.Quantize.quantizedTopK]] and the
  * streaming admission gate).
  *
  * Why a custom Expression (same rationale as [[CosineSimilarity]]): the
  * HOF formulation `aggregate(zip_with(codes, q, _*_), 0L, _+_)` allocates
  * a lambda frame per element and is interpreted — a corpus scan at
  * 100 TB pays N·d megamorphic calls for what should be a tight int loop.
  * This compiles to a fused primitive loop inside WholeStageCodegen.
  *
  * Integer arithmetic is exact and order-independent, so this is
  * trivially bit-identical to the HOF version and to any SQL oracle — no
  * fold-order contract needed (unlike the float kernels).
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(IntegerType | LongType, _) => true
      case NullType => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantized_dot expects array<int|bigint> inputs, " +
          s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def elemIsInt(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  /** Dimension mismatch and element nulls yield NULL, never a silently
    * truncated score — the function is registered session-wide as SQL
    * `quantized_dot`, so arbitrary inputs (e.g. arrays_zip padding when a
    * vector is shorter than the calibration params) can reach it.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val arrA = a.asInstanceOf[ArrayData]
    val arrB = b.asInstanceOf[ArrayData]
    if (arrA.numElements() != arrB.numElements()) return null
    val n = arrA.numElements()
    val leftInt = elemIsInt(left)
    val rightInt = elemIsInt(right)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
      val x = if (leftInt) arrA.getInt(i).toLong else arrA.getLong(i)
      val y = if (rightInt) arrB.getInt(i).toLong else arrB.getLong(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (elemIsInt(left)) "getInt" else "getLong"
    val getB = if (elemIsInt(right)) "getInt" else "getLong"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((long) $a.$getA($i)) * ((long) $b.$getB($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)
}

object QuantizedDot {
  /** Column-level entry point: a call of the session's `quantized_dot`
    * ([[NativeFunctions]]), because Spark 4 keeps Expression→Column
    * construction internal.
    */
  def quantizedDotFast(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("quantized_dot", a, b)
}
