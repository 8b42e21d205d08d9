package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native 64-bit SimHash over a token array.
  *
  * Semantics identical to [[graft.operators.Dedup.simhash64]]'s higher-order
  * formulation (per bit b: sum ±1 votes from bit b of each token's [[Sha60]]
  * hash; fingerprint sets b when the vote is positive; the base hash is
  * 60-bit so bits 60–63 are always 0) — but computed in
  * one fused pass with a primitive `long[64]` vote array. The HOF version
  * evaluates a 64-wide `zip_with` lambda per token (interpreted, allocating);
  * this is a tight loop per row, and `doGenCode` keeps the enclosing
  * projection inside WholeStageCodegen (kernel in [[SigKernels]]).
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  def simhash64Fast(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", tokens)
}
