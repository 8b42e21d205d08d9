package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native random-hyperplane LSH signature: `nPlanes` sign bits of the
  * projections onto pseudo-random ±1 hyperplanes, packed into a Long.
  *
  * Bit-identical to [[VectorFunctions.hyperplaneSignature]]: plane component
  * (p, i) is +1 when [[Sha60]] of the string "p:i" is even, −1 otherwise —
  * a deterministic constant matrix both Spark and a DuckDB SQL oracle derive
  * identically (no RNG state, no engine-private hash). Each projection is a
  * sequential left fold starting at 0.0. The HOF version runs `nPlanes`
  * interpreted aggregate passes per row; this computes all projections in
  * one primitive loop over the vector, with the sign matrix materialized
  * once per (nPlanes, dim) rather than re-hashed per row.
  */
case class HyperplaneSignatureExpr(child: Expression, nPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_signature expects array<float|double>, got ${t.catalogString}")
    }

  private val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    SigKernels.hyperplane(input.asInstanceOf[ArrayData], nPlanes, isFloat)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.hyperplane($c, $nPlanes, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatureExpr =
    copy(child = newChild)
}

object HyperplaneSignatureExpr {
  def hyperplaneFast(vec: Column, nPlanes: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "hyperplane_signature", vec, org.apache.spark.sql.functions.lit(nPlanes))
}
