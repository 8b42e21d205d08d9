package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native winnowed-fingerprint expression over a shingle array: hashes each
  * shingle with [[Sha60]] mod 2³¹−1 and emits the distinct `w`-window minima
  * (MOSS winnowing) in one fused primitive loop — exactly the arithmetic of
  * [[graft.operators.Dedup.winnowedFingerprints]], which stays as the HOF
  * bit-parity oracle (and the shape the DuckDB oracle SQL replicates).
  *
  * Why native: the HOF formulation allocates a w-element slice and runs
  * `array_min` per window position (O(L·w) with per-position array churn);
  * the kernel is O(L) with a monotonic deque ([[SigKernels.winnow]]) and
  * stays inside whole-stage codegen.
  */
case class WinnowExpr(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fingerprints expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.winnow(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.winnow($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object WinnowExpr {
  def winnowFast(shingles: Column, w: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "winnow_fingerprints", shingles, org.apache.spark.sql.functions.lit(w))
}
