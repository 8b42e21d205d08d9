package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native MinHash signature over a shingle array: `numHashes` permutation
  * minima of h_j(x) = (a_j·x + b_j) mod p, base hash [[Sha60]] (sha256-prefix,
  * DuckDB-replicable) reduced mod p = 2^31−1 — exactly the arithmetic of
  * [[graft.operators.Dedup.minhashSignatureOfShingles]], fused into one
  * primitive loop.
  *
  * Why native: the HOF formulation evaluates a `numHashes`-wide `zip_with`
  * lambda per shingle (boxing a Long per cell); cold-run profiling at sf0.1
  * showed the per-document expression work dominating the whole LSH
  * pipeline. Min is duplicate-insensitive, so callers can feed raw (non-
  * distinct) shingles.
  */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<string>, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.minhash(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.minhash($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  def minhashFast(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_signature", shingles, org.apache.spark.sql.functions.lit(numHashes))
}
