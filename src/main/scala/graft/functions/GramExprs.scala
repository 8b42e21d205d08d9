package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Native word n-gram shingles over a normalized (single-space-tokenized)
  * string — the codegen replacement for the higher-order
  * `transform(sequence(...), i -> concat_ws(" ", element_at(toks, i+j)...))`
  * formulation, which Catalyst can only evaluate INTERPRETED (higher-order
  * functions never enter whole-stage codegen: profiled as
  * `ConcatWs.eval <- ArrayTransform.nullSafeEval` RUNNABLE samples across
  * the span/curation family, r19 profiles). Kernel in
  * [[SigKernels.shingleSlices]]: each gram is one byte slice of the input
  * (single-space delimiters make the joined gram a contiguous range), so
  * the per-row cost is one boundary scan plus one `UTF8String` slice per
  * gram. Output is bit-identical to the HOF form
  * ([[TextFunctions.shinglesHof]], kept as the parity oracle).
  */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_slices expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.shingleSlices(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.shingleSlices($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {
  def shinglesFast(normalizedText: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "shingle_slices", normalizedText, org.apache.spark.sql.functions.lit(n))
}

/** Native text normalization ([[SigKernels.normalizeText]]): one fused
  * pass replacing the `regexp_replace(trim(lower(c)), "\\s+", " ")` chain
  * that every text operator runs at least once per row — the Java-regex
  * scan (profiled as `Pattern$BmpCharPropertyGreedy.match` stacks in the
  * refresh loops) plus its String round-trips become a single byte scan
  * over the lowered UTF8String. Bit-parity property-pinned.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"normalize_text expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.normalizeText(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.normalizeText($c);")

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

object NormalizeTextExpr {
  def normalizeFast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("normalize_text", text)
}

/** Fused gram-hash for the span family: per input row, the [[Sha60]] hash
  * of every `l`-token gram of the normalized string, hashed straight off
  * the gram's byte range ([[SigKernels.spanGramHashes]]) — replaces
  * `sha60(gram)`'s per-gram `conv(substring(sha2(cast)))` column chain
  * (sha256 → 64-char hex string → substring → digit-by-digit base
  * conversion; `NumberConverter.convert` was a visible RUNNABLE stack in
  * the r19 span-family profiles) AND the interpreted gram materialization
  * it fed. `hashes[k] = Sha60.sha60(gram k)` exactly, so every downstream
  * banding/cap/oracle contract is unchanged.
  */
case class SpanGramHashesExpr(child: Expression, l: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_gram_hashes expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.spanGramHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], l)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.spanGramHashes($c, $l);")

  override protected def withNewChildInternal(newChild: Expression): SpanGramHashesExpr =
    copy(child = newChild)
}

object SpanGramHashesExpr {
  def spanGramHashesFast(normalizedText: Column, l: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "span_gram_hashes", normalizedText, org.apache.spark.sql.functions.lit(l))
}
