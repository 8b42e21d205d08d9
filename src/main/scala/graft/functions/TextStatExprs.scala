package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Native counting twins of the `size(regexp_extract_all(...))` text-stat
  * formulations ([[TextFunctions.tokenCount]] / [[TextFunctions.punctCount]]
  * / [[TextFunctions.wordHits]]). The regex path materializes EVERY matched
  * substring into an array just to take its size — a per-row allocation
  * storm on the quality/curation hot path (qualityScore alone runs three
  * such scans per document, and tokenCount feeds a dozen operators). Each
  * kernel here is one byte pass with no intermediate strings, inside
  * whole-stage codegen; the regex formulations stay in TextFunctions as the
  * bit-parity oracles (TextStatExprsSpec pins count equality, which makes
  * every downstream double/ratio bit-identical).
  */
case class TokenCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"token_count expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.tokenCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.tokenCount($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

object TokenCountExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("token_count_fast", text)
}

/** See [[TokenCountExpr]]; counts `[.,;:!?'"()\[\]{}-]` characters. */
case class PunctCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"punct_count expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.punctCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.punctCount($c);")

  override protected def withNewChildInternal(newChild: Expression): PunctCountExpr =
    copy(child = newChild)
}

object PunctCountExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("punct_count_fast", text)
}

/** See [[TokenCountExpr]]; whole-word hit count of an ASCII `[a-z0-9_]+`
  * word list on the lowered text ([[SigKernels.asciiWordHits]] documents
  * the regex-equivalence argument). Construction REQUIRES the ASCII word
  * shape — [[TextFunctions.wordHits]] keeps the regex path for anything
  * else (e.g. the Spanish langId profile with "está").
  */
case class AsciiWordHitsExpr(child: Expression, pattern: String)
    extends UnaryExpression {

  require(
    pattern.nonEmpty && pattern.split('|').forall(w =>
      w.nonEmpty && w.forall(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')),
    s"ascii_word_hits requires a '|'-joined list of [a-z0-9_]+ words, got '$pattern'")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"ascii_word_hits expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.asciiWordHits(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], pattern)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    // pattern is [a-z0-9_|]+ by the require above, so it embeds verbatim
    // as a Java string literal
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SigKernels.asciiWordHits($c, "$pattern");""")
  }

  override protected def withNewChildInternal(newChild: Expression): AsciiWordHitsExpr =
    copy(child = newChild)
}

/** Native twin of `regexp_extract_all(s, "[a-z0-9]+", 0)` (see
  * [[SigKernels.alnumRuns]]) — the tokenizer/sketch word extraction.
  */
case class AlnumRunsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"alnum_runs expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.alnumRuns(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.alnumRuns($c);")

  override protected def withNewChildInternal(newChild: Expression): AlnumRunsExpr =
    copy(child = newChild)
}

object AlnumRunsExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("alnum_runs", text)
}

/** Native twin of `regexp_extract_all(s, "[a-z0-9]", 0)` (see
  * [[SigKernels.alnumChars]]) — the BPE symbol split.
  */
case class AlnumCharsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"alnum_chars expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.alnumChars(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.alnumChars($c);")

  override protected def withNewChildInternal(newChild: Expression): AlnumCharsExpr =
    copy(child = newChild)
}

object AlnumCharsExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("alnum_chars", text)
}

/** Native twin of the FastSS deletion-neighborhood hash pass (see
  * [[SigKernels.deletionHashes]]) — identity hash first, then one XXH64
  * per deleted character.
  */
case class DeletionHashesExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"deletion_hashes expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.deletionHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.deletionHashes($c);")

  override protected def withNewChildInternal(newChild: Expression): DeletionHashesExpr =
    copy(child = newChild)
}

object DeletionHashesExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("deletion_hashes", text)
}

/** Native twin of the BPE-ish sub-word token count (see
  * [[SigKernels.subwordCount]]).
  */
case class SubwordCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"subword_count expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.subwordCount(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.subwordCount($c);")

  override protected def withNewChildInternal(newChild: Expression): SubwordCountExpr =
    copy(child = newChild)
}

object SubwordCountExpr {
  def fast(text: Column): Column =
    org.apache.spark.sql.functions.call_function("subword_count", text)
}

/** Native twin of the adjacent-token bigram-struct pass (see
  * [[SigKernels.bigramStructs]]); input is the NORMALIZED text (the HOF
  * formulation ran over `tokens(text)` = `split(normalize_text(text), " ")`).
  */
case class BigramStructsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t =>
        TypeCheckResult.TypeCheckFailure(
          s"bigram_structs expects string, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SigKernels.bigramStructs(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SigKernels.bigramStructs($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramStructsExpr =
    copy(child = newChild)
}

object BigramStructsExpr {
  def fast(normalizedText: Column): Column =
    org.apache.spark.sql.functions.call_function("bigram_structs", normalizedText)
}

object AsciiWordHitsExpr {
  def fast(text: Column, words: Seq[String]): Column =
    org.apache.spark.sql.functions.call_function(
      "ascii_word_hits", text,
      org.apache.spark.sql.functions.lit(words.mkString("|")))
}
