package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The session extension that binds every native SQL function of the
  * engine. [[graft.core.GraftSession.settings]] names this class in
  * `spark.sql.extensions`, so each session has the functions from the
  * moment it is built, and Spark carries them into `newSession()` and
  * streaming clones. The column helpers (`normalizeFast`, `cosineFast`,
  * `collectCapped`, ...) only call the names through `call_function`: they
  * register nothing and work on a frame of any engine session.
  */
class NativeFunctions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    NativeFunctions.builders.foreach { case (name, build) =>
      extensions.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[NativeFunctions].getName, name),
        (exprs: Seq[Expression]) => build(new NativeFunctions.Args(name, exprs))))
    }
}

object NativeFunctions {

  /** The arguments of one call of the function `name`. A kernel parameter
    * (a gram width, a capacity, a word list) is fixed at plan time, so its
    * argument must be a non-null foldable expression: anything else fails
    * analysis with an error that names the function and the position.
    */
  final class Args(name: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    def int(i: Int): Int = literal(i, "INT") match {
      case n: Int => n
      case other => other.toString.toInt
    }

    def string(i: Int): String = literal(i, "STRING").toString

    private def literal(i: Int, sqlType: String): Any = {
      val e = exprs(i)
      if (!e.foldable) throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$name`", "paramName" -> s"#${i + 1}", "paramType" -> s"\"$sqlType\""))
      val v = e.eval()
      if (v == null) throw new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_NULL", Map(
        "sqlExpr" -> s"`$name`", "exprName" -> s"argument #${i + 1}"))
      v
    }
  }

  /** Every native function: its SQL name and how it builds from a call. */
  val builders: Seq[(String, Args => Expression)] = Seq(
    "normalize_text" -> (a => NormalizeTextExpr(a(0))),
    "shingle_slices" -> (a => ShinglesExpr(a(0), a.int(1))),
    "span_gram_hashes" -> (a => SpanGramHashesExpr(a(0), a.int(1))),
    "token_count_fast" -> (a => TokenCountExpr(a(0))),
    "punct_count_fast" -> (a => PunctCountExpr(a(0))),
    "ascii_word_hits" -> (a => AsciiWordHitsExpr(a(0), a.string(1))),
    "alnum_runs" -> (a => AlnumRunsExpr(a(0))),
    "alnum_chars" -> (a => AlnumCharsExpr(a(0))),
    "deletion_hashes" -> (a => DeletionHashesExpr(a(0))),
    "subword_count" -> (a => SubwordCountExpr(a(0))),
    "bigram_structs" -> (a => BigramStructsExpr(a(0))),
    "simhash64" -> (a => SimHash64Expr(a(0))),
    "minhash_signature" -> (a => MinHashSignatureExpr(a(0), a.int(1))),
    "winnow_fingerprints" -> (a => WinnowExpr(a(0), a.int(1))),
    "hyperplane_signature" -> (a => HyperplaneSignatureExpr(a(0), a.int(1))),
    "cosine_similarity" -> (a => CosineSimilarity(a(0), a(1))),
    "quantized_dot" -> (a => QuantizedDot(a(0), a(1))),
    "sorted_set_overlap" -> (a => SortedSetOverlap(a(0), a(1))),
    "collect_string_capped" -> (a => CollectStringCapped(a(0), a.int(1))),
    "collect_long_capped" -> (a => CollectLongCapped(a(0), a.int(1))),
    "misra_gries_freq_items" -> (a => MisraGriesFreqItems(a(0), a.int(1))),
    "bloom_build_long" -> (a => BloomBuildLong(a(0), a.int(1), a.int(2))),
    "bloom_might_contain" -> (a => BloomMightContain(a(0), a(1))))
}
