package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native SQL functions are bound once, when a session is built
  * ([[NativeFunctions]] as the session's `spark.sql.extensions`): every
  * session resolves them from birth, the column helpers register nothing,
  * and SQL text reaching a kernel parameter gets an analysis error, not an
  * internal one.
  */
class NativeFunctionsSpec extends SparkSpec {

  private val names = Seq(
    "normalize_text", "shingle_slices", "span_gram_hashes",
    "token_count_fast", "punct_count_fast", "ascii_word_hits", "alnum_runs",
    "alnum_chars", "deletion_hashes", "subword_count", "bigram_structs",
    "simhash64", "minhash_signature", "winnow_fingerprints",
    "hyperplane_signature", "cosine_similarity", "quantized_dot",
    "sorted_set_overlap", "collect_string_capped", "collect_long_capped",
    "misra_gries_freq_items", "bloom_build_long", "bloom_might_contain")

  /** Builds and collects every column helper over a frame of `s`. */
  private def runEveryHelper(s: SparkSession): Unit = {
    import s.implicits._
    val df = Seq(
      (1L, "The  Quick brown FOX, jumps!", Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0),
        Seq(1, -2, 3), Seq(4, 5, 6)),
      (2L, "lazy dog; lazy dog", Seq(0.5, 0.0, 1.5), Seq(1.0, 1.0, 1.0),
        Seq(0, 1, 0), Seq(7, 8, 9)))
      .toDF("id", "t", "a", "b", "qa", "qb")
    val norm = NormalizeTextExpr.normalizeFast($"t")
    val tokens = split(norm, " ")
    df.select(
      norm,
      ShinglesExpr.shinglesFast(norm, 2),
      SpanGramHashesExpr.spanGramHashesFast(norm, 2),
      TokenCountExpr.fast($"t"),
      PunctCountExpr.fast($"t"),
      AsciiWordHitsExpr.fast(lower($"t"), Seq("lazy", "dog")),
      AlnumRunsExpr.fast(lower($"t")),
      AlnumCharsExpr.fast(lower($"t")),
      DeletionHashesExpr.fast(norm),
      SubwordCountExpr.fast($"t"),
      BigramStructsExpr.fast(norm),
      SimHash64Expr.simhash64Fast(tokens),
      MinHashSignatureExpr.minhashFast(tokens, 4),
      WinnowExpr.winnowFast(tokens, 2),
      HyperplaneSignatureExpr.hyperplaneFast($"a", 8),
      CosineSimilarity.cosineFast($"a", $"b"),
      QuantizedDot.quantizedDotFast($"qa", $"qb"),
      SortedSetOverlap.overlapFast(
        array_sort(array_distinct(tokens)), array(lit("dog"), lit("lazy"))))
      .collect()
    val bloom = df.agg(
      CollectStringCapped.collectCapped($"t", 5),
      CollectLongCapped.collectCapped($"id", 5),
      MisraGriesFreqItems.freqItems(tokens, 4),
      BloomFilterAgg.bloomBuild($"id", 64, 3))
      .head().getAs[Array[Byte]](3)
    assert(df.where(BloomFilterAgg.bloomProbe(bloom, $"id")).count() == 2)
  }

  test("every native function exists from session build; using the helpers registers nothing") {
    assert(NativeFunctions.builders.map(_._1).sorted == names.sorted)
    val s = spark.newSession()
    names.foreach(n => assert(s.catalog.functionExists(n), s"$n missing in a new session"))
    val before = s.sessionState.functionRegistry.listFunction().toSet
    runEveryHelper(s)
    assert(s.sessionState.functionRegistry.listFunction().toSet == before)
  }

  test("the helpers resolve on a frame of a session that is not the active one") {
    def rows(s: SparkSession) = {
      import s.implicits._
      val df = Seq(
        (1L, "The  Quick FOX ", Seq(1.0, 2.0), Seq(2.0, 1.0)),
        (2L, " lazy\tDOG", Seq(0.0, 1.0), Seq(1.0, 1.0)),
        (3L, "lazy dog", Seq(3.0, 4.0), Seq(4.0, 3.0)))
        .toDF("id", "t", "a", "b")
      val perRow = df
        .select($"id", TextFunctions.normalizeText($"t"), CosineSimilarity.cosineFast($"a", $"b"))
        .orderBy("id").collect().toSeq
      val capped = df.agg(CollectLongCapped.collectCapped($"id", 2).as("c"))
        .select($"c.total", size($"c.ids")).collect().toSeq
      (perRow, capped)
    }
    val expected = rows(spark)
    assert(expected._1.map(_.getString(1)) == Seq("the quick fox", "lazy dog", "lazy dog"))
    assert(rows(spark.newSession()) == expected)
  }

  test("a kernel parameter must be a non-null literal; the error names the function and position") {
    assert(spark.sql("SELECT shingle_slices('a b c', 2)").head().getSeq[String](0) ==
      Seq("a b", "b c"))
    val nonLiteral = intercept[AnalysisException] {
      spark.sql("SELECT shingle_slices(s, n) FROM VALUES ('a b c', 2) AS t(s, n)").collect()
    }
    assert(nonLiteral.getCondition == "NON_FOLDABLE_ARGUMENT")
    assert(nonLiteral.getMessage.contains("`shingle_slices`"), nonLiteral.getMessage)
    assert(nonLiteral.getMessage.contains("#2"), nonLiteral.getMessage)
    val nullArg = intercept[AnalysisException] {
      spark.sql("SELECT bloom_build_long(id, 64, NULL) FROM range(3)").collect()
    }
    assert(nullArg.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_NULL")
    assert(nullArg.getMessage.contains("`bloom_build_long`"), nullArg.getMessage)
    assert(nullArg.getMessage.contains("#3"), nullArg.getMessage)
  }
}
