package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity gate for the r19 native text-stat kernels: [[TokenCountExpr]],
  * [[PunctCountExpr]] and [[AsciiWordHitsExpr]] must be BIT-IDENTICAL to
  * the `size(regexp_extract_all(...))` formulations they replaced — the
  * quality score, curation filters and their DuckDB oracles all assume the
  * exact counts (equal ints make every downstream ratio/double identical).
  */
class TextStatExprsSpec extends SparkSpec {
  import spark.implicits._

  // whitespace zoo + punctuation zoo + stopwords against every boundary
  // class Java's ASCII \b can produce + case/Unicode folding edges
  private val corpus = Seq(
    "",
    " ",
    "   \t\n\f\r  ",
    "a",
    "the",
    "the the the",
    "The quick brown fox is one of the lazy dogs, or so it is said.",
    "a an and are of or to in is the", // every stopword once
    "athe thea a_the the1 1the _the the_", // word runs that CONTAIN stopwords must not hit
    "x-a b.the c'an (of) [is] {are}", // punct-delimited runs DO hit
    "punct, tokens! with? marks; still: one \"token\" each - and [more] {here}",
    "''\"\"(())[[]]{{}}--..,,;;::!!??",
    "répété déjà vu naïve café crème brûlée",
    "多字节 字符 与 空格 混合 的 文本 行",
    "mixed 多字节 and ascii tokens 字符 here",
    "éa aé the a", // non-ASCII adjacent to word runs; NBSP is NOT \s
    "ΣΊΣΥΦΟΣ and İstanbul case-folding edges",
    "Kel the K the", // Kelvin sign lowercases to ASCII k
    "el los las una está por con para", // the non-ASCII (regex-path) profile
    "tabs\tand\nnewlines mixed\t in",
    "  leading and trailing  ",
    (1 to 30).map(i => s"tok$i,").mkString(" "))

  private def df = corpus.zipWithIndex
    .map { case (s, i) => (i.toLong, s) }
    .toDF("id", "t")
    .unionByName(Seq((999L, null: String)).toDF("id", "t"))

  private def assertColsEqual(fast: => Column, hof: => Column): Unit = {
    val rows = df.select(col("id"), fast.as("fast"), hof.as("hof")).collect()
    rows.foreach { r =>
      val f = if (r.isNullAt(1)) null else r.get(1)
      val h = if (r.isNullAt(2)) null else r.get(2)
      assert(f == h, s"id=${r.getLong(0)}: native $f != regex $h")
    }
  }

  test("TokenCountExpr == size(regexp_extract_all(\\S+)) incl. null") {
    assertColsEqual(
      TextFunctions.tokenCount(col("t")),
      TextFunctions.tokenCountHof(col("t")))
  }

  test("PunctCountExpr == size(regexp_extract_all(punct class)) incl. null") {
    assertColsEqual(
      TextFunctions.punctCount(col("t")),
      TextFunctions.punctCountHof(col("t")))
  }

  test("AsciiWordHitsExpr == \\b-regex for the stopword list incl. null") {
    assertColsEqual(
      TextFunctions.wordHits(col("t"), TextFunctions.EnglishStopwords),
      TextFunctions.wordHitsHof(col("t"), TextFunctions.EnglishStopwords))
  }

  test("wordHits dispatch: ASCII profiles native, non-ASCII stays regex") {
    // every langId profile must agree with the regex path regardless of
    // which implementation the dispatch picked
    for ((lang, words) <- TextFunctions.LangProfiles) {
      val rows = df.select(
          col("id"),
          TextFunctions.wordHits(col("t"), words).as("fast"),
          TextFunctions.wordHitsHof(col("t"), words).as("hof"))
        .collect()
      rows.foreach { r =>
        val f = if (r.isNullAt(1)) null else r.get(1)
        val h = if (r.isNullAt(2)) null else r.get(2)
        assert(f == h, s"lang=$lang id=${r.getLong(0)}: $f != $h")
      }
    }
  }

  test("qualityScore over native counts == qualityScore over regex counts") {
    // the full double formula, reconstructed over the HOF counts in the
    // exact operation order of TextFunctions.qualityScore
    val t = col("t")
    val nChars = length(t).cast("double")
    val nTokens = TextFunctions.tokenCountHof(t).cast("double")
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    val stopRatio = when(
      nTokens > 0.0,
      TextFunctions.wordHitsHof(t, TextFunctions.EnglishStopwords).cast("double") / nTokens)
      .otherwise(lit(0.0))
    val punctRatio = when(
      nChars > 0.0,
      TextFunctions.punctCountHof(t).cast("double") / nChars)
      .otherwise(lit(0.0))
    val hofScore = lit(0.4) * lenScore +
      lit(0.4) * (lit(1.0) - stopRatio) + lit(0.2) * (lit(1.0) - punctRatio)
    assertColsEqual(TextFunctions.qualityScore(t), hofScore)
  }

  test("SubwordCountExpr == size(regexp_extract_all(subword alternation)) incl. null") {
    assertColsEqual(
      TextFunctions.regexTokenCount(col("t")),
      TextFunctions.regexTokenCountHof(col("t")))
  }

  test("AlnumRunsExpr == regexp_extract_all([a-z0-9]+) incl. null") {
    assertColsEqual(
      AlnumRunsExpr.fast(lower(col("t"))),
      regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)))
  }

  test("AlnumCharsExpr == regexp_extract_all([a-z0-9]) incl. null") {
    assertColsEqual(
      AlnumCharsExpr.fast(col("t")),
      regexp_extract_all(col("t"), lit("[a-z0-9]"), lit(0)))
  }

  test("DeletionHashesExpr == xxhash64 over the HOF deletion variants") {
    // the exact pre-r19 formulation from editDistanceOneDuplicates; null
    // inputs are out of contract (the operator filters `nm IS NOT NULL`
    // before variant generation — the HOF's null → [xxhash64(NULL)] row is
    // a concat/array artifact, the kernel is null → null)
    val hof = concat(
      array(col("t")),
      when(length(col("t")) >= 1, expr(
        """transform(sequence(1, length(t)),
          |  i -> concat(substring(t, 1, i - 1),
          |              substring(t, i + 1, length(t) - i)))""".stripMargin))
        .otherwise(expr("CAST(array() AS array<string>)")))
    val rows = df.where(col("t").isNotNull)
      .select(col("id"),
        DeletionHashesExpr.fast(col("t")).as("fast"),
        transform(hof, v => xxhash64(v)).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"id=${r.getLong(0)}: deletion hashes diverged")
    }
  }

  test("BigramStructsExpr == HOF adjacent-pair structs over tokens") {
    // the exact pre-r19 formulation from bigramSurprisal (guard included:
    // the HOF only ever ran on size(tokens) >= 2 rows)
    val rows = df.where(col("t").isNotNull)
      .select(col("id"), col("t"), TextFunctions.tokens(col("t")).as("_t"))
      .where(size(col("_t")) >= 2)
      .select(
        col("id"),
        BigramStructsExpr.fast(
          TextFunctions.normalizeText(col("t"))).as("fast"),
        expr(
          """transform(sequence(1, size(_t) - 1),
            |  i -> struct(element_at(_t, i) AS w1,
            |              element_at(_t, i + 1) AS w2))""".stripMargin).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"id=${r.getLong(0)}: bigram structs diverged")
    }
    // and the row-filter equivalence: size(bigrams) >= 1 ≡ size(tokens) >= 2
    val counts = df.where(col("t").isNotNull).select(
        count(when(size(BigramStructsExpr.fast(
          TextFunctions.normalizeText(col("t")))) >= 1, 1)),
        count(when(size(TextFunctions.tokens(col("t"))) >= 2, 1)))
      .collect().head
    assert(counts.getLong(0) == counts.getLong(1))
  }

  test("kernels fuzz-match the regex oracle on random documents") {
    val rnd = new scala.util.Random(19)
    val alphabet = Vector(
      "the", "a", "an", "of", "to", "in", "thee", "ax", "a1", "a_", "_a",
      "x", "yz", "多字节", "déjà", "está", "el", ",", "!", "?!", "(", ")-",
      "\t", "  ", "\n", "")
    val fuzz = (0 until 300).map { i =>
      val s = (0 until rnd.nextInt(16))
        .map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString(if (rnd.nextBoolean()) " " else "")
      (i.toLong, s)
    }.toDF("id", "t")
    val rows = fuzz.select(
        col("id"),
        TextFunctions.tokenCount(col("t")).as("tc_f"),
        TextFunctions.tokenCountHof(col("t")).as("tc_h"),
        TextFunctions.punctCount(col("t")).as("pc_f"),
        TextFunctions.punctCountHof(col("t")).as("pc_h"),
        TextFunctions.wordHits(col("t"), TextFunctions.EnglishStopwords).as("wh_f"),
        TextFunctions.wordHitsHof(col("t"), TextFunctions.EnglishStopwords).as("wh_h"),
        AlnumRunsExpr.fast(lower(col("t"))).as("ar_f"),
        regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)).as("ar_h"),
        AlnumCharsExpr.fast(col("t")).as("ac_f"),
        regexp_extract_all(col("t"), lit("[a-z0-9]"), lit(0)).as("ac_h"),
        TextFunctions.regexTokenCount(col("t")).as("sw_f"),
        TextFunctions.regexTokenCountHof(col("t")).as("sw_h"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"tokenCount diverged id=${r.getLong(0)}")
      assert(r.getInt(3) == r.getInt(4), s"punctCount diverged id=${r.getLong(0)}")
      assert(r.getInt(5) == r.getInt(6), s"wordHits diverged id=${r.getLong(0)}")
      assert(r.getSeq[String](7) == r.getSeq[String](8),
        s"alnumRuns diverged id=${r.getLong(0)}")
      assert(r.getSeq[String](9) == r.getSeq[String](10),
        s"alnumChars diverged id=${r.getLong(0)}")
      assert(r.getInt(11) == r.getInt(12),
        s"subwordCount diverged id=${r.getLong(0)}")
    }
  }
}
