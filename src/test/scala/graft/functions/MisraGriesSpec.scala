package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.Curation

class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1042L + i)))

  /** Exact heavy hitters via full groupBy — the semantics the sketch +
    * recount composition must reproduce.
    */
  private def exactHeavy(rows: Seq[String], n: Int, k: Int): Set[(String, Long)] = {
    val grams = rows.flatMap { text =>
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    val total = grams.length.toLong
    grams.groupBy(identity).collect {
      case (g, occ) if occ.length.toLong * k > total => (g, occ.length.toLong)
    }.toSet
  }

  test("candidate superset: sketch never misses an item above total/capacity") {
    // skewed stream: 5 hot items just above the 1/10 threshold, a long tail
    // of 500 cold ones far below it — capacity 10 ≪ 505 distinct values
    val elems = (1 to 5).flatMap(i => Seq.fill(1001)(s"hot$i")) ++
      (1 to 500).flatMap(i => Seq.fill(10)(s"cold$i"))
    val df = elems.grouped(13).map(_.toArray).toSeq.toDF("a")
    val r = df.agg(MisraGriesFreqItems.freqItems($"a", 10).as("mg"))
      .select($"mg.total", $"mg.items").head()
    val total = r.getLong(0)
    val items = r.getSeq[String](1).toSet
    assert(total == elems.length.toLong)
    val mustHave = (1 to 5).map(i => s"hot$i")
    assert(mustHave.forall(t => 1001L * 10 > total), "hot items must sit above total/capacity")
    mustHave.foreach(t => assert(items.contains(t), s"missing guaranteed item $t"))
    assert(items.size <= 20, "summary must stay bounded near capacity")
  }

  test("frequentNgrams equals the exact explode+groupBy answer (fuzz, 8 corpora)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docGen = Gen.listOfN(40, Gen.chooseNum(1, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    samples(docGen, 8).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // capacity 7 ≪ the ~125 possible trigrams → compaction genuinely runs
      val got = Curation.frequentNgrams(df, "text", n = 3, k = 7)
        .as[(String, Long)].collect().toSet
      assert(got == exactHeavy(docs, 3, 7))
    }
  }

  test("result is invariant to input partitioning (merge path exercised)") {
    val docs = (0 until 300).map(i => (i.toLong, s"w${i % 2} w${i % 3} w${i % 2}"))
    val df1 = docs.toDF("doc_id", "text").repartition(1)
    val df7 = docs.toDF("doc_id", "text").repartition(7)
    val a = Curation.frequentNgrams(df1, "text", n = 2, k = 11).as[(String, Long)].collect().toSet
    val b = Curation.frequentNgrams(df7, "text", n = 2, k = 11).as[(String, Long)].collect().toSet
    assert(a.nonEmpty, "threshold must be non-vacuous for this corpus")
    assert(a == b)
  }

  test("null and short texts contribute nothing; analysis rejects non-array input") {
    val df = Seq((1L, "one two three one two three"), (2L, "ab"), (3L, null))
      .toDF("doc_id", "text")
    val got = Curation.frequentNgrams(df, "text", n = 3, k = 3)
      .as[(String, Long)].collect().toSet
    // 4 trigram instances, threshold 4/3 → count ≥ 2
    assert(got == Set(("one two three", 2L)))
    val err = intercept[Exception] {
      df.agg(MisraGriesFreqItems.freqItems($"doc_id", 4)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }
}
