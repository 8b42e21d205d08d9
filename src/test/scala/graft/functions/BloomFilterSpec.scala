package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  test("sizing follows the textbook formula and stays word-aligned") {
    val (m, k) = BloomParams.size(1000000L, 0.01)
    assert(m % 64 == 0)
    assert(m > 9000000 && m < 10000000, s"~9.6M bits expected for 1M keys @1%, got $m")
    assert(k == 7, s"k=7 expected for 1% fpp, got $k")
    val (m2, k2) = BloomParams.size(10L, 0.5)
    assert(m2 >= 64 && k2 >= 1)
    // tiny n: word-alignment inflates m/n (n=1 → m=64, raw k=44); sizing
    // must clamp to the aggregate's [1,32] contract instead of crashing
    val (m1, k1) = BloomParams.size(1L, 0.01)
    assert(m1 == 64 && k1 == 32, s"expected clamped (64, 32), got ($m1, $k1)")
  }

  test("a one-document delta builds and dedups (regression: k clamp)") {
    val corpus = Seq((1L, "existing content")).toDF("doc_id", "text")
    val delta = Seq((10L, "Existing   CONTENT")).toDF("doc_id", "text")
    val out = Dedup.exactIncrementBloom(corpus, delta, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(out.isEmpty, "the normalized duplicate must be dropped")
    val fresh = Seq((11L, "brand new")).toDF("doc_id", "text")
    assert(Dedup.exactIncrementBloom(corpus, fresh, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(11L))
  }

  test("distributed build has no false negatives and bounded false positives") {
    val keys = (1L to 20000L).map(_ * 2654435761L) // non-uniform raw keys
    val df = keys.toDF("k").repartition(8)
    val (m, numHashes) = BloomParams.size(keys.length.toLong, 0.01)
    val bloom = df
      .agg(BloomFilterAgg.bloomBuild($"k", m, numHashes))
      .head.getAs[Array[Byte]](0)

    val inHits = df.where(BloomFilterAgg.bloomProbe(bloom, $"k")).count()
    assert(inHits == keys.length.toLong, "a Bloom filter must never false-negative")

    val absent = (1L to 20000L).map(i => -i * 40503L - 7L).toDF("k")
    val fp = absent.where(BloomFilterAgg.bloomProbe(bloom, $"k")).count()
    assert(fp < 20000L * 0.03, s"false-positive rate should be ~1%, got $fp/20000")
  }

  test("probe parses the filter once and matches a single-partition build") {
    // Same keys built in 1 partition vs 8 must serialize to identical bytes
    // (merge is a pure OR — partitioning must not change the filter).
    val keys = (1L to 500L).toDF("k")
    val (m, numHashes) = BloomParams.size(500L, 0.01)
    val one = keys.coalesce(1)
      .agg(BloomFilterAgg.bloomBuild($"k", m, numHashes)).head.getAs[Array[Byte]](0)
    val eight = keys.repartition(8)
      .agg(BloomFilterAgg.bloomBuild($"k", m, numHashes)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, eight))
  }

  test("non-BIGINT key is an analysis-time error, not an executor crash") {
    val df = Seq("a", "b").toDF("s")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(BloomFilterAgg.bloomBuild($"s", 64, 3)).head()
    }
    assert(err.getMessage.toLowerCase.contains("bigint"))
  }

  test("exactIncrementBloom output equals the plain anti-join exactIncrement") {
    val corpus = Seq(
      (1L, "The quick brown fox"),
      (2L, "  the QUICK   brown fox "), // normalizes to doc 1
      (3L, "entirely different content"),
      (4L, "shared body text")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox"), // dup of corpus
      (11L, "Shared body TEXT"),    // dup of corpus
      (12L, "genuinely new document"),
      (13L, "another new one")).toDF("doc_id", "text")

    val viaBloom = Dedup.exactIncrementBloom(corpus, delta, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaAnti = Dedup.exactIncrement(corpus, delta, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaBloom == Seq(12L, 13L))
    assert(viaBloom == viaAnti)
  }

  test("the corpus side of exactIncrementBloom is probed map-side (no shuffle below the bloom filter)") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val delta = docs.where($"doc_id" % 10 === 0)
    val plan = Dedup.exactIncrementBloom(corpus, delta, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      "corpus scan must be prefiltered by the broadcast bloom probe")
    // The probe must sit in the scan's stage: no Exchange between the
    // bloom Filter and the corpus branch's parquet scan directly below it.
    val corpusBranch = plan.split("\n")
      .dropWhile(l => !(l.contains("Filter") && l.contains("bloom_might_contain")))
    val untilScan = corpusBranch.takeWhile(!_.contains("FileScan parquet"))
    assert(untilScan.nonEmpty && !untilScan.exists(_.contains("Exchange")),
      s"bloom probe must be map-side on the scan, plan:\n$plan")
  }
}
