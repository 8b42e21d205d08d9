package graft.core

import org.apache.spark.sql.execution.columnar.{DefaultCachedBatch, InMemoryRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CachingSpec extends SparkSpec {
  import spark.implicits._

  test("eager materializes the cache immediately") {
    val df = (1 to 100).toDF("v")
    val p = Caching.eager(df)
    assert(p.storageLevel.useMemory, "frame is persisted")
    // materialized: the cached plan answers without touching the source
    assert(p.count() == 100)
    p.unpersist()
  }

  test("eager right-sizes an oversplit tiny cached frame") {
    // 32-way shuffle of ~100 tiny rows: the cached frame would keep 32
    // micro-partitions forever without the post-materialization coalesce
    val oversplit = (1 to 100).toDF("v")
      .repartition(32, col("v"))
    val p = Caching.eager(oversplit)
    assert(p.rdd.getNumPartitions <= 4,
      s"expected coalesced partitions, got ${p.rdd.getNumPartitions}")
    assert(p.count() == 100, "contents survive the re-persist")
    assert(p.select(sum($"v")).as[Long].head() == 5050)
    p.unpersist()
  }

  test("eagerHashPartitioned right-sizes while keeping the hash partitioning") {
    val df = (1 to 200).map(i => (i.toLong % 10, i.toLong)).toDF("k", "v")
      .repartition(32, col("k"))
    val p = Caching.eagerHashPartitioned(df, Seq(col("k")))
    assert(p.rdd.getNumPartitions <= 4, "tiny frame is right-sized")
    // ground truth: an aggregation keyed on k over the cached frame must not
    // re-shuffle it — the partitioning survives into the IMR scan
    val agg = p.groupBy("k").count()
    assert(agg.count() == 10)
    // only the plan ABOVE the cache boundary matters — the InMemoryRelation
    // dump echoes its own historical build-side Exchanges
    val plan = agg.queryExecution.executedPlan.toString
    val cacheAt = plan.indexOf("InMemoryRelation")
    assert(cacheAt >= 0, s"expected a cached relation in the plan:\n$plan")
    val aboveCache = plan.substring(0, cacheAt)
    assert(!aboveCache.contains("Exchange"),
      s"aggregation on the preserved key must not re-shuffle the cached frame:\n$plan")
    p.unpersist()
  }

  test("eager builds uncompressed batches and restores the session conf") {
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    // 100k equal longs: 800 KB as plain columns, a few bytes run-length encoded
    def cachedBytes(s: org.apache.spark.sql.SparkSession): (Long, Option[String]) = {
      val p = Caching.eager(s.range(0, 100000).selectExpr("7L as v"))
      assert(p.count() == 100000)
      // the bytes of the built column buffers (the relation's size stats
      // count the values before compression)
      val relation = p.queryExecution.optimizedPlan.collectFirst { case r: InMemoryRelation => r }.get
      val bytes = relation.cacheBuilder.cachedColumnBuffers.collect()
        .map { case b: DefaultCachedBatch => b.buffers.map(_.length.toLong).sum }.sum
      p.unpersist()
      (bytes, s.conf.getOption(key))
    }
    // the session is built with compression off, and eager leaves its conf as is
    assert(spark.conf.get(key) == "false")
    val (plain, after) = cachedBytes(spark)
    assert(after.contains("false"))
    assert(plain >= 800000, s"uncompressed batches hold every value: $plain bytes")
    // an explicit session override is honoured and survives eager
    val compressing = spark.newSession()
    compressing.conf.set(key, "true")
    val (packed, kept) = cachedBytes(compressing)
    assert(kept.contains("true"))
    assert(packed * 10 < plain, s"compressed batches run-length encode: $packed bytes")
  }

  test("eager preserves row content and schema through the re-persist") {
    val df = (1 to 50).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .repartition(32, col("id"))
    val p = Caching.eager(df)
    assert(p.columns.toSeq == Seq("id", "s"))
    assert(p.orderBy("id").collect().map(_.getLong(0)).toSeq == (1L to 50L))
    p.unpersist()
  }
}
