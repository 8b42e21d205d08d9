package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CollectLongCappedSpec extends SparkSpec {
  import spark.implicits._

  test("true count is exact and ids complete for groups within the cap") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"))
      .toDF("id", "k")
    val out = df.groupBy($"k")
      .agg(CollectLongCapped.collectCapped($"id", 5).as("b"))
      .select($"k", $"b.total", $"b.ids")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2).sorted))
      .toMap
    assert(out("a") == ((3L, Seq(1L, 2L, 3L))))
    assert(out("b") == ((1L, Seq(10L))))
  }

  test("overflowing group keeps the true count but at most maxKeep ids") {
    val df = (1L to 1000L).map(i => (i, "hot")).toDF("id", "k")
    val r = df.groupBy($"k")
      .agg(CollectLongCapped.collectCapped($"id", 7).as("b"))
      .select($"b.total", $"b.ids")
      .head()
    assert(r.getLong(0) == 1000L, "total must be the true group size")
    assert(r.getSeq[Long](1).length == 7, "buffer must stay bounded at maxKeep")
  }

  test("nulls are ignored; all-null group counts zero") {
    val df = Seq((Some(1L), "a"), (None, "a"), (None, "c"))
      .toDF("id", "k")
    val out = df.groupBy($"k")
      .agg(CollectLongCapped.collectCapped($"id", 3).as("b"))
      .select($"k", $"b.total", $"b.ids")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2)))
      .toMap
    assert(out("a") == ((1L, Seq(1L))))
    assert(out("c") == ((0L, Seq())))
  }

  test("matches unbounded collect_list exactly when no group exceeds the cap") {
    val df = (1L to 500L).map(i => (i, s"k${i % 37}")).toDF("id", "k")
    val capped = df.groupBy($"k")
      .agg(CollectLongCapped.collectCapped($"id", 50).as("b"))
      .select($"k", $"b.total".as("n"), array_sort($"b.ids").as("ids"))
    val plain = df.groupBy($"k")
      .agg(count(lit(1)).as("n"), array_sort(collect_list($"id")).as("ids"))
    assert(capped.except(plain).isEmpty && plain.except(capped).isEmpty)
  }

  test("non-long input is a clean analysis-time error, not an executor crash") {
    val df = Seq(("x", "a")).toDF("id", "k")
    val e = intercept[Exception] {
      df.groupBy($"k").agg(CollectLongCapped.collectCapped($"id", 3).as("b")).collect()
    }
    assert(e.getMessage.contains("BIGINT"), s"got: ${e.getMessage}")
  }

  test("string variant: true counts, bounded buffers, unbounded equivalence") {
    val df = (1 to 500).map(i => (s"doc-$i", s"k${i % 37}")).toDF("id", "k") // within cap
      .union(Seq.tabulate(100)(i => (s"hot-$i", "hot")).toDF("id", "k")) // overflows cap
    val out = df.groupBy($"k")
      .agg(CollectStringCapped.collectCapped($"id", 50).as("b"))
      .select($"k", $"b.total".as("n"), array_sort($"b.ids").as("ids"))
    val hot = out.where($"k" === "hot").head()
    assert(hot.getLong(1) == 100L && hot.getSeq[String](2).length == 50)
    val capped = out.where($"k" =!= "hot")
    val plain = df.where($"k" =!= "hot").groupBy($"k")
      .agg(count(lit(1)).as("n"), array_sort(collect_list($"id")).as("ids"))
    assert(capped.except(plain).isEmpty && plain.except(capped).isEmpty)
  }

  test("string variant survives serialize/merge round-trips with many partitions") {
    val df = (1 to 300).map(i => (s"v$i", "one")).toDF("id", "k").repartition(13)
    val r = df.groupBy($"k")
      .agg(CollectStringCapped.collectCapped($"id", 9).as("b"))
      .select($"b.total", $"b.ids")
      .head()
    assert(r.getLong(0) == 300L && r.getSeq[String](1).length == 9)
    assert(r.getSeq[String](1).forall(_.startsWith("v")), "buffer values must round-trip intact")
  }
}
