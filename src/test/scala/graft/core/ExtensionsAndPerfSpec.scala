package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.audit.{LogStore, PerformanceMonitor}
import graft.catalog.WarehouseCatalog
import graft.perf.MetricsListener

/** Listener metrics and bucketed co-location — each drives the shared
  * session and inspects real plans/metrics.
  */
class ExtensionsAndPerfSpec extends SparkSpec {

  test("MetricsListener collects task metrics around a workload") {
    val store = new LogStore(
      spark, java.nio.file.Files.createTempDirectory("graft-perf").toString)
    val monitor = new PerformanceMonitor(store)
    val n = MetricsListener.measuring(spark, monitor) {
      spark.range(0, 100000).select(sum(col("id"))).head().getLong(0)
    }
    assert(n == 4999950000L)
    val recorded = store.events("performance_metrics")
      .select("metric_name", "metric_value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(recorded("tasks_completed") > 0)
    assert(recorded("jobs_completed") >= 1)
    assert(recorded.contains("shuffle_read") && recorded.contains("executor_run_time"))
    // the snapshot is one event batch: one file, one metric_id per metric
    val batch = store.events("performance_metrics")
    assert(batch.select(input_file_name()).distinct().count() == 1)
    assert(batch.select("metric_id").distinct().count() == recorded.size)
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val cat = new WarehouseCatalog(spark, wh)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_silver LOCATION '$wh/silver.db'")
    val facts = (1 to 1000).map(i => (i.toLong % 100, s"f$i")).toDF("k", "v")
    val dims = (1 to 100).map(i => (i.toLong, s"d$i")).toDF("k", "d")
    cat.saveBucketed("silver", "facts_b", facts, Seq("k"), 4)
    cat.saveBucketed("silver", "dims_b", dims, Seq("k"), 4)
    // disable broadcast so the join strategy decision is about co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_silver.facts_b")
        .join(spark.table("graft_silver.dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // k=0 facts (10 rows) have no dim row; dim k=100 has no facts → 990
      assert(joined.count() == 990)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP DATABASE graft_silver CASCADE")
    }
  }

  test("merge-hinted bucketed join is exchange-free WITHOUT touching broadcast conf (q160's shape)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket-h").toString
    val cat = new WarehouseCatalog(spark, wh)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_silver LOCATION '$wh/silver.db'")
    try {
      val facts = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "q")
      val dims = (1 to 100).map(i => (i.toLong, s"p${i % 5}")).toDF("k", "p")
      cat.saveBucketed("silver", "facts_h", facts, Seq("k"), 4)
      cat.saveBucketed("silver", "dims_h", dims, Seq("k"), 4)
      // the hint (not a conf mutation) pins sort-merge even though the dim
      // side is broadcast-sized — the query stays a pure plan declaration
      val joined = spark.table("graft_silver.facts_h")
        .join(spark.table("graft_silver.dims_h").hint("merge"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"hint must pin the merge strategy:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed merge join must not shuffle:\n$plan")
    } finally spark.sql("DROP DATABASE graft_silver CASCADE")
  }
}
