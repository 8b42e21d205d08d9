package graft.audit

import graft.SparkSpec

class BatchAndBreakersSpec extends SparkSpec {

  object FixedClock extends Clock {
    def now() = java.sql.Timestamp.valueOf("2026-02-03 04:05:06")
  }

  test("batch logger: id format and ceiling-division batch estimate") {
    val store = new LogStore(
      spark, java.nio.file.Files.createTempDirectory("graft-batch").toString)
    val bl = new BatchLogger(new ProcessLogger(store, FixedClock), FixedClock)
    val run = bl.startBatchRun("bronze_batches", totalRows = 25000, batchSize = 10000)
    assert(run.batchId == "batch_20260203_040506")
    assert(run.estimatedBatches == 3, "ceil(25000/10000) = 3")
    bl.completeBatchRun(run, rowsProcessed = 25000)
    val cur = store.current("process_log", "log_id").collect().head
    assert(cur.getAs[String]("status") == "SUCCESS")
    assert(cur.getAs[String]("process_description").contains("\"estimated_batches\":3"))
  }

  test("circuit breaker opens after threshold and half-opens after reset") {
    var now = 0L
    val cb = new CircuitBreaker(failureThreshold = 2, resetAfterMs = 1000, nowMs = () => now)
    def boom(): Unit = cb.call(throw new RuntimeException("x"))
    intercept[RuntimeException](boom())
    assert(cb.state == "CLOSED")
    intercept[RuntimeException](boom())
    assert(cb.state == "OPEN")
    intercept[IllegalStateException](cb.call("blocked"))
    now = 2000
    assert(cb.state == "HALF_OPEN")
    assert(cb.call("ok") == "ok", "half-open allows a probe call")
    assert(cb.state == "CLOSED", "success closes the circuit")
  }

  test("csv options surface maps COPY parameters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "a;b\n1;x\n2;NULLY\n")
    val df = graft.bronze.Bronze.readCsv(
      spark, f.toString,
      graft.bronze.Bronze.CsvOptions(delimiter = ";", nullValue = "NULLY"))
    assert(df.columns.sameElements(Array("a", "b")))
    assert(df.where(org.apache.spark.sql.functions.col("b").isNull).count() == 1)
  }

  test("catalog introspection: columns, stats, add columns") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-cat").toString
    val cat = new graft.catalog.WarehouseCatalog(spark, wh)
    cat.createDatabases()
    try {
      cat.saveTable("silver", "t_intro", Seq((1L, "a")).toDF("id", "v"))
      val cols = cat.listColumns("silver", "t_intro")
      assert(cols.map(_._1) == Seq("id", "v"))
      val stats = cat.tableStats("silver", "t_intro")
      assert(stats.get("Statistics").exists(_.contains("rows")), stats.toString)
      cat.addColumns("silver", "t_intro", Seq("extra" -> "STRING"))
      assert(cat.listColumns("silver", "t_intro").map(_._1).contains("extra"))
      val layer = cat.analyzeMedallionLayer("silver").collect()
      assert(layer.exists(r => r.getString(1) == "t_intro" && r.getLong(2) == 1))
    } finally cat.dropDatabases()
  }

  test("a layer's tables exclude the session's temp views") {
    import spark.implicits._
    val cat = new graft.catalog.WarehouseCatalog(
      spark, java.nio.file.Files.createTempDirectory("graft-cat-tv").toString)
    cat.createDatabases()
    Seq(1L).toDF("id").createOrReplaceTempView("graft_layer_tv")
    try {
      cat.saveTable("silver", "t_layer", Seq((1L, "a")).toDF("id", "v"))
      assert(cat.listTables("silver") == Seq("t_layer"))
      assert(cat.analyzeMedallionLayer("silver").collect().map(_.getString(1)).toSeq == Seq("t_layer"))
    } finally {
      spark.catalog.dropTempView("graft_layer_tv")
      cat.dropDatabases()
    }
  }
}
