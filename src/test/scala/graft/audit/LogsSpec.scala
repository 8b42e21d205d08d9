package graft.audit

import graft.SparkSpec

class LogsSpec extends SparkSpec {

  private def freshStore = new LogStore(
    spark, java.nio.file.Files.createTempDirectory("graft-logs").toString)

  object FixedClock extends Clock {
    def now() = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
  }

  test("process lifecycle: start RUNNING, end SUCCESS, latest-wins view") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val id = pl.startProcess("bronze_load", "load cust_info", Some("CRM"), Some("bronze"))
    assert(pl.activeProcesses().count() == 1)
    pl.endProcess(id, "SUCCESS", rowsProcessed = Some(100), rowsInserted = Some(100))
    assert(pl.activeProcesses().count() == 0)
    val cur = store.current("process_log", "log_id").collect().head
    assert(cur.getAs[String]("status") == "SUCCESS")
    assert(cur.getAs[Long]("rows_processed") == 100)
    // the event log keeps both versions; the view keeps one
    assert(store.events("process_log").count() == 2)
    assert(store.current("process_log", "log_id").count() == 1)
  }

  test("a restarted LogStore keeps the event sequence monotonic (latest-wins survives restarts)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-logs-restart").toString
    val store1 = new LogStore(spark, dir)
    val pl1 = new ProcessLogger(store1, FixedClock)
    val id = pl1.startProcess("bronze_load")
    // new store instance over the same directory — simulates a session restart
    val store2 = new LogStore(spark, dir)
    val pl2 = new ProcessLogger(store2, FixedClock)
    pl2.endProcess(id, "SUCCESS")
    val cur = store2.current("process_log", "log_id").collect().head
    assert(cur.getAs[String]("status") == "SUCCESS",
      "the post-restart update must win over the pre-restart RUNNING event")
  }

  test("restart seeding is per table: updates win even when another table is appended first") {
    // store1 leaves process_log at seq 1 and error_log at seq 3; a shared
    // counter in store2 seeded from process_log's max (1) would hand the
    // error resolution seq 3 — tying/below the persisted error events —
    // and latest-wins would keep the unresolved row
    val dir = java.nio.file.Files.createTempDirectory("graft-logs-pertable").toString
    val store1 = new LogStore(spark, dir)
    val pl1 = new ProcessLogger(store1, FixedClock)
    val el1 = new ErrorLogger(store1, FixedClock)
    val pid = pl1.startProcess("load")
    el1.logError("ERROR", "E1", "boom1")
    el1.logError("ERROR", "E2", "boom2")
    val eid = el1.logError("ERROR", "E3", "boom3")
    val store2 = new LogStore(spark, dir)
    new ProcessLogger(store2, FixedClock).endProcess(pid, "SUCCESS") // seeds process_log first
    new ErrorLogger(store2, FixedClock).markResolved(eid, "ops")
    assert(new ErrorLogger(store2, FixedClock).unresolvedErrors().count() == 2,
      "the post-restart resolution must win over the pre-restart error event")
  }

  test("ids are sequential across appends") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    assert(pl.startProcess("a") == 1L)
    assert(pl.startProcess("b") == 2L)
    assert(pl.startProcess("c") == 3L)
  }

  test("updateProcessMetrics records mid-run progress without ending the process") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val id = pl.startProcess("big_load")
    pl.updateProcessMetrics(id, rowsProcessed = Some(5000), rowsInserted = Some(4000))
    val cur = store.current("process_log", "log_id").collect().head
    assert(cur.getAs[String]("status") == "RUNNING", "mid-run update must not end the process")
    assert(cur.getAs[Long]("rows_processed") == 5000)
    assert(cur.getAs[Long]("rows_inserted") == 4000)
    assert(cur.isNullAt(cur.fieldIndex("end_time")))
    // a later partial update merges, not replaces: rows_processed advances,
    // rows_inserted keeps its previous value
    pl.updateProcessMetrics(id, rowsProcessed = Some(9000))
    val cur2 = store.current("process_log", "log_id").collect().head
    assert(cur2.getAs[Long]("rows_processed") == 9000)
    assert(cur2.getAs[Long]("rows_inserted") == 4000)
    // a crash after the update still shows progress; a clean end overrides
    pl.endProcess(id, "SUCCESS", rowsProcessed = Some(10000), rowsDeleted = Some(7))
    val done = store.current("process_log", "log_id").collect().head
    assert(done.getAs[String]("status") == "SUCCESS")
    assert(done.getAs[Long]("rows_processed") == 10000)
    assert(done.getAs[Long]("rows_deleted") == 7)
  }

  test("updateProcessMetrics on an unknown id throws, like the reference") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    pl.startProcess("known")
    intercept[IllegalArgumentException] { pl.updateProcessMetrics(999L) }
  }

  test("endProcess and updateProcessMetrics on an unknown id throw, on an empty store too") {
    val empty = new ProcessLogger(freshStore, FixedClock)
    val e1 = intercept[IllegalArgumentException] { empty.endProcess(1L, "SUCCESS") }
    assert(e1.getMessage.contains("Process log with ID 1 not found"))
    intercept[IllegalArgumentException] { empty.updateProcessMetrics(1L) }
    val el = new ErrorLogger(freshStore, FixedClock)
    val e2 = intercept[IllegalArgumentException] { el.markResolved(1L, "ops") }
    assert(e2.getMessage.contains("Error log with ID 1 not found"))

    val pl = new ProcessLogger(freshStore, FixedClock)
    pl.startProcess("known")
    val e3 = intercept[IllegalArgumentException] { pl.endProcess(999L, "SUCCESS") }
    assert(e3.getMessage.contains("Process log with ID 999 not found"))
    intercept[IllegalArgumentException] { pl.updateProcessMetrics(999L) }
  }

  test("reads on an empty store return empty frames with the log schema") {
    val store = freshStore
    assert(new ProcessLogger(store, FixedClock).activeProcesses().count() == 0)
    assert(new ErrorLogger(store, FixedClock).unresolvedErrors().count() == 0)
    assert(store.events("process_log").columns.toSeq ==
      org.apache.spark.sql.Encoders.product[ProcessLog].schema.fieldNames.toSeq :+ "_event_seq")
    assert(store.current("error_log", "error_id").columns.toSeq ==
      org.apache.spark.sql.Encoders.product[ErrorLog].schema.fieldNames.toSeq)
  }

  test("endProcess after a terminal status still works (the memo misses, the scan finds the row)") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val id = pl.startProcess("load")
    pl.endProcess(id, "SUCCESS", rowsProcessed = Some(10))
    pl.endProcess(id, "FAILED", errorMessage = Some("late failure"))
    val cur = store.current("process_log", "log_id").collect().head
    assert(cur.getAs[String]("status") == "FAILED")
    assert(cur.getAs[Long]("rows_processed") == 10, "the scanned SUCCESS version is the base")
    assert(cur.getAs[String]("error_message") == "late failure")
  }

  test("open-row memo: one store's updates leave the same log as a fresh store per step") {
    // the same steps through one store (latest versions from its memo) and
    // through a new store per step (latest versions from a scan)
    def run(storeFor: () => LogStore): LogStore = {
      var store = storeFor()
      def pl = new ProcessLogger(store, FixedClock)
      def el = new ErrorLogger(store, FixedClock)
      def step[T](f: => T): T = { store = storeFor(); f }
      val a = step(pl.startProcess("load_a", "first", Some("CRM"), Some("bronze")))
      val b = step(pl.startProcess("load_b"))
      step(pl.updateProcessMetrics(a, rowsProcessed = Some(500), rowsInserted = Some(400)))
      step(pl.updateProcessMetrics(b, rowsProcessed = Some(7)))
      step(pl.endProcess(a, "SUCCESS", rowsProcessed = Some(1000), rowsDeleted = Some(3)))
      val e1 = step(el.logError("ERROR", "E1", "boom", Some(a), Some("detail"), Some("bronze.t")))
      step(el.logError("WARNING", "E2", "drift", Some(b)))
      step(el.markResolved(e1, "ops", Some("restarted")))
      store
    }
    val memoDir = java.nio.file.Files.createTempDirectory("graft-logs-memo").toString
    val memoStore = new LogStore(spark, memoDir)
    val (memo, jobs) = countingJobs(run(() => memoStore))
    assert(jobs == 0, s"memo path: no scan and no append job, got $jobs")
    val scanDir = java.nio.file.Files.createTempDirectory("graft-logs-scan").toString
    val scan = run(() => new LogStore(spark, scanDir))

    for ((table, id) <- Seq("process_log" -> "log_id", "error_log" -> "error_id")) {
      def rows(s: LogStore) = s.current(table, id).orderBy(id).collect().toSeq
      assert(rows(memo) == rows(scan), table)
      assert(rows(memo).nonEmpty)
      def events(s: LogStore) = s.events(table).orderBy("_event_seq").collect().toSeq
      assert(events(memo) == events(scan), s"$table events")
    }
    assert(new ProcessLogger(memo, FixedClock).activeProcesses().count() == 1)
    assert(new ErrorLogger(memo, FixedClock).unresolvedErrors().count() == 1)
  }

  test("audit appends launch no Spark job: start, edge, metric, end, error, resolve") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val el = new ErrorLogger(store, FixedClock)
    val (_, jobs) = countingJobs {
      val pid = pl.startProcess("load", "one step", Some("CRM"), Some("bronze"))
      new LineageTracker(store, FixedClock).recordEdge("source", "a.csv", "bronze", "a", Some(pid))
      new PerformanceMonitor(store, FixedClock).record("rows_per_second", 1.5, "rows/sec", Some(pid))
      pl.endProcess(pid, "SUCCESS", rowsProcessed = Some(2))
      el.markResolved(el.logError("ERROR", "E1", "boom", Some(pid)), "ops")
    }
    assert(jobs == 0, s"$jobs jobs for seven audit appends")
    assert(store.current("process_log", "log_id").collect().head.getAs[String]("status") == "SUCCESS")
    assert(store.current("error_log", "error_id").collect().head.getAs[Boolean]("is_resolved"))
  }

  test("every log case class round-trips through a driver-written batch, None and Some alike") {
    val store = freshStore
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2026-03-04 05:06:07.123456")
    val t2 = java.sql.Timestamp.valueOf("1999-12-31 23:59:59")
    def roundTrip[T <: Product: org.apache.spark.sql.Encoder](table: String, rows: T*): Unit = {
      store.appendEvents(table, rows)
      val back = store.events(table)
      assert(back.select("_event_seq").distinct().count() == 1, s"$table: one sequence per batch")
      assert(back.drop("_event_seq").as[T].collect().toSet == rows.toSet, table)
    }
    roundTrip("process_log",
      ProcessLog(1L, "load", "", t, None, "RUNNING", None, None, None, None, None, None, None, "system"),
      ProcessLog(2L, "load", "desc", t, Some(t2), "FAILED", Some(10L), Some(8L), Some(1L), Some(0L),
        Some("CRM"), Some("bronze"), Some("boom"), "ops"))
    roundTrip("error_log",
      ErrorLog(1L, None, t, "ERROR", "E1", "boom", None, None, None, is_resolved = false, None, None),
      ErrorLog(2L, Some(7L), t, "WARNING", "E2", "drift", Some("d"), Some("bronze.t"), Some("retry"),
        is_resolved = true, Some("ops"), Some(t2)))
    roundTrip("data_lineage",
      DataLineageEdge(1L, None, "source", "a.csv", "bronze", "a", None, None, t),
      DataLineageEdge(2L, Some(3L), "bronze", "a", "silver", "b", Some("clean"), Some(42L), t2))
    roundTrip("performance_metrics",
      PerformanceMetric(1L, None, "rows_per_second", 1234.5678, "rows/sec", t),
      PerformanceMetric(2L, Some(1L), "gc", -0.25, "sec", t2))
    roundTrip("configuration_log",
      ConfigurationLog(1L, "batch_size", None, "10000", None, "system", t, "dev"),
      ConfigurationLog(2L, "batch_size", Some("10000"), "20000", Some("throughput"), "ops", t2, "prod"))
  }

  test("a store over a job-written log reads both kinds of file and continues the sequence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graft-logs-mixed").toString
    val old = ProcessLog(1L, "old_load", "", FixedClock.now(), None, "RUNNING",
      None, None, None, None, None, None, None, "system")
    // the file a write job leaves: part-00000-…, a committer's _SUCCESS
    Seq(old).toDF().withColumn("_event_seq", lit(1L)).coalesce(1)
      .write.parquet(s"$dir/logs/process_log")
    val store = new LogStore(spark, dir)
    val pl = new ProcessLogger(store, FixedClock)
    pl.endProcess(1L, "SUCCESS", rowsProcessed = Some(5))
    assert(pl.startProcess("new_load") == 2L)
    assert(store.events("process_log").orderBy("_event_seq").select("_event_seq").as[Long]
      .collect().toSeq == Seq(1L, 2L, 3L))
    val cur = store.current("process_log", "log_id").orderBy("log_id").collect()
    assert(cur.map(_.getAs[String]("status")).toSeq == Seq("SUCCESS", "RUNNING"))
    assert(cur.head.getAs[Long]("rows_processed") == 5)
  }

  test("a failed append throws naming the table and leaves no visible file") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-logs-fail")
    val store = new LogStore(spark, dir.toString)
    val pl = new ProcessLogger(store, FixedClock)
    pl.startProcess("first")
    val table = dir.resolve("logs/process_log")
    def names = java.nio.file.Files.list(table).iterator().asScala.map(_.getFileName.toString).toSeq
    val before = names.toSet
    // a batch that fails after its first row reached the file
    val row = ProcessLog(9L, "x", "", FixedClock.now(), None, "RUNNING",
      None, None, None, None, None, None, None, "system")
    val e0 = intercept[java.io.IOException] {
      store.appendEvents("process_log", row #:: LazyList.fill(1)(throw new RuntimeException("mid-batch")))
    }
    assert(e0.getMessage.contains("process_log") && e0.getMessage.contains("mid-batch"), e0.getMessage)
    assert(names.toSet == before, s"a failed batch must leave no file behind: $names")
    assert(store.events("process_log").count() == 1)
    // a plain file where the table's directory was: the next write cannot land
    org.apache.commons.io.FileUtils.deleteDirectory(table.toFile)
    java.nio.file.Files.write(table, "not a directory".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] { pl.startProcess("second") }
    assert(e.getMessage.contains("process_log"), e.getMessage)
    val left = org.apache.commons.io.FileUtils.listFiles(dir.toFile, null, true)
    assert(!left.toArray.exists(_.toString.contains("part-")), s"visible files left: $left")
  }

  test("processHistory filters by status (audit_logger.py:348)") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val a = pl.startProcess("load_a")
    val b = pl.startProcess("load_b")
    pl.startProcess("load_c")
    pl.endProcess(a, "SUCCESS")
    pl.endProcess(b, "FAILED", errorMessage = Some("boom"))
    // FixedClock start_time is in the past relative to current_timestamp —
    // use a large window so all three land inside it
    val failed = pl.processHistory(days = 100000, statusFilter = Some("FAILED")).collect()
    assert(failed.map(_.getAs[String]("process_name")).toSeq == Seq("load_b"))
    val running = pl.processHistory(days = 100000, statusFilter = Some("RUNNING")).collect()
    assert(running.map(_.getAs[String]("process_name")).toSeq == Seq("load_c"))
    assert(pl.processHistory(days = 100000).count() == 3, "no filter → all rows")
  }

  test("id seeding survives a restart: new store continues past the persisted max") {
    val dir = java.nio.file.Files.createTempDirectory("graft-logs-idseed").toString
    val pl1 = new ProcessLogger(new LogStore(spark, dir), FixedClock)
    assert(pl1.startProcess("a") == 1L)
    assert(pl1.startProcess("b") == 2L)
    val pl2 = new ProcessLogger(new LogStore(spark, dir), FixedClock)
    assert(pl2.startProcess("c") == 3L, "restarted store must seed ids from the persisted max")
  }

  test("error logging and resolution") {
    val store = freshStore
    val el = new ErrorLogger(store, FixedClock)
    val id = el.logError("ERROR", "E42", "boom", tableName = Some("bronze.t"))
    assert(el.unresolvedErrors().count() == 1)
    el.markResolved(id, "ops", Some("restarted"))
    assert(el.unresolvedErrors().count() == 0)
  }

  test("retry with backoff logs attempts and eventually succeeds") {
    val store = freshStore
    val el = new ErrorLogger(store, FixedClock)
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Retry.withBackoff(el, maxRetries = 3, baseDelayMs = 10,
      sleeper = delays.append(_)) {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"fail $calls")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(delays.toSeq == Seq(10L, 20L), "exponential backoff ×2")
    assert(store.events("error_log").count() == 2, "one WARNING per retry")
  }

  test("retry exhaustion rethrows and logs RETRY_EXHAUSTED") {
    val store = freshStore
    val el = new ErrorLogger(store, FixedClock)
    intercept[RuntimeException] {
      Retry.withBackoff(el, maxRetries = 2, baseDelayMs = 1, sleeper = _ => ())(
        throw new RuntimeException("always"))
    }
    val codes = store.events("error_log")
      .select("error_code").collect().map(_.getString(0))
    assert(codes.count(_ == "RETRY") == 2 && codes.contains("RETRY_EXHAUSTED"))
  }

  test("performance monitor records timed blocks and summarizes") {
    val store = freshStore
    val pm = new PerformanceMonitor(store, FixedClock)
    val v = pm.timed("unit_of_work") { 41 + 1 }
    assert(v == 42)
    pm.record("rows_per_second", 12345.0, "rows/sec")
    val names = pm.summary().collect().map(_.getString(0)).toSet
    assert(names == Set("unit_of_work_execution_time", "rows_per_second"))
  }

  test("error analyzer: patterns, daily trend, and top tables") {
    val store = freshStore
    val el = new ErrorLogger(store, FixedClock)
    el.logError("ERROR", "E_IO", "disk", tableName = Some("bronze.sales"))
    el.logError("ERROR", "E_IO", "disk again", tableName = Some("bronze.sales"))
    val id = el.logError("WARNING", "E_SCHEMA", "drift", tableName = Some("bronze.cust"))
    el.markResolved(id, "ops")
    val an = new ErrorAnalyzer(store)
    val patterns = an.patternSummary().collect()
    assert(patterns.head.getString(0) == "E_IO" && patterns.head.getLong(2) == 2)
    val resolved = patterns.find(_.getString(0) == "E_SCHEMA").get
    assert(resolved.getLong(3) == 1, "resolved count")
    val top = an.topProblematicTables(1).collect()
    assert(top.head.getString(0) == "bronze.sales" && top.head.getLong(1) == 2)
    assert(an.dailyTrend(36500).count() == 2, "two (date, level) buckets")
  }

  test("daily throughput derives rows/sec with zero-duration guard") {
    val store = freshStore
    val pl = new ProcessLogger(store, FixedClock)
    val id = pl.startProcess("load")
    pl.endProcess(id, "SUCCESS", rowsProcessed = Some(1000))
    val out = new PerformanceMonitor(store, FixedClock)
      .dailyThroughput(store.current("process_log", "log_id"))
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("total_rows") == 1000)
    // FixedClock makes start == end → zero duration → guarded to 0.0
    assert(out.head.getAs[Double]("rows_per_second") == 0.0)
  }

  test("configuration audit keeps ordered history") {
    val store = freshStore
    val cl = new ConfigurationLogger(store, FixedClock)
    cl.logChange("batch_size", Some("10000"), "20000", Some("throughput"), "ops")
    cl.logChange("batch_size", Some("20000"), "40000")
    assert(cl.history(Some("batch_size")).count() == 2)
  }

  test("lineage edges feed the graph traversal") {
    val store = freshStore
    val lt = new LineageTracker(store, FixedClock)
    lt.recordEdge("source", "cust_info.csv", "bronze", "crm_customers_raw", recordCount = Some(18493L))
    lt.recordEdge("bronze", "crm_customers_raw", "silver", "crm_customers")
    lt.recordEdge("silver", "crm_customers", "gold", "customer_analytics")
    import store.spark.implicits._
    val down = graft.lineage.Lineage.reachable(
      lt.edges(), "src", "dst",
      Seq("source.cust_info.csv").toDF("seed"), "seed", maxDepth = 5)
    assert(down.count() == 3, "full bronze→silver→gold chain reachable")
    val flow = lt.flowSummary().collect()
    assert(flow.length == 3)
  }
}
