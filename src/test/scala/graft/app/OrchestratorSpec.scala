package graft.app

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.medallion.{Gold, PartitionedFact, Silver}
import graft.queries.Medallion

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  /** The six CRM/ERP CSVs under `source_crm` and `source_erp` of a new
    * directory, a few rows each with the columns the silver cleaners read
    * (untrimmed names, a duplicate and a blank customer id, a `0` order date,
    * null sales and price); `erp = false` writes only the CRM three.
    */
  private def sourceCsvs(erp: Boolean = true): String = {
    import java.nio.file.Files
    val data = Files.createTempDirectory("graft-csv")
    def csv(dir: String, name: String, lines: String*) =
      Files.write(Files.createDirectories(data.resolve(dir)).resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    csv("source_crm", "cust_info.csv",
      "cst_id,cst_key,cst_firstname,cst_lastname,cst_marital_status,cst_gndr,cst_create_date",
      "11000,AW00011000, Jon,Yang ,M,M,2025-01-10",
      "11001,AW00011001,Eugene,  Huang,S,,2025-02-01",
      "11001,AW00011001,Eugene,Huang,M,F,2025-03-03",
      ",SF1234,,,,,")
    csv("source_crm", "prd_info.csv",
      "prd_id,prd_key,prd_nm,prd_cost,prd_line,prd_start_dt,prd_end_dt",
      "210,CO-RF-FR-R92B-58,Road Frame - Black- 58,,R ,2003-07-01,",
      "211,CO-RF-FR-R92R-58,Road Frame - Red- 58,442,M,2004-07-01,2012-01-02")
    csv("source_crm", "sales_details.csv",
      "sls_ord_num,sls_prd_key,sls_cust_id,sls_order_dt,sls_ship_dt,sls_due_dt,sls_sales,sls_quantity,sls_price",
      "SO43697,FR-R92B-58,11000,20101229,20110105,20110110,3578,1,3578",
      "SO43698,FR-R92R-58,11001,20110301,20110308,20110313,,2,442",
      "SO43699,FR-R92R-58,11001,0,20110308,20110313,884,2,",
      "SO43700,FR-R92B-58,11000,20130615,20130622,20130627,7000,2,3578")
    if (erp) {
      csv("source_erp", "CUST_AZ12.csv", "CID,BDATE,GEN",
        "NASAW00011000,1971-10-06,Male", "AW00011001,2050-07-06,F")
      csv("source_erp", "LOC_A101.csv", "CID,CNTRY", "AW-00011000,DE", "AW-00011001, ")
      csv("source_erp", "PX_CAT_G1V2.csv", "ID,CAT,SUBCAT,MAINTENANCE",
        "CO_RF,Components,Road Frames,Yes", "AC_BR,Accessories,Bike Racks,No")
    }
    data.toString
  }

  private val bronzeTables = Seq("crm_customers_raw", "crm_products_raw", "crm_sales_raw",
    "erp_customers_raw", "erp_locations_raw", "erp_product_categories_raw")

  /** Rows as a multiset: order-free, duplicates counted. */
  private def multiset(df: DataFrame): Map[org.apache.spark.sql.Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def statusCounts(orch: SetupOrchestrator): Map[String, Long] =
    orch.store.current("process_log", "log_id").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("full pipeline: setup → bronze → silver → gold with audit trail") {
    assumeReferenceCsvs("source_crm")
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val orch = new SetupOrchestrator(spark, dir)

    val setup = orch.runCompleteSetup()
    assert(setup.forall(_.ok), setup.mkString("; "))

    val bronze = orch.runBronze(Medallion.ReferenceRoot, "crm")
    assert(bronze.forall(_.isSuccess))
    assert(bronze.map(_.get.rowsLoaded).sum == 18494 + 397 + 60398)

    orch.runSilver()
    orch.runGold()
    val gold = spark.read.parquet(s"$dir/gold/customer_analytics")
    assert(gold.count() == 18484)

    // audit trail: every load has a SUCCESS process row and a lineage edge
    val processes = orch.store.current("process_log", "log_id")
    // CRM-only: 3 bronze + 3 silver + 1 gold processes; 3+3+2 lineage edges
    assert(processes.where(col("status") === "SUCCESS").count() == 7)
    assert(processes.where(col("status") === "RUNNING").count() == 0)
    val edges = orch.lineage.edges()
    assert(edges.count() == 8)

    // throughput metric recorded per bronze load (reference rows_per_second)
    val rps = orch.store.events("performance_metrics")
      .where(col("metric_name") === "rows_per_second")
    assert(rps.count() == 3)

    // downstream impact from the sales source reaches gold
    val impact = graft.lineage.Lineage.reachable(
      edges, "src", "dst",
      Seq("bronze.crm_sales_raw").toDF("seed"), "seed", maxDepth = 5)
    assert(impact.collect().map(_.getString(1)).contains("gold.customer_analytics"))

    // the partitioned sales fact prunes year partitions on date-bounded scans
    val sales = spark.read.parquet(s"$dir/silver/crm_sales")
    val pruned = sales.where(col("order_year") === 2013)
    val scanNode = pruned.queryExecution.executedPlan.toString
    assert(scanNode.contains("PartitionFilters") && scanNode.contains("order_year"),
      s"expected partition pruning in:\n$scanNode")
    assert(pruned.count() > 0)

    orch.rollback() // reverse-order teardown must not throw
  }

  test("a bronze load runs at most 3 Spark jobs per CSV: no read-backs of what it wrote") {
    // per CSV: CSV header, CSV infer, bronze write; the audit rows (start,
    // lineage edge, metric, end) are driver-written files, no job. A
    // read-back of the bronze table or of the process log would add jobs here
    import java.nio.file.Files
    val data = Files.createTempDirectory("graft-crm")
    val crm = Files.createDirectories(data.resolve("source_crm"))
    def csv(name: String, lines: String*) =
      Files.write(crm.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    csv("cust_info.csv", "cst_id,cst_key,cst_firstname", "1,AW001,Ann", "2,AW002, Bob")
    csv("prd_info.csv", "prd_id,prd_key,prd_cost",
      "210,CO-RF-FR-R92B-58,", "211,CO-RF-FR-R92R-58,442")
    csv("sales_details.csv", "sls_ord_num,sls_prd_key,sls_cust_id,sls_sales",
      "SO43697,BK-R93R-62,1,3578", "SO43698,BK-M82S-44,2,3400")
    val orch = new SetupOrchestrator(spark, Files.createTempDirectory("graft-wh3").toString)
    val (res, jobs) = countingJobs(orch.runBronze(data.toString, "crm"))
    info(s"$jobs Spark jobs for 3 CSVs")
    assert(res.map(_.get.rowsLoaded) == Seq(2L, 2L, 2L))
    assert(jobs <= 3 * 3, s"$jobs jobs for 3 CSVs")
    assert(orch.store.current("process_log", "log_id")
      .where(col("status") === "SUCCESS").count() == 3)
  }

  test("full pipeline on in-test CSVs: six loads, five silver builds, gold, with audit trail") {
    val dir = tempDir("graft-wh-full")
    val orch = new SetupOrchestrator(spark, dir)
    val setup = orch.runCompleteSetup()
    assert(setup.forall(_.ok), setup.mkString("; "))
    val bronze = orch.runBronze(sourceCsvs())
    assert(bronze.forall(_.isSuccess), bronze.mkString("; "))
    assert(bronze.map(_.get.rowsLoaded) == Seq(4L, 2L, 4L, 2L, 2L, 2L))
    orch.runSilver()
    orch.runGold()

    // a layer's processes open together, so ids follow step order per layer
    val processes = orch.store.current("process_log", "log_id")
    assert(processes.orderBy("log_id").select("process_name").as[String].collect().toSeq ==
      bronzeTables.map(t => s"bronze_load_$t") ++
      Seq("crm_customers", "crm_products", "crm_sales", "erp_customers", "erp_locations")
        .map(t => s"silver_build_$t") :+ "gold_build_customer_analytics")
    assert(statusCounts(orch) == Map("SUCCESS" -> 12L))
    // 6 source → bronze, 5 bronze → silver, 2 silver → gold
    assert(orch.lineage.edges().count() == 13)
    assert(orch.store.events("performance_metrics")
      .where(col("metric_name") === "rows_per_second").count() == 6)

    def read(layer: String, t: String) = spark.read.parquet(s"$dir/$layer/$t")
    Seq[(String, String, DataFrame => DataFrame)](
      ("crm_customers_raw", "crm_customers", Silver.cleanCrmCustomers),
      ("crm_products_raw", "crm_products", Silver.cleanCrmProducts),
      ("crm_sales_raw", "crm_sales", Silver.cleanCrmSales),
      ("erp_customers_raw", "erp_customers", Silver.cleanErpCustomers(_)),
      ("erp_locations_raw", "erp_locations", Silver.cleanErpLocations)
    ).foreach { case (b, t, clean) =>
      val silver = read("silver", t)
        .drop(PartitionedFact.partitionColumns("order", PartitionedFact.Year): _*)
      assert(silver.count() > 0, t)
      assert(multiset(silver) == multiset(clean(read("bronze", b))), t)
    }
    val gold = read("gold", "customer_analytics")
    assert(gold.count() == 2)
    assert(multiset(gold) ==
      multiset(Gold.customerAnalytics(read("silver", "crm_customers"), read("silver", "crm_sales"))))
  }

  test("the bronze loads run concurrently: their Spark jobs overlap, results stay in load order") {
    val csvs = sourceCsvs()
    val orch = new SetupOrchestrator(spark, tempDir("graft-wh-overlap"))
    // the listener bus delivers job events in the order the scheduler posts
    // them, so this count is the scheduler's own in-flight count
    val overlap = new SparkListener {
      @volatile var running, maxRunning = 0
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        running += 1; maxRunning = math.max(maxRunning, running)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running -= 1
    }
    spark.sparkContext.addSparkListener(overlap)
    val (res, jobs) =
      try countingJobs(orch.runBronze(csvs))
      finally spark.sparkContext.removeSparkListener(overlap)
    info(s"$jobs Spark jobs for 6 CSVs, at most ${overlap.maxRunning} at once")
    assert(overlap.maxRunning >= 2, s"at most ${overlap.maxRunning} job in flight")
    assert(res.map(_.get.table) == bronzeTables)
  }

  test("one source missing under concurrent loads: its loads fail in place, the rest land") {
    val orch = new SetupOrchestrator(spark, tempDir("graft-wh-partial"))
    val res = orch.runBronze(sourceCsvs(erp = false), "all")
    assert(res.map(_.isSuccess) == Seq(true, true, true, false, false, false))
    assert(res.take(3).map(_.get.table) == bronzeTables.take(3))
    assert(statusCounts(orch) == Map("SUCCESS" -> 3L, "FAILED" -> 3L))
    assert(orch.errors.unresolvedErrors().count() == 3)
  }

  test("a failed silver build is logged and closed FAILED once the other builds land") {
    val dir = tempDir("graft-wh-silverfail")
    val orch = new SetupOrchestrator(spark, dir)
    // customers without the columns the cleaner reads; a good locations table
    Seq((1, "x")).toDF("id", "name").write.parquet(s"$dir/bronze/crm_customers_raw")
    Seq(("AW-00011000", "DE")).toDF("CID", "CNTRY").write.parquet(s"$dir/bronze/erp_locations_raw")
    intercept[AnalysisException](orch.runSilver())
    val processes = orch.store.current("process_log", "log_id")
    assert(processes.select("process_name", "status").as[(String, String)].collect().toMap ==
      Map("silver_build_crm_customers" -> "FAILED", "silver_build_erp_locations" -> "SUCCESS"))
    val failedPid = processes.where(col("status") === "FAILED").select("log_id").as[Long].head()
    val errs = orch.errors.unresolvedErrors()
    assert(errs.select("process_log_id").as[Option[Long]].collect().toSeq == Seq(Some(failedPid)))
    assert(spark.read.parquet(s"$dir/silver/erp_locations").count() == 1)
  }

  test("a failed gold build is logged and closed FAILED") {
    val orch = new SetupOrchestrator(spark, tempDir("graft-wh-goldfail"))
    // silver was never built: the gold reads fail
    intercept[AnalysisException](orch.runGold())
    assert(statusCounts(orch) == Map("FAILED" -> 1L))
    assert(orch.errors.unresolvedErrors().count() == 1)
  }

  test("force-recreate deletes the pipeline's data: a rerun does not double bronze") {
    val dir = tempDir("graft-wh-recreate")
    val orch = new SetupOrchestrator(spark, dir)
    val csvs = sourceCsvs()
    assert(orch.runCompleteSetup().forall(_.ok))
    orch.runBronze(csvs)
    val setup = orch.runCompleteSetup(forceRecreate = true)
    assert(setup.forall(_.ok), setup.mkString("; "))
    assert(orch.runBronze(csvs).forall(_.isSuccess))
    assert(spark.read.parquet(s"$dir/bronze/crm_customers_raw").count() == 4)
    assert(orch.store.current("process_log", "log_id").count() == 6)
  }

  test("bronze failure is tolerated per-source and logged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh2").toString
    val orch = new SetupOrchestrator(spark, dir)
    val res = orch.runBronze("/nonexistent-dir", "crm")
    assert(res.forall(_.isFailure), "all loads fail but none throws out")
    val failed = orch.store.current("process_log", "log_id")
      .where(col("status") === "FAILED")
    assert(failed.count() == 3)
    assert(orch.errors.unresolvedErrors().count() == 3)
  }
}
