package graft.app

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Medallion

class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

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
