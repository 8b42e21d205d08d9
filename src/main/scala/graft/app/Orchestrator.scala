package graft.app

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.audit._
import graft.bronze.Bronze
import graft.catalog.WarehouseCatalog
import graft.core.GraftSession
import graft.medallion.{Gold, PartitionedFact, Silver}

/** Setup + pipeline orchestration — the Spark-native `main.py` +
  * `setup/setup_orchestrator.py`: dependency-ordered steps (database →
  * schemas → logging → samples), stop-on-first-failure, per-step timing,
  * rollback (reverse-order teardown), and the bronze→silver→gold pipeline
  * with process/audit/lineage logging around every load — the same hard
  * ordering constraint as the reference (logs tables must exist before any
  * audit write, main.py:235-311).
  *
  * Within a layer the steps are independent — each bronze load reads its own
  * CSV, each silver build its own bronze table — so they run concurrently,
  * one thread each, and share the cluster instead of queueing: a step is a
  * few short Spark jobs with driver work in between, and run one at a time
  * they leave the executors idle most of the layer. The layers themselves
  * stay barriers: silver starts after bronze returns, gold after silver.
  *
  * Audit stays on the calling thread. [[LogStore]] is single-writer (id and
  * `_event_seq` counters, one writer per table, the open-row memo), so pool
  * threads run only the Spark work; the caller opens every step's process
  * first, then writes each step's lineage, metric and close in step order as
  * the steps finish. Process, lineage, metric and error ids are therefore the
  * same as in a sequential run, and in `process_log` a layer's starts precede
  * its ends.
  */
final class SetupOrchestrator(
    spark: SparkSession,
    warehouseDir: String,
    clock: Clock = SystemClock) {

  val catalog = new WarehouseCatalog(spark, warehouseDir)
  val store = new LogStore(spark, warehouseDir)
  lazy val processes = new ProcessLogger(store, clock)
  lazy val errors = new ErrorLogger(store, clock)
  lazy val perf = new PerformanceMonitor(store, clock)
  lazy val lineage = new LineageTracker(store, clock)

  final case class StepResult(step: String, ok: Boolean, seconds: Double, error: Option[String])

  /** Ordered setup with stop-on-first-failure and rollback on failure.
    * `samples` adds the reference's three sample medallion tables
    * (setup_orchestrator.py:464-523); `forceRecreate` drops everything first:
    * the catalog databases and the pipeline's data under the warehouse
    * (`gold`, `silver`, `bronze`, `logs`, in that order), so a rerun starts
    * from empty tables rather than appending to the last run's bronze.
    */
  def runCompleteSetup(
      rollbackOnFailure: Boolean = true,
      samples: Boolean = false,
      forceRecreate: Boolean = false): Seq[StepResult] = {
    import graft.ddl.TableSpec._
    import org.apache.spark.sql.types._
    val sampleStep: Seq[(String, () => Unit)] =
      if (!samples) Nil
      else Seq("samples" -> (() => {
        createTable(spark,
          medallionTemplate("bronze", "crm_customers", Seq(
            ColumnSpec("customer_id", IntegerType),
            ColumnSpec("customer_name", StringType),
            ColumnSpec("email", StringType))),
          "graft_bronze.crm_customers_sample")
        createTable(spark,
          medallionTemplate("silver", "customers", Seq(
            ColumnSpec("customer_key", LongType, nullable = false),
            ColumnSpec("customer_id", IntegerType),
            ColumnSpec("email_normalized", StringType),
            ColumnSpec("data_quality_score", DecimalType(3, 2)))),
          "graft_silver.customers_sample")
        createTable(spark,
          medallionTemplate("gold", "customer_analytics", Seq(
            ColumnSpec("customer_key", LongType, nullable = false),
            ColumnSpec("customer_segment", StringType),
            ColumnSpec("lifetime_value", DecimalType(10, 2)),
            ColumnSpec("total_orders", IntegerType))),
          "graft_gold.customer_analytics_sample")
      }))
    val recreateStep: Seq[(String, () => Unit)] =
      if (forceRecreate) Seq("drop_existing" -> (() => { catalog.dropDatabases(); deleteLayerData() }))
      else Nil
    val steps: Seq[(String, () => Unit)] = recreateStep ++ Seq(
      "databases" -> (() => catalog.createDatabases()),
      "logging" -> (() => {
        // touch the log store so downstream audit writes have a home
        val _ = store.exists("process_log")
      })) ++ sampleStep
    val results = scala.collection.mutable.ArrayBuffer.empty[StepResult]
    var failed = false
    steps.foreach { case (name, run) =>
      if (!failed) {
        val t0 = System.nanoTime()
        Try(run()) match {
          case Success(_) =>
            results += StepResult(name, ok = true, (System.nanoTime() - t0) / 1e9, None)
          case Failure(e) =>
            results += StepResult(name, ok = false, (System.nanoTime() - t0) / 1e9,
              Some(e.getMessage))
            failed = true
            if (rollbackOnFailure) rollback()
        }
      }
    }
    results.toSeq
  }

  /** Drops the catalog databases after a failed setup. The layer data stays:
    * the setup did not create it.
    */
  def rollback(): Unit = catalog.dropDatabases()

  /** Deletes the layer directories the pipeline writes (`<wh>/<layer>`,
    * gold first), through the Hadoop FileSystem so HDFS/S3 behave as the
    * local filesystem does. A directory that does not exist is skipped.
    */
  private def deleteLayerData(): Unit = catalog.databases.reverse.foreach { layer =>
    val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Bronze ingestion with full observability (the reference's
    * load_csv_to_bronze flow, bronze.py:389-591): process log → load →
    * lineage edge → throughput metric → process close; per-source
    * partial-failure tolerance. The loads run concurrently (see the class
    * doc), so each `rows_per_second` metric is that load's own throughput
    * while it shared the cluster with the others. Returns the outcomes in
    * load order.
    */
  def runBronze(datasetsDir: String, source: String = "all"): Seq[Try[Bronze.LoadResult]] = {
    val mgr = new Bronze.BronzeManager(spark, warehouseDir)
    val loads: Seq[(String, String, String)] = (source match {
      case "crm" => Seq("crm")
      case "erp" => Seq("erp")
      case _     => Seq("crm", "erp")
    }).flatMap {
      case "crm" => Seq(
        (s"$datasetsDir/source_crm/cust_info.csv", "crm_customers_raw", "CRM"),
        (s"$datasetsDir/source_crm/prd_info.csv", "crm_products_raw", "CRM"),
        (s"$datasetsDir/source_crm/sales_details.csv", "crm_sales_raw", "CRM"))
      case _ => Seq(
        (s"$datasetsDir/source_erp/CUST_AZ12.csv", "erp_customers_raw", "ERP"),
        (s"$datasetsDir/source_erp/LOC_A101.csv", "erp_locations_raw", "ERP"),
        (s"$datasetsDir/source_erp/PX_CAT_G1V2.csv", "erp_product_categories_raw", "ERP"))
    }
    val pids = loads.map { case (_, table, src) =>
      processes.startProcess(s"bronze_load_$table", s"CSV → bronze.$table", Some(src), Some("bronze"))
    }
    concurrently(loads.zip(pids))({ case ((csv, table, src), _) =>
      mgr.loadCsvToBronze(csv, table, src)
    }) {
      case (((csv, table, _), pid), Success(r)) =>
        lineage.recordEdge("source", new java.io.File(csv).getName, "bronze", table,
          Some(pid), Some("csv_ingestion"), Some(r.rowsLoaded))
        perf.record("rows_per_second",
          if (r.durationSec > 0) r.rowsLoaded / r.durationSec else 0.0, "rows/sec", Some(pid))
        processes.endProcess(pid, "SUCCESS", rowsProcessed = Some(r.rowsLoaded),
          rowsInserted = Some(r.rowsLoaded))
      case ((_, pid), Failure(e)) => logFailure(pid, e)
    }
  }

  /** Silver build from whichever bronze tables exist (per-source tolerance,
    * as the reference's partial-failure handling), with lineage. The builds
    * run concurrently (see the class doc). A failed build is logged and its
    * process closed FAILED; once every build has finished, the first failure
    * in build order is rethrown.
    */
  def runSilver(granularity: PartitionedFact.Granularity = PartitionedFact.Year): Unit = {
    def bronzeTable(t: String) = spark.read.parquet(s"$warehouseDir/bronze/$t")
    def exists(t: String) = {
      // Hadoop FileSystem so the check holds on HDFS/S3 (same policy as
      // LogStore.exists / Mutations.overwriteTable)
      val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/bronze/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    def write(clean: DataFrame => DataFrame): (DataFrame, String) => Unit = (bronze, name) =>
      clean(bronze).write.mode(SaveMode.Overwrite).parquet(s"$warehouseDir/silver/$name")
    // The sales fact is date-partitioned (the reference RANGE-partitions on
    // the creation date, ddl.py:199-206): date-bounded queries prune whole
    // partitions instead of scanning the fact table. The granularity knob
    // picks year (sane file counts at small SF) through month/day (the
    // 100 TB settings); incremental loads land via
    // PartitionedFact.mergeDelta, rewriting only touched partitions.
    val writeSales: (DataFrame, String) => Unit = (bronze, name) =>
      PartitionedFact.overwrite(Silver.cleanCrmSales(bronze),
        dateCol = "sls_order_dt", prefix = "order", g = granularity,
        path = s"$warehouseDir/silver/$name")
    val builds: Seq[(String, String, (DataFrame, String) => Unit)] = Seq(
      ("crm_customers_raw", "crm_customers", write(Silver.cleanCrmCustomers)),
      ("crm_products_raw", "crm_products", write(Silver.cleanCrmProducts)),
      ("crm_sales_raw", "crm_sales", writeSales),
      ("erp_customers_raw", "erp_customers", write(Silver.cleanErpCustomers)),
      ("erp_locations_raw", "erp_locations", write(Silver.cleanErpLocations))
    ).filter { case (bronzeName, _, _) => exists(bronzeName) }
    val pids = builds.map { case (_, name, _) =>
      processes.startProcess(s"silver_build_$name", "", None, Some("silver"))
    }
    concurrently(builds.zip(pids))({ case ((bronzeName, name, build), _) =>
      build(bronzeTable(bronzeName), name)
    }) {
      case (((bronzeName, name, _), pid), Success(_)) =>
        lineage.recordEdge("bronze", bronzeName, "silver", name, Some(pid), Some("cleansing"))
        processes.endProcess(pid, "SUCCESS")
      case ((_, pid), Failure(e)) => logFailure(pid, e)
    }.collectFirst { case Failure(e) => e }.foreach(e => throw e)
  }

  /** Gold KPIs from silver, with lineage. A failed build is logged, its
    * process closed FAILED, and the error rethrown.
    */
  def runGold(): Unit = {
    def silverTable(t: String) = spark.read.parquet(s"$warehouseDir/silver/$t")
    val pid = processes.startProcess("gold_build_customer_analytics", "", None, Some("gold"))
    try {
      Gold
        .customerAnalytics(silverTable("crm_customers"), silverTable("crm_sales"))
        .write.mode(SaveMode.Overwrite).parquet(s"$warehouseDir/gold/customer_analytics")
    } catch {
      case NonFatal(e) => logFailure(pid, e); throw e
    }
    lineage.recordEdge("silver", "crm_customers", "gold", "customer_analytics", Some(pid))
    lineage.recordEdge("silver", "crm_sales", "gold", "customer_analytics", Some(pid))
    processes.endProcess(pid, "SUCCESS")
  }

  /** Logs `e` against process `pid` and closes the process FAILED. */
  private def logFailure(pid: Long, e: Throwable): Unit = {
    errors.logException(e, Some(pid))
    processes.endProcess(pid, "FAILED", errorMessage = Some(e.getMessage))
  }

  /** Runs `run` on every step at once, one pool thread per step, and hands
    * each outcome to `settle` on the calling thread in step order, as that
    * step finishes; returns the outcomes in step order. The pool is created
    * here, by the caller, so its threads inherit the caller's Spark local
    * properties and active session; it is shut down and drained before this
    * returns or throws, so no step outlives the call.
    */
  private def concurrently[S, A](steps: Seq[S])(run: S => A)(settle: (S, Try[A]) => Unit): Seq[Try[A]] =
    if (steps.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(steps.size)
      try {
        val pending = steps.map(s => pool.submit(new Callable[A] { def call(): A = run(s) }))
        steps.zip(pending).map { case (s, f) =>
          val out = Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
          settle(s, out)
          out
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
}

/** CLI mirroring the reference's `main.py` flags:
  * --setup | --bronze [--source crm|erp|all] | --silver | --gold |
  * --full-pipeline | --monitor.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = args.toSet
    def argValue(name: String, default: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(default)

    val warehouseDir = argValue("--warehouse", "/tmp/graft-warehouse")
    val datasetsDir = argValue("--datasets", "/root/reference/datasets")
    val spark = GraftSession.local()
    if (flags("--verbose")) spark.sparkContext.setLogLevel("INFO")
    // --batch-size maps to the write-side file-size knob (Spark parallelizes
    // appends; the reference's per-commit chunking has no other analog)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", argValue("--batch-size", "0"))
    val orch = new SetupOrchestrator(spark, warehouseDir)

    if (flags("--setup") || flags("--full-pipeline")) {
      val results = orch.runCompleteSetup(
        samples = flags("--samples"),
        forceRecreate = flags("--force-recreate"))
      results.foreach(r => println(s"[setup] ${r.step}: ${if (r.ok) "OK" else "FAILED"} (${"%.2f".format(r.seconds)}s)"))
      if (results.exists(!_.ok)) sys.exit(1)
    }
    if (flags("--bronze") || flags("--full-pipeline")) {
      val res = orch.runBronze(datasetsDir, argValue("--source", "all"))
      res.foreach {
        case scala.util.Success(r) => println(s"[bronze] ${r.table}: ${r.rowsLoaded} rows (${r.batchId})")
        case scala.util.Failure(e) => println(s"[bronze] FAILED: ${e.getMessage}")
      }
    }
    if (flags("--silver") || flags("--full-pipeline")) {
      val granularity = argValue("--granularity", "year") match {
        case "day"   => PartitionedFact.Day
        case "month" => PartitionedFact.Month
        case "year"  => PartitionedFact.Year
        case other =>
          throw new IllegalArgumentException(
            s"--granularity must be year|month|day, got '$other'")
      }
      orch.runSilver(granularity); println("[silver] built")
    }
    if (flags("--gold") || flags("--full-pipeline")) { orch.runGold(); println("[gold] built") }
    if (flags("--monitor")) {
      orch.perf.summary().show(50, truncate = false)
      orch.processes.processHistory(30).show(50, truncate = false)
    }
    spark.stop()
  }
}
