package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.app.SetupOrchestrator
import graft.dml.{Mutations, Scd}
import graft.lineage.Lineage
import graft.medallion.PartitionedFact

/** One operation of a workload. `run` does the op's driver-side work (for a
  * query: building the DataFrame, including any eager side actions) and
  * returns the frame still to be materialized, if any.
  */
final case class Op(name: String, run: SparkSession => Option[DataFrame], oracle: Option[String] = None)

/** One timed pass: its wall, the JVM's JIT and GC time and the CPU steal
  * during it, and (traced) its workload-specific layer metrics.
  */
final case class PassRec(
    index: Int, traced: Boolean, wall: Double, jitMs: Long, gcMs: Long, stealPct: Double,
    layers: Map[String, Double])

/** Per-op record of one pass. */
final case class OpRun(
    pass: Int, timed: Boolean, traced: Boolean, name: String, wall: Double,
    error: Option[String], split: Option[OpSplit])

trait Workload {
  /** Ops of one pass, in the order the seed gives them. */
  def ops(passSeed: Long): Seq[Op]
  /** Untimed passes before the timed loop (the first is the verify pass). */
  def warmupPasses: Int
  /** Timed passes: at least `minPasses`, more while `--seconds` have not
    * passed, at most `maxPasses`.
    */
  def minPasses: Int
  def maxPasses: Int
  /** Parquet tables the workload's ops read. */
  def inputs: Seq[String]
  /** Set-up of a fresh session: resolve the input tables' schemas. */
  def prepare(spark: SparkSession, dataDir: String): Unit =
    inputs.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
  /** Untimed work before each pass (fresh output directories). */
  def beforePass(spark: SparkSession, pass: Int): Unit = ()
  /** The ops of the traced and untraced passes that measure tracing
    * overhead, run without `beforePass` after the timed passes; None for a
    * whole pass.
    */
  def overheadOps: Option[Seq[Op]] = None
  /** Rows the pass ingests, and the op names whose wall is the ingest and
    * the pipeline time (see README.md for what each workload counts).
    */
  def ingestRows: Long
  def ingestOps: Set[String]
  def pipelineOps: Set[String]
  /** Workload-specific per-layer metrics for one traced pass; every
    * workload reports all of `Workload.LayerNames` (0 where unused).
    */
  def layerMetrics(spark: SparkSession, runs: Seq[OpRun]): Map[String, Double] =
    Workload.LayerNames.map(_ -> 0.0).toMap
}

object Workload {
  val LayerNames = Seq("app.setup_s", "app.bronze_s", "app.silver_s", "app.gold_s", "bronze.rows",
    "io.output_mb", "io.output_files", "audit.rows_written", "audit.append_s", "audit.query_s",
    "lineage.trace_s", "dml.merge_s", "dml.scd2_s", "dml.merge_delta_s")
}

/** A read-only parquet workload: `SparkEntry.queries` entries over the
  * generated star schema, checked against their DuckDB oracles. Each pass
  * opens with `load_inputs`, a full scan of the workload's largest input
  * tables.
  */
final class QueryWorkload(
    names: Seq[String], val inputs: Seq[String], dataDir: String,
    ingestTables: Seq[String], val ingestRows: Long) extends Workload {
  val warmupPasses = 2
  val minPasses = 3
  val maxPasses = 8
  private val load = Op("load_inputs", s => {
    ingestTables.foreach(t => s.read.parquet(s"$dataDir/$t.parquet").write.format("noop").mode("overwrite").save())
    None
  })
  def ops(passSeed: Long): Seq[Op] =
    load +: new Random(passSeed).shuffle(names).map(q =>
      Op(q, s => Some(SparkEntry.queries(q)(s, dataDir)), SparkEntry.oracleSql.get(q)))
  val ingestOps = Set("load_inputs")
  val pipelineOps = Set("load_inputs")
}

/** The reference's write path: CSV → bronze → silver → gold through
  * `SetupOrchestrator`, audit and lineage reads, an incremental batch through
  * the DML layer, then the DML and streaming maintenance entries. Op order is
  * fixed by data dependencies; the seed drives the CSV generator.
  */
final class MedallionWorkload(
    csvDir: String, dataDir: String, workDir: String, val ingestRows: Long, seed: Long,
    entries: Seq[String]) extends Workload {
  val inputs = Seq("customer", "orders", "events")
  // a batch ETL job pays its cold start on every run: the one timed pass is
  // the run's first, on a cold JVM, and also the verify pass
  val warmupPasses = 0
  val minPasses = 1
  val maxPasses = 1
  private var wh = ""
  private var orch: SetupOrchestrator = _
  private var bronzeRows = 0L

  override def beforePass(spark: SparkSession, pass: Int): Unit = {
    // pass 0 is the verify pass: its warehouse is kept for the output checks
    wh = s"$workDir/warehouse/${if (pass == 0) "verify" else "pass"}"
    Bench.deleteTree(Paths.get(wh))
    orch = new SetupOrchestrator(spark, wh)
  }

  private def silver(s: SparkSession, t: String) = s.read.parquet(s"$wh/silver/$t")
  /** The incremental batch: every 7th customer (offset by the seed) changes
    * marital status a year after creation, plus 1 % new customers.
    */
  private def customerDelta(s: SparkSession): DataFrame = {
    val cur = silver(s, "crm_customers")
    val changed = cur.where((col("cst_id") + lit(seed)) % 7 === 0)
      .withColumn("cst_marital_status",
        when(col("cst_marital_status") === "Married", "Single").otherwise("Married"))
      .withColumn("cst_create_date", date_add(col("cst_create_date"), 365))
    val added = cur.where(col("cst_id") % 100 === 0)
      .withColumn("cst_id", col("cst_id") + 1000000L)
    changed.unionByName(added)
  }

  private def audited(opName: String, rows: Long): Unit = {
    val pid = orch.processes.startProcess(s"incremental_$opName", "benchmark incremental batch",
      Some("CRM"), Some("silver"))
    orch.perf.record(s"${opName}_rows", rows.toDouble, "rows", Some(pid))
    orch.lineage.recordEdge("silver", "crm_customers", "silver", s"crm_customers_$opName", Some(pid),
      Some(opName), Some(rows))
    orch.processes.endProcess(pid, "SUCCESS", rowsProcessed = Some(rows))
  }

  def ops(passSeed: Long): Seq[Op] = Seq(
    Op("app.setup", _ => {
      val failed = orch.runCompleteSetup(forceRecreate = true).filterNot(_.ok)
      require(failed.isEmpty, s"setup steps failed: ${failed.map(_.step).mkString(",")}")
      None
    }),
    Op("app.bronze", _ => {
      val res = orch.runBronze(csvDir)
      res.collect { case scala.util.Failure(e) => throw e }
      bronzeRows = res.map(_.get.rowsLoaded).sum
      None
    }),
    Op("app.silver", _ => { orch.runSilver(); None }),
    Op("app.gold", _ => { orch.runGold(); None }),
    Op("audit.summary", _ => Some(orch.perf.summary())),
    Op("lineage.impact", _ => {
      val edges = orch.lineage.edges()
      Some(Lineage.impact(edges, "src", "dst",
        edges.select(col("src").as("seed")).where(col("src").startsWith("source.")).distinct(), "seed"))
    }),
    Op("dml.merge", s => {
      val m = Mutations.merge(silver(s, "crm_customers"), customerDelta(s), Seq("cst_id"))
      Mutations.overwriteTable(s, m.merged, s"$wh/silver/crm_customers_merged")
      None
    }),
    Op("dml.upsert", s => {
      Mutations.overwriteTable(s, Mutations.upsert(silver(s, "crm_customers"), customerDelta(s),
        Seq("cst_id")), s"$wh/silver/crm_customers_upserted")
      None
    }),
    Op("audit.append", s => { audited("merge", customerDelta(s).count()); None }),
    Op("dml.scd2", s => {
      def states(df: DataFrame) = df.select(col("cst_id"), col("cst_create_date").cast("timestamp").as("ts"),
        col("cst_marital_status"), col("cst_key"))
      Scd.scd2Build(states(silver(s, "crm_customers")), "cst_id", "ts", "cst_marital_status", Seq("cst_key"))
        .write.mode("overwrite").parquet(s"$wh/silver/customer_status_scd2")
      Some(Scd.scd2Apply(s.read.parquet(s"$wh/silver/customer_status_scd2"),
        states(customerDelta(s).where(col("cst_id") < 1000000L)),
        "cst_id", "ts", "cst_marital_status", Seq("cst_key")))
    }),
    Op("dml.merge_delta", s => {
      val sales = silver(s, "crm_sales")
      val delta = sales.where(col("sls_order_dt").isNotNull &&
          pmod(xxhash64(col("sls_ord_num"), col("sls_prd_key"), lit(seed)), lit(20L)) === 0)
        .withColumn("sls_quantity", col("sls_quantity") * 2)
        .withColumn("sls_sales", col("sls_sales") * 2)
        .drop(PartitionedFact.partitionColumns("order", PartitionedFact.Year): _*)
      PartitionedFact.mergeDelta(s, s"$wh/silver/crm_sales", delta,
        Seq("sls_ord_num", "sls_prd_key"), "sls_order_dt", "order", PartitionedFact.Year)
      None
    })) ++ entries.map(q => Op(q, s => Some(SparkEntry.queries(q)(s, dataDir)), SparkEntry.oracleSql.get(q)))

  // two more warm passes of the whole pipeline would make a traced run too
  // long, so overhead is measured on the ops that leave the warehouse as the
  // verify pass built it
  override def overheadOps: Option[Seq[Op]] = Some(ops(0L).filter(o =>
    o.name == "audit.summary" || o.name == "lineage.impact" || entries.contains(o.name)))

  val ingestOps = Set("app.bronze")
  val pipelineOps = Set("app.setup", "app.bronze", "app.silver", "app.gold")

  override def layerMetrics(spark: SparkSession, runs: Seq[OpRun]): Map[String, Double] = {
    def wall(p: String => Boolean) = runs.filter(r => p(r.name)).map(_.wall).sum
    val logs = Seq("process_log", "performance_metrics", "data_lineage", "error_log")
      .map(t => s"$wh/logs/$t").filter(p => Files.exists(Paths.get(p)))
    val auditRows = logs.map(p => spark.read.parquet(p).count()).sum
    val files = Bench.walkFiles(Paths.get(wh)).filter(_.getFileName.toString.endsWith(".parquet"))
    Map(
      "app.setup_s" -> wall(_ == "app.setup"),
      "app.bronze_s" -> wall(_ == "app.bronze"),
      "app.silver_s" -> wall(_ == "app.silver"),
      "app.gold_s" -> wall(_ == "app.gold"),
      "bronze.rows" -> bronzeRows.toDouble,
      "io.output_mb" -> files.map(Files.size(_)).sum / 1e6,
      "io.output_files" -> files.size.toDouble,
      "audit.rows_written" -> auditRows.toDouble,
      "audit.append_s" -> wall(_ == "audit.append"),
      "audit.query_s" -> wall(n => n.startsWith("audit.") && n != "audit.append"),
      "lineage.trace_s" -> wall(_.startsWith("lineage.")),
      "dml.merge_s" -> wall(n => n == "dml.merge" || n == "dml.upsert"),
      "dml.scd2_s" -> wall(_ == "dml.scd2"),
      "dml.merge_delta_s" -> wall(_ == "dml.merge_delta"))
  }
}

object Bench {
  val Warehouse = Seq(
    "q02_filter_sort_limit", "q04_left_join_customer_orders", "q05_exists_open_orders",
    "q07_having_supplier_volume", "q17_dedup_latest", "q20_percentiles", "q237_correlated_subquery")
  val MedallionEntries = Seq("q22_incremental_load", "q49_batch_update", "q123_streaming_bronze_ingest")
  val Setups = 5

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def walkFiles(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val walk = Files.walk(p)
    try { val b = mutable.ArrayBuffer.empty[Path]; walk.filter(Files.isRegularFile(_)).forEach(f => b += f); b.toSeq }
    finally walk.close()
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat: steal is time the
    * hypervisor ran someone else on this machine's CPUs, a noisy-host sign.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally src.close()
  }

  private def arg(args: Array[String], k: String): String =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val dataDir = arg(args, "--data")
    val workDir = arg(args, "--work")
    val ingestRows = arg(args, "--ingest-rows").toLong
    val ingestTables = arg(args, "--ingest-tables").split(",").toSeq.filter(_.nonEmpty)
    val cores = Runtime.getRuntime.availableProcessors
    val cpuStart = cpuTicks()
    val workload: Workload = workloadName match {
      case "warehouse_sql" => new QueryWorkload(Warehouse,
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"), dataDir, ingestTables, ingestRows)
      case "medallion_etl" =>
        new MedallionWorkload(arg(args, "--csv"), dataDir, workDir, ingestRows, seed, MedallionEntries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val verifyDir = s"$workDir/verify"
    deleteTree(Paths.get(verifyDir))
    Files.createDirectories(Paths.get(verifyDir))

    val runs = mutable.ArrayBuffer.empty[OpRun]
    val tracer = new Tracer
    var opId = 0
    var spark: SparkSession = null
    var cachePeak = 0.0
    var passLayers = Map.empty[String, Double]
    val passSeeds = new Random(seed)

    /** One pass over the workload's ops, or over `only` without
      * `beforePass`. The verify pass writes each checked result as parquet;
      * every other pass materializes through `noop`.
      */
    def pass(index: Int, timed: Boolean, traceOn: Boolean, only: Option[Seq[Op]] = None): Double = {
      val verify = index == 0
      val passSeed = passSeeds.nextLong()
      val ops = only.getOrElse { workload.beforePass(spark, index); workload.ops(passSeed) }
      val sc = spark.sparkContext
      if (traceOn) tracer.listeners.attach(spark)
      var total = 0.0
      val passRuns = mutable.ArrayBuffer.empty[OpRun]
      ops.foreach { op =>
        BusDrain.drain(sc)
        if (traceOn) tracer.begin()
        opId += 1
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        val error = try {
          val df = op.run(spark)
          t1 = System.nanoTime()
          if (traceOn) df.foreach(d => tracer.frame(d.queryExecution))
          df.foreach { d =>
            if (verify && op.oracle.isDefined) d.write.mode("overwrite").parquet(s"$verifyDir/${op.name}")
            else d.write.format("noop").mode("overwrite").save()
          }
          None
        } catch {
          case NonFatal(e) =>
            if (t1 == t0) t1 = System.nanoTime()
            Some(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
        }
        val t2 = System.nanoTime()
        val endMs = System.currentTimeMillis()
        val buildEndMs = startMs + (t1 - t0) / 1000000L
        val wall = (t2 - t0) / 1e9
        total += wall
        Console.err.println(f"[perfbench] pass $index%d ${op.name} $wall%.3f s${error.fold("")(e => s" FAILED $e")}")
        BusDrain.drain(sc)
        val split =
          if (traceOn) Some(tracer.end(opId, op.name, startMs, buildEndMs, endMs, wall,
            (t1 - t0) / 1e9, (t2 - t1) / 1e9))
          else None
        val cacheMb = if (traceOn) {
          sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6
        } else 0.0
        if (traceOn) cachePeak = math.max(cachePeak, cacheMb)
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        graft.queries.Pipeline.reapScratch()
        passRuns += OpRun(index, timed, traceOn, op.name, wall, error, split)
      }
      if (traceOn) {
        tracer.listeners.detach(spark)
        passLayers = workload.layerMetrics(spark, passRuns.toSeq) ++ Map("cache.peak_mb" -> cachePeak)
        cachePeak = 0.0
      }
      runs ++= passRuns
      total
    }
    // set-up, several times: a fresh session with the inputs resolved;
    // setup_s is the median
    val setups = (0 until Setups).map { _ =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val cpu0 = cpuTicks()
      val t0 = System.nanoTime()
      spark = graft.core.GraftSession.local(cores, cores)
      workload.prepare(spark, dataDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu1 = cpuTicks()
      (wall, 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2))
    }
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs = { var s = 0L; gcs.forEach(g => s += math.max(0L, g.getCollectionTime)); s }
    val timedPasses = mutable.ArrayBuffer.empty[PassRec]
    def timedPass(p: Int, traceOn: Boolean, only: Option[Seq[Op]] = None): PassRec = {
      System.gc() // untimed: no pass inherits another's garbage
      val (jit0, gc0, cpu0) = (jit.getTotalCompilationTime, gcMs, cpuTicks())
      val w = pass(p, timed = true, traceOn = traceOn, only)
      val cpu1 = cpuTicks()
      val rec = PassRec(p, traceOn, w, jit.getTotalCompilationTime - jit0, gcMs - gc0,
        100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2),
        if (traceOn) passLayers else Map.empty)
      timedPasses += rec
      rec
    }
    // untimed warm-up passes. The run's first pass, on a cold JVM, is the
    // verify pass and its wall is `setup.warmup_s`; a workload without
    // warm-up passes times it
    (0 until workload.warmupPasses).foreach(p => pass(p, timed = false, traceOn = false))
    // the timed closed loop: whole passes, at least `minPasses`, until
    // `seconds` have elapsed, up to `maxPasses`; every timed pass of a
    // traced run is traced
    val loopStart = System.nanoTime()
    var p = workload.warmupPasses
    while (timedPasses.size < workload.minPasses ||
        (timedPasses.size < workload.maxPasses && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      timedPass(p, traced)
      p += 1
    }
    val measured = timedPasses.toSeq
    val warmup = runs.filter(_.pass == 0).map(_.wall).sum
    // a traced run ends with a traced and then an untraced warm pass: the
    // difference is the tracing overhead, if anything overstated, as the
    // JIT still warming favours the later pass
    val overhead = if (!traced) 0.0 else {
      val tracedWall = timedPass(p, traceOn = true, workload.overheadOps).wall
      tracedWall - timedPass(p + 1, traceOn = false, workload.overheadOps).wall
    }
    spark.stop()
    val cpuEnd = cpuTicks()
    // VmHWM: the JVM's peak resident set over the whole run
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

    val measuredIdx = measured.map(_.index).toSet
    val timedRuns = runs.filter(r => measuredIdx(r.pass)).toSeq
    val out = new StringBuilder
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    // failed ops are counted in ops_ok_ratio, not as latencies
    val lat = timedRuns.filter(_.error.isEmpty).map(_.wall).sorted
    // tail: the highest percentile with at least 10 timed ops beyond it;
    // below 21 timed ops no percentile above the median qualifies, and the
    // slowest op is reported instead
    val tailIdx = if (lat.size >= 21) lat.size - 11 else lat.size - 1
    val perPassByName = (names: Set[String]) =>
      timedRuns.groupBy(_.pass).values.map(_.filter(r => names(r.name)).map(_.wall).sum).toSeq
    val ingestWall = median(perPassByName(workload.ingestOps))
    val e2e = Map(
      "setup_s" -> median(setups.map(_._1)),
      "wall_s" -> median(measured.map(_.wall)),
      "op_p50_s" -> median(lat),
      "op_tail_s" -> (if (lat.isEmpty) 0.0 else lat(tailIdx)),
      "ingest_rows_per_s" -> (if (ingestWall > 0) workload.ingestRows / ingestWall else 0.0),
      "pipeline_s" -> median(perPassByName(workload.pipelineOps)),
      "peak_rss_mb" -> peakRssMb)
    val tailPct = if (lat.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / lat.size

    // per-layer: per traced pass totals, median over traced passes
    val layer: Map[String, Double] = if (!traced) Map.empty else {
      val perPass = measured.map { pr =>
          val sp = timedRuns.filter(_.pass == pr.index).flatMap(_.split)
          def sum(f: OpSplit => Double) = sp.map(f).sum
          val wallSum = sum(_.wall)
          Map(
            "queries.build_s" -> sum(_.build), "queries.action_s" -> sum(_.action),
            "queries.eager_jobs" -> sum(_.eagerJobs.toDouble),
            "plan.analysis_s" -> sum(_.analysis), "plan.optimization_s" -> sum(_.optimization),
            "plan.planning_s" -> sum(_.planning), "plan.executions" -> sum(_.executions.toDouble),
            "codegen.compile_s" -> sum(_.codegen), "codegen.compiles" -> sum(_.compiles.toDouble),
            "scheduler.jobs" -> sum(_.jobCount.toDouble), "scheduler.stages" -> sum(_.stages.toDouble),
            "scheduler.tasks" -> sum(_.tasks.toDouble),
            "scheduler.first_task_wait_s" -> sum(_.firstTaskWait), "scheduler.job_idle_s" -> sum(_.jobIdle),
            "executor.run_s" -> sum(_.runS), "executor.cpu_s" -> sum(_.cpuS), "executor.gc_s" -> sum(_.gcS),
            "executor.busy_ratio" -> (if (wallSum > 0) sum(_.runS) / (cores * wallSum) else 0.0),
            "shuffle.write_mb" -> sum(_.shuffleWriteMb), "shuffle.read_mb" -> sum(_.shuffleReadMb),
            "shuffle.fetch_wait_s" -> sum(_.fetchWaitS), "spill.mb" -> sum(_.spillMb),
            "streaming.batches" -> sum(_.batches.toDouble), "streaming.trigger_s" -> sum(_.triggerS),
            "streaming.wal_commit_s" -> sum(_.walS), "streaming.planning_s" -> sum(_.streamPlanS),
            "jvm.jit_s" -> pr.jitMs / 1000.0, "jvm.gc_s" -> pr.gcMs / 1000.0,
            "driver.untracked_s" -> sum(_.untracked), "driver.jobs_s" -> sum(_.jobs),
            "driver.plan_s" -> sum(_.plan), "setup.warmup_s" -> warmup,
            "trace.reconcile_max_err_s" -> sp.map(_.reconcileErr).foldLeft(0.0)(math.max),
            "trace.reconcile_violations" ->
              sp.count(s => s.reconcileErr > Bench.ReconcileAbsS + Bench.ReconcileRel * s.wall).toDouble
          ) ++ pr.layers
      }
      val keys = perPass.flatMap(_.keys).distinct
      keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap + ("trace.overhead_s" -> overhead)
    }

    out ++= "{"
    out ++= s""""workload": ${str(workloadName)}, "seed": $seed, "traced": $traced, "cores": $cores, """
    out ++= s""""spark_version": ${str(org.apache.spark.SPARK_VERSION)}, "java_version": ${str(System.getProperty("java.version"))}, """
    out ++= s""""tail_percentile": ${num(tailPct)}, "timed_ops": ${lat.size}, "timed_passes": ${timedPasses.size}, """
    out ++= s""""measured_steal_pct": ${num(measured.map(_.stealPct).max)}, """
    out ++= s""""steal_pct": ${num(100.0 * (cpuEnd._1 - cpuStart._1) / math.max(1L, cpuEnd._2 - cpuStart._2))}, """
    out ++= s""""setup_walls": [${setups.map { case (w, st) => s"""{"wall": ${num(w)}, "steal_pct": ${num(st)}}""" }.mkString(", ")}], """
    out ++= s""""pass_walls": [${timedPasses.map(w => s"""{"pass": ${w.index}, "measured": ${measuredIdx(w.index)}, "traced": ${w.traced}, "wall": ${num(w.wall)}, "steal_pct": ${num(w.stealPct)}}""").mkString(", ")}], """
    out ++= s""""e2e": {${e2e.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}}, """
    out ++= s""""layers": {${layer.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}}, """
    out ++= s""""oracles": {${workload.ops(0L).flatMap(o => o.oracle.map(q => s"${str(o.name)}: ${str(q)}")).mkString(", ")}}, """
    out ++= s""""ops": [${runs.map(r => s"""{"pass": ${r.pass}, "timed": ${r.timed}, "traced": ${r.traced}, "name": ${str(r.name)}, "wall": ${num(r.wall)}, "reconcile_err": ${r.split.map(x => num(x.reconcileErr)).getOrElse("null")}, "error": ${r.error.map(str).getOrElse("null")}}""").mkString(", ")}]"""
    out ++= "}"
    Files.writeString(Paths.get(s"$workDir/result.json"), out.toString)
    if (traced) {
      val sb = new StringBuilder
      tracer.spans.foreach(s => sb ++= s"""{"op": ${s.op}, "kind": ${str(s.kind)}, "name": ${str(s.name)}, "parent": ${str(s.parent)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}\n""")
      Files.writeString(Paths.get(s"$workDir/trace_spans.jsonl"), sb.toString)
    }
  }

  /** Reconcile tolerance of an op's layer split against its wall. */
  val ReconcileAbsS = 0.005
  val ReconcileRel = 0.02
}
