package graft.audit

import java.io.IOException
import java.sql.Timestamp
import java.util.UUID

import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.Analytics

/** Observability subsystem — Spark-native form of the reference's `logs/`
  * package: process audit, error logging with retry/backoff, performance
  * metrics, configuration audit, lineage edge tracking
  * (`logs/audit_logger.py`, `logs/error_handler.py`,
  * `logs/performance_monitor.py`, `logs/data_lineage.py`;
  * ORM schemas `models/logs_models.py:58-305`).
  *
  * Mutation strategy (SURVEY §7.5-1): PostgreSQL UPDATEs (end_process,
  * mark_error_resolved) become an append-only event log; the "current" state
  * is a latest-wins view (`row_number` dedup by id on the event sequence).
  * Frequent tiny audit updates therefore never rewrite the table — at scale
  * an append of one row beats rewriting a 100 TB log.
  */
final case class ProcessLog(
    log_id: Long,
    process_name: String,
    process_description: String,
    start_time: Timestamp,
    end_time: Option[Timestamp],
    status: String, // RUNNING | SUCCESS | FAILED | CANCELLED
    rows_processed: Option[Long],
    rows_inserted: Option[Long],
    rows_updated: Option[Long],
    rows_deleted: Option[Long],
    source_system: Option[String],
    target_layer: Option[String],
    error_message: Option[String],
    created_by: String)

final case class ErrorLog(
    error_id: Long,
    process_log_id: Option[Long],
    error_timestamp: Timestamp,
    error_level: String, // DEBUG..CRITICAL
    error_code: String,
    error_message: String,
    error_detail: Option[String],
    table_name: Option[String],
    recovery_suggestion: Option[String],
    is_resolved: Boolean,
    resolved_by: Option[String],
    resolved_timestamp: Option[Timestamp])

final case class DataLineageEdge(
    lineage_id: Long,
    process_log_id: Option[Long],
    source_schema: String,
    source_table: String,
    target_schema: String,
    target_table: String,
    transformation_logic: Option[String],
    record_count: Option[Long],
    created_timestamp: Timestamp)

final case class PerformanceMetric(
    metric_id: Long,
    process_log_id: Option[Long],
    metric_name: String,
    metric_value: Double,
    metric_unit: String,
    measurement_timestamp: Timestamp)

final case class ConfigurationLog(
    config_log_id: Long,
    config_key: String,
    old_value: Option[String],
    new_value: String,
    change_reason: Option[String],
    changed_by: String,
    change_timestamp: Timestamp,
    environment: String)

/** Injectable clock (SURVEY §7.5-5: deterministic tests need stable times). */
trait Clock { def now(): Timestamp }
object SystemClock extends Clock {
  def now(): Timestamp = new Timestamp(System.currentTimeMillis())
}

/** Append-only parquet store per log table with a latest-wins current view.
  * Id assignment is max-existing+1 — single-writer, as the reference's DB
  * sequences effectively are (SURVEY §7.5-4).
  *
  * The five log tables have fixed schemas (their case class plus
  * `_event_seq`): reads pass the schema instead of inferring it from parquet
  * footers, and a table with no events yet reads as an empty frame of that
  * schema, so lookups on an empty store fail with "not found", not with an
  * unresolved column.
  *
  * Writes: each event batch is one parquet file that the driver writes
  * through Spark's own parquet writer, the one a write job's task uses, so
  * codec, timestamp type and footers follow the session conf as they would
  * in a job. No plan, job or file committer runs: an audit row costs a few
  * milliseconds, not a distributed job.
  *
  * Open-row memo: [[appendRow]] remembers the last version this store
  * appended of each row that is still open (a RUNNING process, an unresolved
  * error), and [[latest]] returns it without a scan. The entry is dropped
  * when the row's version is closed (a terminal status, a resolution), so the
  * memo holds only open rows. A miss — a row closed before, a store restarted
  * over an existing log, an id another store appended — falls back to a scan
  * of [[current]]. The memo rests on the same single-writer assumption as
  * the id and `_event_seq` counters: a version another writer appends to the
  * same directory is not seen by this store's memo.
  */
final class LogStore(val spark: SparkSession, dir: String) {

  private def path(table: String) = s"$dir/logs/$table"

  private val schemas: Map[String, StructType] = Seq(
    "process_log" -> Encoders.product[ProcessLog].schema,
    "error_log" -> Encoders.product[ErrorLog].schema,
    "data_lineage" -> Encoders.product[DataLineageEdge].schema,
    "performance_metrics" -> Encoders.product[PerformanceMetric].schema,
    "configuration_log" -> Encoders.product[ConfigurationLog].schema
  ).map { case (t, s) =>
    // nullable throughout, as a parquet read reports every column
    t -> StructType(s.add("_event_seq", LongType).map(_.copy(nullable = true)))
  }.toMap

  // One counter per (table, column), seeded lazily from that column's
  // persisted max, then counting in memory: the id of each log table and
  // every table's `_event_seq` alike. Seeding from the persisted max keeps a
  // new LogStore over an existing event log monotonic: without it, an update
  // appended after a restart would sort BELOW older events and the
  // latest-wins current() view would silently return stale state. Per
  // table, because one shared counter would seed from whichever table is
  // appended first and could hand other tables values below their own max.
  // Counting in memory means an id or an append never launches a max-scan
  // job (its cost grows with the log; the counter's does not).
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.util.concurrent.atomic.AtomicLong]()

  private def counter(table: String, column: String): java.util.concurrent.atomic.AtomicLong = {
    // the seed read is a Spark job — run it OUTSIDE computeIfAbsent so the
    // map's bin lock is never held across a distributed action (a concurrent
    // duplicate seed read is harmless: both compute the same max, one wins)
    val key = (table, column)
    val existing = counters.get(key)
    if (existing != null) existing
    else {
      val start =
        if (!exists(table)) 0L
        else {
          val r = events(table).agg(max(col(column))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      counters.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong(start))
    }
  }

  // One parquet writer factory per table, built on the table's first append
  // from the session conf, as a write job builds it. Each table has its own
  // Hadoop Job: prepareWrite stores the row schema in the job's conf, and a
  // conf shared by two tables would hand the later one the other's schema.
  private val writers =
    new java.util.concurrent.ConcurrentHashMap[String, (OutputWriterFactory, TaskAttemptContext)]()

  private def writerFor(table: String): (OutputWriterFactory, TaskAttemptContext) =
    writers.computeIfAbsent(table, t => {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schemas(t))
      val attempt = new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)
      (factory, new TaskAttemptContextImpl(job.getConfiguration, attempt))
    })

  /** Appends `rows` as one event batch: one parquet file, every row stamped
    * with the batch's `_event_seq`. The driver writes the file itself (no
    * Spark job) under a hidden name, which file listings skip, and renames
    * it into place; a failed write leaves no visible file and throws naming
    * the table.
    */
  def appendEvents[T <: Product: Encoder](table: String, rows: Seq[T]): Unit = {
    val (factory, ctx) = writerFor(table)
    val seq = new GenericInternalRow(Array[Any](counter(table, "_event_seq").incrementAndGet()))
    // the serializer reuses its output row: one per call, never shared
    val toRow = encoderFor[T].createSerializer()
    val dir = new Path(path(table))
    val name = s"part-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val tmp = new Path(dir, s".$name.tmp")
    val fs = dir.getFileSystem(ctx.getConfiguration)
    try {
      val out = factory.newInstance(tmp.toString, schemas(table), ctx)
      try rows.foreach(r => out.write(new JoinedRow(toRow(r), seq)))
      finally out.close()
      if (!fs.rename(tmp, new Path(dir, name))) throw new IOException(s"cannot rename $tmp to $name")
    } catch {
      case NonFatal(e) =>
        try fs.delete(tmp, false) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw new IOException(s"append to log table $table failed: ${e.getMessage}", e)
    }
  }

  def exists(table: String): Boolean = {
    // Hadoop FileSystem, not java.io.File: the store must behave the same on
    // HDFS/S3 as on the local filesystem (same policy as
    // Mutations.overwriteTable and PartitionedFact.mergeDelta)
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Every event of `table`; a log table with no events yet reads as an
    * empty frame of its schema.
    */
  def events(table: String): DataFrame =
    if (!exists(table)) spark.createDataFrame(java.util.Collections.emptyList[Row](), schemas(table))
    else spark.read.schema(schemas(table)).parquet(path(table))

  /** Latest-wins state per id. */
  def current(table: String, idCol: String): DataFrame =
    Analytics
      .dedupLatest(events(table), Seq(col(idCol)), Seq(col("_event_seq")))
      .drop("_event_seq")

  private val openRows = new java.util.concurrent.ConcurrentHashMap[(String, Long), Product]()

  /** Appends one version of row `id` and keeps it in the open-row memo while
    * `open`; a closed version drops the row's entry.
    */
  private[audit] def appendRow[T <: Product: Encoder](table: String, id: Long, row: T, open: Boolean): Unit = {
    appendEvents(table, Seq(row))
    if (open) openRows.put((table, id), row) else openRows.remove((table, id))
  }

  /** The latest version of row `id`: the memo's when this store appended it
    * and it is still open, else the scan of the current view's row. A stale
    * or wrong id fails naming it ("`label` with ID n not found"), not with an
    * opaque NoSuchElementException.
    */
  private[audit] def latest[T <: Product: Encoder: ClassTag](
      table: String, idCol: String, id: Long, label: String): T = {
    val hit = openRows.get((table, id)) match {
      case row: T => Some(row)
      case _ => current(table, idCol).where(col(idCol) === id).as[T].collect().headOption
    }
    require(hit.nonEmpty, s"$label with ID $id not found")
    hit.get
  }

  def nextId(table: String, idCol: String): Long = counter(table, idCol).incrementAndGet()
}

/** Process lifecycle logging (reference `logs/audit_logger.py:188-399`). */
final class ProcessLogger(store: LogStore, clock: Clock = SystemClock) {
  import store.spark.implicits._
  private val table = "process_log"

  def startProcess(
      name: String,
      description: String = "",
      sourceSystem: Option[String] = None,
      targetLayer: Option[String] = None,
      createdBy: String = "system"): Long = {
    val id = store.nextId(table, "log_id")
    append(ProcessLog(id, name, description, clock.now(), None, "RUNNING",
      None, None, None, None, sourceSystem, targetLayer, None, createdBy))
    id
  }

  private def append(row: ProcessLog): Unit =
    store.appendRow(table, row.log_id, row, open = row.status == "RUNNING")

  def endProcess(
      id: Long,
      status: String,
      rowsProcessed: Option[Long] = None,
      rowsInserted: Option[Long] = None,
      rowsUpdated: Option[Long] = None,
      rowsDeleted: Option[Long] = None,
      errorMessage: Option[String] = None): Unit = {
    val cur = store.latest[ProcessLog](table, "log_id", id, "Process log")
    append(cur.copy(
      end_time = Some(clock.now()),
      status = status,
      rows_processed = rowsProcessed.orElse(cur.rows_processed),
      rows_inserted = rowsInserted.orElse(cur.rows_inserted),
      rows_updated = rowsUpdated.orElse(cur.rows_updated),
      rows_deleted = rowsDeleted.orElse(cur.rows_deleted),
      error_message = errorMessage.orElse(cur.error_message)))
  }

  /** Mid-run progress counters on a RUNNING process row
    * (audit_logger.py:277-313): appends a new event-sourced version with the
    * given counters merged in, leaving status/end_time untouched — so a
    * long-running load that later crashes still shows how far it got.
    * Throws when `id` is unknown, like the reference.
    */
  def updateProcessMetrics(
      id: Long,
      rowsProcessed: Option[Long] = None,
      rowsInserted: Option[Long] = None,
      rowsUpdated: Option[Long] = None,
      rowsDeleted: Option[Long] = None): Unit = {
    val cur = store.latest[ProcessLog](table, "log_id", id, "Process log")
    append(cur.copy(
      rows_processed = rowsProcessed.orElse(cur.rows_processed),
      rows_inserted = rowsInserted.orElse(cur.rows_inserted),
      rows_updated = rowsUpdated.orElse(cur.rows_updated),
      rows_deleted = rowsDeleted.orElse(cur.rows_deleted)))
  }

  def activeProcesses(): DataFrame =
    store.current(table, "log_id").where(col("status") === "RUNNING")

  /** History with derived duration (audit_logger.py:331-399); `statusFilter`
    * is the reference's `status=` arg ("show me FAILED runs this week",
    * audit_logger.py:348,371).
    */
  def processHistory(
      days: Int,
      nameFilter: Option[String] = None,
      statusFilter: Option[String] = None): DataFrame = {
    val base = store.current(table, "log_id")
      .where(col("start_time") >= date_sub(current_timestamp(), days))
      .withColumn(
        "duration_seconds",
        unix_timestamp(col("end_time")) - unix_timestamp(col("start_time")))
    val named = nameFilter.fold(base)(n => base.where(col("process_name") === n))
    statusFilter.fold(named)(st => named.where(col("status") === st))
      .orderBy(col("start_time").desc)
  }
}

/** Error logging + recovery (reference `logs/error_handler.py:185-483`). */
final class ErrorLogger(store: LogStore, clock: Clock = SystemClock) {
  import store.spark.implicits._
  private val table = "error_log"

  def logError(
      level: String,
      code: String,
      message: String,
      processLogId: Option[Long] = None,
      detail: Option[String] = None,
      tableName: Option[String] = None,
      recovery: Option[String] = None): Long = {
    val id = store.nextId(table, "error_id")
    store.appendRow(table, id, ErrorLog(id, processLogId, clock.now(), level, code, message,
      detail, tableName, recovery, is_resolved = false, None, None), open = true)
    id
  }

  def logException(e: Throwable, processLogId: Option[Long] = None): Long =
    logError(
      "ERROR",
      e.getClass.getSimpleName,
      Option(e.getMessage).getOrElse(""),
      processLogId,
      detail = Some(e.getStackTrace.take(5).mkString("\n")))

  def markResolved(id: Long, by: String, notes: Option[String] = None): Unit = {
    val cur = store.latest[ErrorLog](table, "error_id", id, "Error log")
    store.appendRow(table, id, cur.copy(
      is_resolved = true,
      resolved_by = Some(by),
      resolved_timestamp = Some(clock.now()),
      error_detail = notes.map(n => cur.error_detail.fold(n)(_ + "\n" + n)).orElse(cur.error_detail)),
      open = false)
  }

  def unresolvedErrors(): DataFrame =
    store.current(table, "error_id").where(!col("is_resolved"))
}

/** Retry with exponential backoff, logging each attempt
  * (reference `logs/error_handler.py:408-483`).
  */
object Retry {
  def withBackoff[T](
      errors: ErrorLogger,
      maxRetries: Int = 3,
      baseDelayMs: Long = 1000,
      multiplier: Double = 2.0,
      sleeper: Long => Unit = Thread.sleep)(f: => T): T = {
    var attempt = 0
    var delay = baseDelayMs.toDouble
    while (true) {
      try return f
      catch {
        case e: Throwable =>
          attempt += 1
          if (attempt > maxRetries) {
            errors.logError("ERROR", "RETRY_EXHAUSTED",
              s"failed after $maxRetries retries: ${e.getMessage}")
            throw e
          }
          errors.logError("WARNING", "RETRY",
            s"attempt $attempt failed: ${e.getMessage}; retrying in ${delay.toLong} ms")
          sleeper(delay.toLong)
          delay *= multiplier
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Performance metrics + timing (reference `logs/performance_monitor.py`). */
final class PerformanceMonitor(store: LogStore, clock: Clock = SystemClock) {
  import store.spark.implicits._
  private val table = "performance_metrics"

  def record(
      name: String,
      value: Double,
      unit: String,
      processLogId: Option[Long] = None): Unit =
    recordAll(Seq((name, value, unit)), processLogId)

  /** Records `(name, value, unit)` metrics as one event batch: one file,
    * one `metric_id` per metric, one measurement time.
    */
  def recordAll(metrics: Seq[(String, Double, String)], processLogId: Option[Long] = None): Unit = {
    val now = clock.now()
    store.appendEvents(table, metrics.map { case (name, value, unit) =>
      PerformanceMetric(store.nextId(table, "metric_id"), processLogId, name, value, unit, now)
    })
  }

  /** Loan-pattern timer: records `<name>_execution_time` in seconds. */
  def timed[T](name: String, processLogId: Option[Long] = None)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally record(s"${name}_execution_time", (System.nanoTime() - t0) / 1e9, "sec", processLogId)
  }

  /** Per-metric summary stats (performance_monitor.py:409-425). */
  def summary(): DataFrame =
    store.events(table)
      .groupBy(col("metric_name"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("metric_value")).as("avg_value"),
        min(col("metric_value")).as("min_value"),
        max(col("metric_value")).as("max_value"),
        stddev(col("metric_value")).as("stddev_value"))

  /** 95th-percentile bottleneck thresholds (performance_monitor.py:556-593). */
  def bottleneckThresholds(): DataFrame =
    store.events(table)
      .groupBy(col("metric_name"))
      .agg(expr("percentile(metric_value, 0.95)").as("p95"),
        expr("percentile(metric_value, 0.05)").as("p05"))

  /** Daily throughput over the process log (performance_monitor.py:470-497):
    * per-day process counts, row totals, average duration, and derived
    * rows/sec with the reference's zero-duration guard.
    */
  def dailyThroughput(processes: DataFrame): DataFrame =
    processes
      .where(col("end_time").isNotNull)
      .groupBy(to_date(col("start_time")).as("run_date"))
      .agg(
        count(lit(1)).as("n_processes"),
        sum(col("rows_processed")).as("total_rows"),
        avg(col("rows_processed")).as("avg_rows"),
        avg(unix_timestamp(col("end_time")) - unix_timestamp(col("start_time")))
          .as("avg_duration_sec"))
      .withColumn(
        "rows_per_second",
        when(col("avg_duration_sec") > 0,
          col("total_rows").cast("double") / (col("avg_duration_sec") * col("n_processes")))
          .otherwise(0.0))
      .orderBy(col("run_date"))
}

/** Configuration-change audit (reference `logs/audit_logger.py:473-569`). */
final class ConfigurationLogger(store: LogStore, clock: Clock = SystemClock) {
  import store.spark.implicits._
  private val table = "configuration_log"

  def logChange(
      key: String,
      oldValue: Option[String],
      newValue: String,
      reason: Option[String] = None,
      by: String = "system",
      environment: String = "dev"): Unit = {
    val id = store.nextId(table, "config_log_id")
    store.appendEvents(table,
      Seq(ConfigurationLog(id, key, oldValue, newValue, reason, by, clock.now(), environment)))
  }

  def history(key: Option[String] = None): DataFrame = {
    val base = store.events(table).drop("_event_seq")
    key.fold(base)(k => base.where(col("config_key") === k))
      .orderBy(col("change_timestamp").desc)
  }
}

/** Error-report analytics (reference `logs/error_handler.py:560-650`):
  * error-pattern rollups with resolution-time averages, daily trend, and the
  * top-N problematic tables.
  */
final class ErrorAnalyzer(store: LogStore) {

  private def errors: DataFrame = store.current("error_log", "error_id")

  /** Per (code, level): counts, resolved counts, avg hours-to-resolve
    * (error_handler.py:587-598).
    */
  def patternSummary(): DataFrame =
    errors
      .groupBy(col("error_code"), col("error_level"))
      .agg(
        count(lit(1)).as("n_errors"),
        count(when(col("is_resolved"), 1)).as("n_resolved"),
        avg((unix_timestamp(col("resolved_timestamp")) -
          unix_timestamp(col("error_timestamp"))) / 3600.0).as("avg_hours_to_resolve"))
      .orderBy(col("n_errors").desc, col("error_code"))

  /** Daily error counts per level (error_handler.py:601-610). */
  def dailyTrend(days: Int = 30): DataFrame =
    errors
      .where(col("error_timestamp") >= date_sub(current_timestamp(), days))
      .groupBy(to_date(col("error_timestamp")).as("error_date"), col("error_level"))
      .agg(count(lit(1)).as("n_errors"))
      .orderBy(col("error_date"), col("error_level"))

  /** Top-N tables by error count (error_handler.py:613-624). */
  def topProblematicTables(n: Int = 10): DataFrame =
    errors
      .where(col("table_name").isNotNull)
      .groupBy(col("table_name"))
      .agg(
        count(lit(1)).as("n_errors"),
        countDistinct(col("error_code")).as("n_distinct_codes"))
      .orderBy(col("n_errors").desc, col("table_name"))
      .limit(n)
}

/** Batch-progress logging (reference `logs/audit_logger.py:578-693`):
  * batch id `batch_%Y%m%d_%H%M%S`, estimated batches by ceiling division,
  * per-batch progress rows carried as JSON metadata on the process log.
  */
final class BatchLogger(processes: ProcessLogger, clock: Clock = SystemClock) {

  final case class BatchRun(processLogId: Long, batchId: String, estimatedBatches: Long)

  def startBatchRun(name: String, totalRows: Long, batchSize: Long): BatchRun = {
    val batchId = "batch_" +
      new java.text.SimpleDateFormat("yyyyMMdd_HHmmss").format(clock.now())
    val estimated = (totalRows + batchSize - 1) / batchSize // ceil div, ref :648
    val pid = processes.startProcess(name, s"""{"batch_id":"$batchId","estimated_batches":$estimated}""")
    BatchRun(pid, batchId, estimated)
  }

  def completeBatchRun(run: BatchRun, rowsProcessed: Long, ok: Boolean = true): Unit =
    processes.endProcess(run.processLogId, if (ok) "SUCCESS" else "FAILED",
      rowsProcessed = Some(rowsProcessed))
}

/** Circuit breaker (reference `logs/error_handler.py:485-522` — deliberately
  * a simplified pass-through there; here: opens after `failureThreshold`
  * consecutive failures, half-opens after `resetAfterMs`).
  */
final class CircuitBreaker(
    failureThreshold: Int = 5,
    resetAfterMs: Long = 60000,
    nowMs: () => Long = System.currentTimeMillis) {
  private var failures = 0
  private var openedAt: Option[Long] = None

  def state: String =
    openedAt match {
      case Some(t) if nowMs() - t < resetAfterMs => "OPEN"
      case Some(_) => "HALF_OPEN"
      case None => "CLOSED"
    }

  def call[T](f: => T): T = {
    if (state == "OPEN") throw new IllegalStateException("circuit open")
    try {
      val out = f
      failures = 0
      openedAt = None
      out
    } catch {
      case e: Throwable =>
        failures += 1
        if (failures >= failureThreshold) openedAt = Some(nowMs())
        throw e
    }
  }
}

/** Lineage edge recording (reference `logs/data_lineage.py:119-200`);
  * traversal lives in [[graft.lineage.Lineage]].
  */
final class LineageTracker(store: LogStore, clock: Clock = SystemClock) {
  import store.spark.implicits._
  private val table = "data_lineage"

  def recordEdge(
      sourceSchema: String,
      sourceTable: String,
      targetSchema: String,
      targetTable: String,
      processLogId: Option[Long] = None,
      logic: Option[String] = None,
      recordCount: Option[Long] = None): Unit = {
    val id = store.nextId(table, "lineage_id")
    store.appendEvents(table,
      Seq(DataLineageEdge(id, processLogId, sourceSchema, sourceTable,
        targetSchema, targetTable, logic, recordCount, clock.now())))
  }

  def edges(): DataFrame =
    store.events(table)
      .withColumn("src", concat_ws(".", col("source_schema"), col("source_table")))
      .withColumn("dst", concat_ws(".", col("target_schema"), col("target_table")))

  /** Medallion flow rollup (data_lineage.py:596-622). */
  def flowSummary(): DataFrame =
    store.events(table)
      .groupBy(col("source_schema"), col("target_schema"))
      .agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col("transformation_logic")).as("n_logics"),
        max(col("created_timestamp")).as("last_activity"),
        sum(col("record_count")).as("total_records"))
}
