package graft.bronze

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Bronze CSV ingestion — the Spark-native form of the reference's
  * `medallion/bronze.py` (CSV → schema inference → metadata enrichment →
  * append), preserving its contracts:
  *
  *   - schema inference maps ints→LongType, decimals→DoubleType, unparseable→
  *     StringType (reference `_infer_sql_type`, bronze.py:203-226);
  *   - metadata block `_ingestion_timestamp/_ingestion_batch_id/_source_file/
  *     _source_row_number/_is_current/_row_hash` (bronze.py:106-114);
  *   - batch id `{SOURCE}_{yyyymmdd_HHMMSS}_{uuid8}` (bronze.py:438);
  *   - `_source_row_number` is 1-based source order (bronze.py:292);
  *   - `_row_hash` is an order-independent SHA-256 over sorted (column=value)
  *     pairs, computed AFTER the other metadata columns are present — so the
  *     same source row in two batches hashes differently, exactly as the
  *     reference does (bronze.py:287-299; see SURVEY §7.5-3).
  *
  * The reference's row-at-a-time INSERT loop (its hot path, >10k rows/s
  * target) becomes a single distributed parquet append: Spark parallelizes by
  * partition, so throughput scales with executors instead of round-trips.
  * The batch's row count comes from that append too: an [[Observation]]
  * counts the rows as the write streams them, so no job reads the table back.
  */
object Bronze {

  /** Clock/id injection so tests (and the DuckDB oracle) see stable values. */
  trait IdGen {
    def now(): java.sql.Timestamp
    def uuid8(): String
  }
  object SystemIdGen extends IdGen {
    def now(): java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())
    def uuid8(): String = java.util.UUID.randomUUID().toString.take(8)
  }

  /** COPY-statement option surface (reference `generate_copy_statement`,
    * sql/dml.py:394-445): delimiter, encoding, null marker, quote, escape,
    * header — mapped onto Spark CSV reader options.
    */
  final case class CsvOptions(
      delimiter: String = ",",
      encoding: String = "UTF-8",
      nullValue: String = "",
      quote: String = "\"",
      escape: String = "\\",
      header: Boolean = true,
      inferSchema: Boolean = true)

  /** CSV read with the bronze inference contract. Spark's `inferSchema`
    * matches the reference mapping (BIGINT/NUMERIC/BOOLEAN/TIMESTAMP/TEXT);
    * one extra sampling pass over the file, as in the reference's pandas read.
    */
  def readCsv(
      spark: SparkSession,
      path: String,
      opts: CsvOptions = CsvOptions()): DataFrame =
    spark.read
      .option("header", opts.header.toString)
      .option("inferSchema", opts.inferSchema.toString)
      .option("sep", opts.delimiter)
      .option("encoding", opts.encoding)
      .option("nullValue", opts.nullValue)
      .option("quote", opts.quote)
      .option("escape", opts.escape)
      .csv(path)

  /** Order-independent row hash over the given columns: SHA-256 of the
    * sorted (column=value) pair list, nulls as '' (bronze.py:255-268; the
    * order-independence property is pinned by reference test
    * `tests_medallion/test_bronze.py:294`).
    */
  def rowHash(columns: Seq[String]): Column =
    sha2(
      concat_ws(
        "|",
        columns.sorted.map(c =>
          concat_ws("=", lit(c), coalesce(col(c).cast("string"), lit("")))): _*),
      256)

  def batchId(source: String, idGen: IdGen): String = {
    val ts = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss").format(idGen.now())
    s"${source}_${ts}_${idGen.uuid8()}"
  }

  /** Stable 1-based row numbering in input order. `zipWithIndex` runs one
    * lightweight count job to learn partition sizes, then assigns contiguous
    * offsets per partition — no global sort, no single-partition window, so
    * it holds at any scale.
    */
  def withSourceRowNumbers(df: DataFrame, colName: String = "_source_row_number"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(colName, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }

  /** Full enrichment pipeline (bronze.py:270-301): row numbers, ingestion
    * metadata, then the row hash over business + batch-variant metadata.
    */
  def enrich(
      df: DataFrame,
      batch: String,
      sourceFile: String,
      idGen: IdGen = SystemIdGen): DataFrame = {
    val numbered = withSourceRowNumbers(df)
      .withColumn("_ingestion_timestamp", lit(idGen.now()))
      .withColumn("_ingestion_batch_id", lit(batch))
      .withColumn("_source_file", lit(sourceFile))
      .withColumn("_is_current", lit(true))
    val hashCols = df.columns.toSeq ++
      Seq("_ingestion_batch_id", "_source_file", "_source_row_number", "_is_current")
    numbered.withColumn("_row_hash", rowHash(hashCols))
  }

  final case class LoadResult(
      table: String,
      rowsLoaded: Long,
      batchId: String,
      durationSec: Double)

  /** How long a load waits, after its write returned, for the write's row
    * count to arrive over the listener bus.
    */
  private val ObservationTimeout = 30.seconds

  final class BronzeManager(
      spark: SparkSession,
      warehouseDir: String,
      idGen: IdGen = SystemIdGen) {

    def tablePath(table: String): String = s"$warehouseDir/bronze/$table"

    /** End-to-end bronze load (bronze.py:389-591): read → enrich → append to
      * `<warehouseDir>/bronze/<table>`; returns the reference's result shape.
      * Partial-failure tolerance and audit logging live in the orchestration
      * layer (graft.audit / graft.app).
      */
    def loadCsvToBronze(csvPath: String, table: String, source: String): LoadResult = {
      val t0 = System.nanoTime()
      val batch = batchId(source, idGen)
      val written = Observation()
      enrich(readCsv(spark, csvPath), batch, csvPath, idGen)
        .observe(written, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Append).parquet(tablePath(table))
      // read only after the write returned: a failed write throws above and
      // never fills the observation. A listener-bus event lost after a
      // successful write would leave it empty too, so the wait is bounded
      // and a lost count fails the load instead of hanging it.
      val rows =
        try Await.result(written.future, ObservationTimeout).getAs[Long]("rows")
        catch {
          case e: TimeoutException => throw new IllegalStateException(
            s"row count of batch $batch into $table not reported within $ObservationTimeout", e)
        }
      LoadResult(table, rows, batch, (System.nanoTime() - t0) / 1e9)
    }
  }
}
