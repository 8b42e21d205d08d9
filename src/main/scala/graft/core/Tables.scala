package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Table access over a directory of parquet files (one file/dir per table).
  *
  * Mirrors the reference's catalog surface (reference
  * `sql/query_builder.py:390-567` introspects `information_schema`; here the
  * "catalog" is a directory of parquet tables read through the Spark catalog).
  *
  * Scale note: every table is read through [[Tables.read]], a plain parquet
  * scan, so Catalyst predicate pushdown / column pruning apply unchanged on a
  * 100 TB layout — the sf-directories used in tests are just small instances
  * of the same shape. What the read adds is a per-session schema memo, the
  * role the reference's PostgreSQL catalog plays: Spark's parquet schema
  * inference runs one Spark job per read (even for one file with
  * `mergeSchema` off), so only the first read of a path infers; every later
  * read in the session hands the remembered schema to the reader and runs
  * no job and reads no footer. An entry is keyed by the path, by
  * `(path, length, modificationTime)` of every file under it (one
  * recursive listing, as the scan's file index makes; a single-file table
  * lists as itself), and by the session's values of the confs that change
  * inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  * `spark.sql.caseSensitive`). The memo misses, and the read infers again,
  * when the table is rewritten, gains or loses a file, or one of those confs
  * changes; a new session starts with an empty memo. The engine writes none
  * of those confs while it runs (the ones it needs are fixed when the
  * session is built, see [[GraftSession.settings]]), so within a session a
  * path infers once however its reads interleave with other tables'.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** The events table, its `ts` decoded by [[Tables.eventTimes]]. */
  def events: DataFrame = Tables.eventTimes(table("events"))
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  private final case class SchemaKey(
      path: String, files: Seq[(String, Long, Long)], confs: Map[String, String])

  /** Inferred schemas per session; weak in the session, so a stopped
    * session's entries go with it.
    */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[SchemaKey, StructType]]()

  /** The engine's one parquet table read: infers the schema on the first
    * read of `path` in `spark` (for its current files and inference confs)
    * and reuses it on every later read, as the [[Tables]] scale note says.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = SchemaKey(path, files(spark, path), spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    })
    val memo = schemas.synchronized(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    memo.get(key) match {
      case null =>
        val df = spark.read.parquet(path)
        memo.put(key, df.schema)
        df
      case schema => spark.read.schema(schema).parquet(path)
    }
  }

  /** `events` (batch or stream) with its `ts` as a session-TZ timestamp,
    * whichever encoding the files carry; the encoding has varied across
    * data generators:
    *  - INT64 `TIMESTAMP(NANOS)`, which the session reads as nanosecond
    *    Longs (see [[GraftSession.settings]]): truncated to microseconds
    *    with integer `div`, not `/`, since double division loses precision
    *    past 2^53 ns;
    *  - `timestamp[us]` with a zone: already a timestamp;
    *  - `timestamp[us]` without one (TIMESTAMP_NTZ to Spark): cast to the
    *    session-TZ timestamp, matching the oracle's `CAST(ts AS TIMESTAMP)`.
    */
  def eventTimes(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case LongType      => events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampType => events
    case _             => events.withColumn("ts", col("ts").cast(TimestampType))
  }

  /** `(path, length, modificationTime)` of every file under `path` (the
    * file itself for a single-file table), sorted; empty when `path` does
    * not exist (the read then fails as Spark's does).
    */
  private def files(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val statuses =
      try {
        val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toVector
      } catch { case _: FileNotFoundException => Vector.empty }
    statuses.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }
}
