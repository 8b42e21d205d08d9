package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access over a directory of parquet files (one file/dir per table).
  *
  * Mirrors the reference's catalog surface (reference
  * `sql/query_builder.py:390-567` introspects `information_schema`; here the
  * "catalog" is a directory of parquet tables read through the Spark catalog).
  *
  * Scale note: parquet scans here are plain `spark.read.parquet`, so Catalyst
  * predicate pushdown / column pruning apply unchanged on a 100 TB layout —
  * the sf-directories used in tests are just small instances of the same shape.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** The events table's `ts` encoding has varied across data generators:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read as
    * nanosecond Longs via the legacy conf and truncate with integer `div`,
    * not `/`: double division loses precision past 2^53 ns) or plain
    * timestamp[us] (TIMESTAMP_NTZ to Spark — cast to session-TZ timestamp,
    * matching the oracle's CAST(ts AS TIMESTAMP)). Branch on the loaded
    * schema so either encoding reads correctly.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // harmless when the file carries real timestamps; required to even
    // resolve the schema when it carries TIMESTAMP(NANOS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}
