package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-schema scale-up generator: replicates EVERY test table `copies`×
  * with all keys remapped into disjoint per-copy ranges, producing an
  * sf(N×src) directory on which the complete query contract (not just
  * the bench subset) can run against the DuckDB oracle.
  *
  * Key discipline: each copy's foreign keys are offset by the same
  * `copy × SPAN`, so every copy is a self-consistent TPC-H-ish universe
  * (orders reference the copy's customers, lineitems the copy's
  * orders/parts/suppliers, events the copy's users) and the result is
  * `copies` independent corpora — the duplicate/skew structure per copy
  * is preserved rather than turned into cross-copy duplicates:
  *   - documents: tokens suffixed with the copy index (shingle-disjoint
  *     copies), sources suffixed so per-source rollups stay per-copy;
  *   - embeddings: every component shifted by copy × 2^-7 (exact in
  *     float), so copies are not mutual exact twins;
  *   - region/nation: shared dimensions, written once unchanged.
  *
  * Usage: `graft.ScaleData <srcSfDir> <outDir> [copies=10]`, then run
  * `graft.Verify <outDir> <dumpDir>` + `tools/compare.py` for the full
  * scale-correctness pass, or `graft.Bench` with SPARK_GRAFT_SF_DIR.
  */
object ScaleData {
  private val Span = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.local()
    scale(spark, src, out, copies)
    println(s"scale-data: $copies x $src -> $out")
    spark.stop()
  }

  /** The generator body, callable from an existing session —
    * [[graft.Bench]] uses it to materialize the sf1 twin of its input for
    * the in-artifact scaling pass.
    */
  def scale(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      Console.err.println(s"scale-data: wrote $name")
    }
    /** Union `copies` per-copy transforms of `df`. */
    def scaled(df: DataFrame)(perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => perCopy(df, i)).reduce(_.unionByName(_)).repartition(32)
    /** Offset the named key columns by copy × SPAN, keep everything else. */
    def offsetKeys(df: DataFrame, keys: String*)(i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Span)))

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", scaled(read("customer"))((d, i) => offsetKeys(d, "c_custkey")(i)))
    write("supplier", scaled(read("supplier"))((d, i) => offsetKeys(d, "s_suppkey")(i)))
    write("part", scaled(read("part"))((d, i) => offsetKeys(d, "p_partkey")(i)))
    write("orders", scaled(read("orders"))((d, i) => offsetKeys(d, "o_orderkey", "o_custkey")(i)))
    write("lineitem", scaled(read("lineitem"))((d, i) =>
      offsetKeys(d, "l_orderkey", "l_partkey", "l_suppkey")(i)))
    write("events", scaled(read("events"))((d, i) => offsetKeys(d, "event_id", "user_id")(i)))
    write("documents", scaled(read("documents")) { (d, i) =>
      d.select(
        (col("doc_id") + lit(i * Span)).as("doc_id"),
        // suffix every token (so every shingle) with the copy index;
        // whitespace runs are preserved so normalization behaves as in the
        // original corpus
        regexp_replace(col("text"), "(\\S+)", s"$$1·$i").as("text"),
        col("lang"),
        concat(col("source"), lit(s"_$i")).as("source"),
        col("n_chars"))
    })
    write("embeddings", scaled(read("embeddings")) { (d, i) =>
      d.select(
        (col("vec_id") + lit(i * Span)).as("vec_id"),
        // 2^-7 per copy: exactly representable in float, so the shift is
        // deterministic and copies are not cross-copy exact twins
        transform(col("embedding"), x => x + lit(i / 128.0f)).as("embedding"),
        col("label"))
    })
  }
}
