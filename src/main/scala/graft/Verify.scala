package graft

import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact

/** Driver-run correctness dump: each selected SparkEntry query's result →
  * parquet under `outDir/<name>`, plus `oracle_sql.json`, for the driver's
  * DuckDB compare. A failing query is named on stderr and leaves no output
  * directory; the others still run.
  *
  * Usage: runMain graft.Verify sfDir outDir [queryName ...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val selected = SparkEntry.select(names)
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    selected.foreach { name =>
      SparkEntry.run(spark, name, sfDir)(_.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        ._1.swap.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    val oracle = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(oracle))
    spark.stop()
  }
}
