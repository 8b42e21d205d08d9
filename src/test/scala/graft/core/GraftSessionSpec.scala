package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The one session factory and the one per-query cleanup: what every
  * engine session is built with, and what `release` leaves behind.
  */
class GraftSessionSpec extends SparkSpec {

  test("one settings map for every session; default cores from the host, shuffle partitions = cores") {
    assert(GraftSession.settings(3, 5) == Map(
      "spark.master" -> "local[3]",
      "spark.app.name" -> "graft",
      "spark.sql.shuffle.partitions" -> "5",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.file.transferTo" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.core.NoChmodLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.core.NoChmodLocalFs",
      "spark.sql.extensions" -> "graft.functions.NativeFunctions"))
    val host = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(GraftSession.hostCores == host)
    // the shared spec session is `local(cores = 4)`: it carries every
    // setting, with one shuffle partition per core
    val conf = spark.sparkContext.getConf
    GraftSession.settings(4, 4).foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k should be $v")
    }
  }

  test("release leaves no cached table, no persistent RDD and no stream scratch directory") {
    val cached = spark.range(0, 1000).toDF("id").cache()
    cached.count()
    spark.range(0, 100).createOrReplaceTempView("graft_release_t")
    spark.catalog.cacheTable("graft_release_t")
    spark.table("graft_release_t").count()
    // localCheckpoint is eager: its RDD is persisted outside the SQL cache
    val beforeCheckpoint = spark.sparkContext.getPersistentRDDs.keySet
    spark.range(0, 1000).localCheckpoint()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- beforeCheckpoint).nonEmpty)
    val scratch = Paths.get(graft.queries.Pipeline.scratchDir("graft_release_spec_"))
    Files.writeString(scratch.resolve("commit"), "0")
    assert(spark.catalog.isCached("graft_release_t"))
    // q237 registers its own view; a global temp view lives in global_temp
    graft.SparkEntry.queries("q237_correlated_subquery")(spark, Sf0001).count()
    spark.range(0, 10).createOrReplaceGlobalTempView("graft_release_g")
    assert(spark.catalog.listTables().collect().exists(_.name == "q237_orders"))
    assert(spark.catalog.tableExists("global_temp", "graft_release_g"))

    GraftSession.release(spark)

    assert(cached.storageLevel == StorageLevel.NONE)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(!Files.exists(scratch))
    val temporary = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(temporary.isEmpty, temporary.mkString(", "))
    assert(!spark.catalog.tableExists("global_temp", "graft_release_g"))
  }
}
