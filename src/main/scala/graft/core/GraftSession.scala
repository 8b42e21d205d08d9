package graft.core

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a session and isolates one query from
  * the next. Bench, Verify, Explain, ScaleData, the CLI and the test suite
  * all build through [[local]]; the per-query harness loops clean up
  * through [[release]].
  */
object GraftSession {
  /** Cores of this host: `SPARK_GRAFT_CPUS` when set (a deployment
    * setting), otherwise the processors the JVM sees.
    */
  def hostCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** Every setting of an engine session:
    *  - `local[cores]`, and shuffle partitions sized to the cores rather
    *    than the 200 default;
    *  - UTC (oracle parity), AQE on (runtime re-plan and skew handling at
    *    scale), no UI;
    *  - a codegen class cache sized above the whole suite's distinct
    *    codegen sources: an evicted entry means a Janino recompile whose
    *    load lock gates every task of the stage that needs it, and its JIT
    *    profile restarts from the interpreter (profiled as intermittent 13x
    *    task-CPU blowups on byte-identical reps);
    *  - stream copies instead of NIO `transferTo`: the bypass shuffle
    *    writer concatenates its per-reduce-partition files with
    *    `transferTo`, which mmaps the sources, and concurrent tasks then
    *    serialize on the JVM's address-space lock (jstack-profiled: 26/32
    *    workers in `FileChannelImpl.map0` during multi-minute stalls);
    *  - the no-chmod local FS on both Hadoop APIs (see
    *    [[graft.core.NoChmodLocalFs]]): without the Hadoop native library,
    *    every file or dir create on the stock local FS forks a `chmod`
    *    process, stack-sampled at up to half the wall of the streaming
    *    certification queries. No plan or result changes; a cluster FS
    *    (HDFS/S3) never takes this path;
    *  - the engine's native SQL functions as a session extension (see
    *    [[graft.functions.NativeFunctions]]): every session, and every
    *    `newSession()` or streaming clone of it, resolves them from the
    *    moment it is built, through `call_function` and SQL text alike, so
    *    no helper registers anything at use and no frame depends on which
    *    session is the thread's active one.
    */
  def settings(cores: Int, shufflePartitions: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.file.transferTo" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[NoChmodLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NoChmodLocalFs].getName,
    "spark.sql.extensions" -> classOf[graft.functions.NativeFunctions].getName)

  /** A local session on `cores` cores, one shuffle partition per core. */
  def local(cores: Int = hostCores): SparkSession = local(cores, cores)

  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = settings(cores, shufflePartitions)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops what one query left in the session, so the next starts clean
    * and a long harness loop never accumulates storage: cached tables,
    * every persistent RDD (`localCheckpoint` blocks live outside the SQL
    * cache manager, and lazy GC-driven cleanup let leaked blocks evict
    * later queries' live caches: q53 measured 3.1 s fresh vs 13.9 s
    * mid-suite), the query's stream scratch trees, which sit on a
    * RAM-backed base, and its temporary views, local and global, so the
    * next query and a catalog listing do not see them. Only safe once the
    * query's result is materialized.
    *
    * The [[Tables]] schema memo is kept: it holds the schemas of immutable
    * parquet inputs, not data, so Bench's later reps and Verify's later
    * queries reuse it, and a rewritten input misses it on its own.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.queries.Pipeline.reapScratch()
    spark.sessionState.catalog.clearTempTables()
    spark.sharedState.globalTempViewManager.clear()
  }
}
