package graft

import org.json4s.{JArray, JDecimal, JField, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.compact

/** Driver-run benchmark: each selected SparkEntry query (every one when no
  * name is given) timed at the target scale factor (`SPARK_GRAFT_SF_DIR`),
  * a detail artifact (`SPARK_GRAFT_BENCH_OUT`) and one JSON line on stdout,
  * on a [[graft.core.GraftSession]] local session (the host's cores, one
  * shuffle partition per core).
  *
  * Usage: runMain graft.Bench [queryName ...]
  */
object Bench {
  // the sf1 scaling pass: the K most expensive queries, a wall budget for
  // the pass and a per-query cap (see the pass below)
  private val Sf1Top = 30
  private val Sf1BudgetSec = 420.0
  private val Sf1QueryCapSec = 300.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val selected = SparkEntry.select(names)
    val spark = graft.core.GraftSession.local()
    // Warm the JVM/codegen/scheduler and the parquet reader once so the
    // first timed query measures the query, not session startup. The string
    // leg matters as much as the numeric one: the first regex/hash-heavy
    // query otherwise pays ~2.4 s of JIT compilation of the Pattern/digest
    // machinery (profiled: q30 cold 2.9 s vs warm 0.53 s on identical data).
    // Synthetic input only — no benchmark table is read or cached here.
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.range(0, 200000)
      .selectExpr("cast(id as string) || ' lorem  ipsum dolor ' || cast(id % 7 as string) as s")
      .selectExpr(
        "md5(regexp_replace(trim(lower(s)), '\\\\s+', ' ')) as h",
        "sha2(s, 256) as sh",
        "size(regexp_extract_all(s, '\\\\S+', 0)) as n",
        "aggregate(split(s, ' '), 0L, (a, t) -> a + length(t)) as f")
      .agg(Map("h" -> "max", "sh" -> "max", "n" -> "sum", "f" -> "sum"))
      .collect()
    // warm the native signature expressions' codegen paths (q34/q35/q52/q53
    // otherwise pay their whole-stage-codegen + JIT compile on first use) —
    // synthetic input again, no benchmark data touched
    spark.range(0, 50000)
      .selectExpr("split(cast(id as string) || ' a b c ' || cast(id % 13 as string), ' ') as toks")
      .select(
        graft.functions.MinHashSignatureExpr.minhashFast(org.apache.spark.sql.functions.col("toks"), 16).as("mh"),
        graft.functions.SimHash64Expr.simhash64Fast(org.apache.spark.sql.functions.col("toks")).as("sh"))
      .selectExpr("max(cast(mh as array<string>))", "max(sh)")
      .collect()
    // and the vector-expression paths (q39-q41, q67-q69): hyperplane
    // signature + cosine codegen — synthetic vectors, no benchmark data
    spark.range(0, 20000)
      .selectExpr("array(cast(id % 7 as float) / 7.0f, cast(id % 11 as float) / 11.0f, cast(id % 13 as float) / 13.0f) as v")
      .select(
        graft.functions.HyperplaneSignatureExpr.hyperplaneFast(org.apache.spark.sql.functions.col("v"), 8).as("hs"),
        graft.functions.CosineSimilarity.cosineFast(org.apache.spark.sql.functions.col("v"), org.apache.spark.sql.functions.col("v")).as("cs"))
      .selectExpr("max(hs)", "max(cs)")
      .collect()
    // columnar cache + localCheckpoint + broadcast-join + window machinery:
    // the iterative queries (q27 traversal, q52/q53 CC loops) are otherwise
    // the FIRST users of the InMemoryRelation builder/accessor and local-
    // checkpoint block paths, paying those classes' loading + JIT inside
    // their timed reps (-verbose:class measured ~3k class loads and ~21 s
    // of JIT demand during an isolated q27) — synthetic input only.
    val base = spark.range(0, 50000)
      .selectExpr("id", "id % 97 as k", "cast(id as double) as v")
      .localCheckpoint()
    val cached = base.cache()
    cached.count()
    cached
      .join(
        org.apache.spark.sql.functions.broadcast(
          cached.groupBy("k").agg(org.apache.spark.sql.functions.max("v").as("mv"))),
        "k")
      .selectExpr("sum(v + mv)")
      .collect()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    cached
      .select(org.apache.spark.sql.functions.sum("v").over(w).as("rs"))
      .agg(org.apache.spark.sql.functions.max("rs"))
      .collect()
    graft.core.GraftSession.release(spark)
    // the parquet-reader warm doubles as the machine-load SENTINEL: a fixed
    // scan whose wall-time a reader compares across rounds to separate
    // uniform host drift ("everything 1.3x slower, sentinel too") from plan
    // regressions ("one query 3x slower, sentinel flat") without re-running
    def sentinelSample(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      (System.nanoTime() - t0) / 1e9
    }
    val warmupSec = sentinelSample()
    // the sentinel is re-sampled every ~25 queries (and its series recorded
    // in the detail artifact) so host contention is attributable IN the
    // artifact: a slow query next to a slow sentinel sample is machine
    // load; a slow query next to a flat sentinel is a plan regression.
    // (BENCH_r15 carried a 5.8x-inflated q121 only out-of-band telemetry
    // could explain — the series makes the adjudication self-contained.)
    val sentinelSeries =
      scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, warmupSec))
    // executor task telemetry per query (run/cpu/gc): cpu-time is immune to
    // OS descheduling, so run≫cpu flags host contention, gc flags memory
    // pressure — the per-query split BENCH_r04 lacked and round 4 had to
    // reconstruct with an idle-machine debugging session
    val listener = new graft.perf.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    def executorMs(): (Long, Long, Long) = {
      listener.settle(spark.sparkContext)
      (listener.executorRunTimeMs.get, listener.executorCpuTimeMs.get, listener.jvmGcTimeMs.get)
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // failures of the EXTRA adjudication rep (two successful reps already
    // proved the query): kept under their own key so a flaky cause (an
    // OOM, a scratch race) stays auditable instead of being discarded
    val adjudicationErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.zipWithIndex.map { case (name, qi) =>
      // untimed sentinel re-sample every ~25 queries (series in the
      // detail artifact; see sentinelSeries above)
      if (qi > 0 && qi % 25 == 0) sentinelSeries += ((qi, sentinelSample()))
      // a failed query must never masquerade as a fast success: it is
      // recorded as -1 in `queries` AND carries its exception in `errors`.
      // The step releases the session after each rep (untimed), which keeps
      // reps independent — the LSH pipelines persist corpus-scale frames
      // that otherwise accumulate and tax late queries with storage/GC
      // pressure
      def rep(): Double = {
        val (out, seconds) = SparkEntry.run(spark, name, sfDir)(_.count())
        System.gc()
        out.fold(e => { errors.getOrElseUpdate(name, e); -1.0 }, _ => seconds)
      }
      // JVM counters are cheap and always recorded into the detail artifact:
      // they separate driver-side costs the executor-task telemetry cannot
      // see, e.g. JIT/codegen churn
      val jvm0 = graft.perf.JvmMetrics.snapshot()
      val r1 = rep()
      // second rep with telemetry deltas; reporting min-of-2 makes the
      // per-query number robust to one-off host-load spikes (the r2->r3->r4
      // "outlier panic" cannot recur: a real regression shows in BOTH reps)
      val (run0, cpu0, gc0) = executorMs()
      val r2 = if (r1 >= 0) rep() else -1.0
      val (run1, cpu1, gc1) = executorMs()
      // a >2x spread between the two reps means one was load-disturbed —
      // take a THIRD (untelemetered) rep so the recorded min reflects the
      // query, not the host; recorded reps keep all walls (a failed third
      // attempt records as -1) so the artifact shows both the disturbance
      // and its adjudication
      val tryThird =
        r1 >= 0 && r2 >= 0 && math.max(r1, r2) > 2 * math.min(r1, r2)
      val r3 = if (tryThird) rep() else -1.0
      // two successful reps already prove the query passes — a transient
      // failure of the EXTRA adjudication rep must not flip the artifact
      // to failed (tryThird implies no prior error entry for this name),
      // but its cause moves to adjudication_errors rather than vanishing
      if (tryThird && r3 < 0)
        errors.remove(name).foreach(adjudicationErrors.update(name, _))
      val reps = Seq(r1, r2) ++ (if (tryThird) Seq(r3) else Nil)
      val wall = if (r1 >= 0 && r2 >= 0) reps.filter(_ >= 0).min
        else math.max(r1, r2)
      val jvm1 = graft.perf.JvmMetrics.snapshot()
      val jvmDelta = jvm1.map { case (k, v) => k -> (v - jvm0.getOrElse(k, 0L)) }
      Console.err.println(f"bench: $name reps=${reps.map(fmt).mkString("/")} " +
        f"heap=${jvm1("heap_mb")}M meta=${jvm1("metaspace_mb")}M cc=${jvm1("codecache_mb")}M " +
        f"dJit=${jvmDelta("jit_ms")}ms dClasses=${jvmDelta("classes_total")}")
      QueryRecord(name, wall, reps, run1 - run0, cpu1 - cpu0, gc1 - gc0, jvmDelta, jvm1)
    }
    // closing sentinel sample: the last stretch of queries also gets a
    // load reference next to it in the artifact
    sentinelSeries += ((selected.size, sentinelSample()))

    // ---- the 10x SCALING pass: re-time the most expensive queries on a
    // 10x copy of the input and record per-query sf ratios IN the
    // artifact — the scale twin of the 2x-vs-baseline gate (a query
    // scaling far past 10x on 10x data has a plan term growing faster
    // than the data). One rep per query (the sf0.1 min-of-2 is the
    // denominator), top-K by measured wall, wall-budgeted: whatever the
    // budget drops is NAMED in sf1_skipped — no silent caps.
    // default-on for the full contract; "0" disables, "force" also runs
    // it on a named subset (the local smoke path for this pass).
    // A failed query does not switch the pass off: it is named in `errors`
    // and drops out of the candidates, the rest still get their ratios.
    val sf1Env = sys.env.getOrElse("SPARK_GRAFT_BENCH_SF1", "1")
    val sf1Enabled = sf1Env != "0" && (names.isEmpty || sf1Env == "force")
    var sf1GenSec = -1.0
    val sf1 = scala.collection.mutable.ArrayBuffer.empty[Sf1Record]
    val sf1Skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_bench_sf1")
    if (sf1Enabled) {
      try {
        // provenance marker, written LAST after a complete generation: a
        // directory is reused ONLY if it was fully generated from THIS
        // base — a stale 10x of a different base (or a generation that
        // died mid-table) would silently shrink/garble every sf_ratio
        val marker = java.nio.file.Paths.get(sf1Dir, "_GRAFT_SCALE_SRC")
        val want = s"src=$sfDir copies=10"
        val reusable = java.nio.file.Files.exists(marker) &&
          java.nio.file.Files.readString(marker).trim == want
        if (!reusable) {
          // drop any stale marker BEFORE regenerating: if the scale below
          // dies mid-way (the outer catch swallows it), a surviving
          // old-base marker would let a later run against that old base
          // see reusable=true and time queries on a mixed-base, partially
          // overwritten directory — the exact garbled-ratio scenario the
          // marker exists to prevent
          java.nio.file.Files.deleteIfExists(marker)
          val t0 = System.nanoTime()
          ScaleData.scale(spark, sfDir, sf1Dir, copies = 10)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sf1Dir))
          java.nio.file.Files.writeString(marker, want + "\n")
          sf1GenSec = (System.nanoTime() - t0) / 1e9
        } else sf1GenSec = 0.0 // verified same-base complete generation
        // selection is still top-K BY COST (the expensive queries are the
        // scaling risks worth measuring), but execution is CHEAPEST-FIRST:
        // r17's most-expensive-first order let two blowups (q257 218.6 s,
        // q121 227.6 s) consume the whole budget and starve 26 of 30
        // measurements — cheapest-first bounds a blowup's damage to the
        // tail of the series instead of its head
        val candidates = results.filter(_.wall >= 0)
          .sortBy(-_.wall)
          .take(Sf1Top)
          .sortBy(_.wall)
        var spent = 0.0
        candidates.map(_.name).foreach { name =>
          if (spent > Sf1BudgetSec) sf1Skipped += name
          else {
            // watchdog: a super-linear plan at 10x (the exact regression
            // this pass hunts) must become a recorded -1, not an
            // unbounded driver stall — cancel the query's job group at
            // the smaller of the remaining budget and the per-query cap.
            // Streaming micro-batch jobs run on their own threads outside
            // the group, where cancelJobGroup cannot reach, so the
            // watchdog also stops every active stream; the stream harness
            // turns a stopped stream into a thrown error, never a partial
            // sink (r17's two budget-eaters were both streaming-shaped).
            // It repeats every second past the cap, so a stream the query
            // starts after a stop is stopped too.
            val capSec = math.min(Sf1QueryCapSec, math.max(30.0, Sf1BudgetSec - spent))
            val group = s"bench-sf1-$name"
            spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
            val watchdog = new java.util.Timer("bench-sf1-watchdog", true)
            watchdog.schedule(new java.util.TimerTask {
              def run(): Unit = {
                spark.sparkContext.cancelJobGroup(group)
                spark.streams.active.foreach { q =>
                  try q.stop() catch { case scala.util.control.NonFatal(_) => }
                }
              }
            }, (capSec * 1000).toLong, 1000L)
            // per-entry executor telemetry (run/cpu/gc), same split as the
            // main pass: r17's 16.9x q257 entry carried no gc_ms, so
            // pressure-vs-plan could not be adjudicated from the artifact
            val (run0, cpu0, gc0) = executorMs()
            val (out, wall) =
              try SparkEntry.run(spark, name, sf1Dir)(_.count())
              finally {
                watchdog.cancel()
                spark.sparkContext.clearJobGroup()
              }
            val (run1, cpu1, gc1) = executorMs()
            System.gc()
            val heapMb = graft.perf.JvmMetrics.snapshot()("heap_mb")
            sf1 += Sf1Record(name, if (out.isRight) wall else -1.0,
              run1 - run0, cpu1 - cpu0, gc1 - gc0, heapMb)
            spent += wall
            Console.err.println(f"bench-sf1: $name ${fmt(wall)}s ok=${out.isRight} (spent ${fmt(spent)}s of $Sf1BudgetSec%.0f)")
            out.swap.foreach(e => Console.err.println(s"bench-sf1: $name failed: $e"))
          }
        }
      } catch {
        case e: Throwable =>
          Console.err.println(s"bench-sf1: scaling pass aborted: $e")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    val report = Report(sfDir, warmupSec, sentinelSeries.toSeq, results, errors.toSeq,
      adjudicationErrors.toSeq, sf1Dir, sf1GenSec, sf1.toSeq, sf1Skipped.toSeq)
    // The full artifact (long names, reps, telemetry) runs ~10 KB — far past
    // the driver's ~2000-char stdout tail capture, which truncated the head
    // of the line and left every BENCH_rN unparseable. It goes to the file;
    // stdout gets ONE compact line as the FINAL output, short-keyed (the qNN
    // prefix is unique per query) so the whole line fits inside the tail.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (compact(report.detail) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException => Console.err.println(s"bench: could not write $out: $e") }
    // stop Spark BEFORE printing: its shutdown logs (stderr) otherwise race
    // past the JSON in a merged-stream capture, and the driver parses the
    // FINAL line of the captured tail — the compact line must be the last
    // thing this process emits on stdout
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compact(report.summary(out)))
    Console.out.flush()
  }

  /** One query's main-pass record: `wall` is the min of the successful reps
    * (-1 when the query failed), `reps` every rep's wall; run/cpu/gc are the
    * SECOND rep's executor-task deltas; `jvmDelta` holds driver-JVM deltas
    * across the reps (jit/class churn), `jvmAfter` the occupancy after the
    * query (heap/metaspace/codecache), both keyed as [[graft.perf.JvmMetrics]].
    */
  final case class QueryRecord(
      name: String, wall: Double, reps: Seq[Double], runMs: Long, cpuMs: Long, gcMs: Long,
      jvmDelta: Map[String, Long], jvmAfter: Map[String, Long])

  /** One sf1-pass entry: the 10x wall (-1 when it failed), its executor
    * run/cpu/gc deltas and the heap after it.
    */
  final case class Sf1Record(name: String, wall: Double, runMs: Long, cpuMs: Long, gcMs: Long, heapMb: Long)

  /** Everything one run measured, and its two JSON encodings. */
  final case class Report(
      sfDir: String,
      warmupSec: Double,
      sentinels: Seq[(Int, Double)],
      queries: Seq[QueryRecord],
      errors: Seq[(String, String)],
      adjudicationErrors: Seq[(String, String)],
      sf1Dir: String,
      sf1GenSec: Double,
      sf1: Seq[Sf1Record],
      sf1Skipped: Seq[String]) {

    private def total = queries.map(_.wall).filter(_ >= 0).sum

    // per-query sf ratio: the 10x wall over the base min-of-2 wall — the
    // in-artifact scaling exponent (10x data on the same cores; a
    // ratio far past 10 means a super-linear plan term, see PLANS.md)
    private def sf1Ratios: Seq[(String, Double)] = {
      val base = queries.map(q => q.name -> q.wall).toMap
      sf1.collect { case r if r.wall >= 0 && base.getOrElse(r.name, -1.0) > 0 => r.name -> r.wall / base(r.name) }
    }

    /** The detail artifact. The machine-load `sentinels` are (query index,
      * fixed-scan seconds) samples taken before the run, every ~25 queries,
      * and after the last query — a reader separates host drift from plan
      * regressions without leaving the artifact.
      */
    def detail: JObject = JObject(
      "metric" -> JString("total"),
      "value" -> num(total),
      "unit" -> JString("sec"),
      "queries" -> JObject(queries.map(q => q.name -> num(q.wall)): _*),
      "errors" -> strings(errors),
      "adjudication_errors" -> strings(adjudicationErrors),
      "failed" -> JInt(errors.size),
      "warmup_sec" -> num(warmupSec),
      "sentinels" -> JArray(sentinels.map { case (i, s) => JArray(List(JInt(i), num(s))) }.toList),
      "telemetry" -> JObject(queries.map(q => q.name -> JObject(
        "reps" -> JArray(q.reps.map(num).toList),
        "run_ms" -> JInt(q.runMs),
        "cpu_ms" -> JInt(q.cpuMs),
        "gc_ms" -> JInt(q.gcMs),
        "jit_ms" -> JInt(q.jvmDelta("jit_ms")),
        "classes" -> JInt(q.jvmDelta("classes_total")),
        "heap_mb" -> JInt(q.jvmAfter("heap_mb")),
        "meta_mb" -> JInt(q.jvmAfter("metaspace_mb")),
        "cc_mb" -> JInt(q.jvmAfter("codecache_mb")))): _*),
      "sf1" -> JObject(
        "dir" -> JString(sf1Dir),
        "gen_sec" -> num(sf1GenSec),
        "top" -> JInt(Sf1Top),
        "budget_sec" -> num(Sf1BudgetSec),
        "queries" -> JObject(sf1.map(r => r.name -> num(r.wall)): _*),
        "sf_ratio" -> JObject(sf1Ratios.map { case (k, v) => k -> num(v) }: _*),
        "telemetry" -> JObject(sf1.map(r => r.name -> JObject(
          "run_ms" -> JInt(r.runMs),
          "cpu_ms" -> JInt(r.cpuMs),
          "gc_ms" -> JInt(r.gcMs),
          "heap_mb" -> JInt(r.heapMb))): _*),
        "skipped_budget" -> JArray(sf1Skipped.map(JString(_)).toList)),
      "sf" -> JString(sfDir))

    /** The one stdout line: queries keyed by their unique `qNN` prefix, the
      * sf1 count and largest ratio when the pass measured any, and the path
      * of the detail artifact.
      */
    def summary(detailPath: String): JObject = {
      val ratios = sf1Ratios.map(_._2)
      JObject(List[JField](
        "metric" -> JString("total"),
        "value" -> num(total),
        "unit" -> JString("sec"),
        "queries" -> JObject(queries.map(q => q.name.takeWhile(_ != '_') -> num(q.wall)): _*),
        "failed" -> JInt(errors.size),
        "warmup_sec" -> num(warmupSec)) ++
        (if (ratios.isEmpty) Nil
         else List[JField]("sf1_n" -> JInt(ratios.size), "sf1_max_ratio" -> num(ratios.max))) ++
        List[JField]("sf" -> JString(sfDir), "detail" -> JString(detailPath)))
    }
  }

  // 3-decimal rounding keeps the one-line JSON short enough that a
  // tail-capped log capture does not truncate the head of the line
  private def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  private def num(v: Double): JValue = JDecimal(BigDecimal(fmt(v)))
  private def strings(kvs: Seq[(String, String)]): JObject = JObject(kvs.map { case (k, v) => k -> JString(v) }: _*)
}
