package graft

/** Driver-run benchmark: every SparkEntry query timed at the target scale
  * factor, one JSON line on stdout, on a [[graft.core.GraftSession]] local
  * session (the host's cores, one shuffle partition per core).
  */
object Bench {
  // the sf1 scaling pass: the K most expensive queries, a wall budget for
  // the pass and a per-query cap (see the pass below)
  private val Sf1Top = 30
  private val Sf1BudgetSec = 420.0
  private val Sf1QueryCapSec = 300.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // failures of the EXTRA adjudication rep (two successful reps already
    // proved the query): kept under their own key so a flaky cause (an
    // OOM, a scratch race) stays auditable instead of being discarded
    val adjudicationErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_BENCH_ONLY=q53_dedup_corpus,q65_... isolates queries for
    // regression debugging in a fresh JVM; unset = full contract (driver use)
    // 3-decimal rounding keeps the one-line JSON short enough that a
    // tail-capped log capture does not truncate the head of the line
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      // untimed sentinel re-sample every ~25 queries (series in the
      // detail artifact; see sentinelSeries above)
      if (qi > 0 && qi % 25 == 0) sentinelSeries += ((qi, sentinelSample()))
      // a failed query must never masquerade as a fast success: it is
      // recorded as -1 in `queries` AND carries its exception in `errors`
      def rep(): Double = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              // keep the message printable ASCII: quotes/backslashes break
              // the JSON string, raw control bytes break strict JSON parsers
              errors.getOrElseUpdate(name, (e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ")
                  .replaceAll("\\s+", " ")).take(160))
              false
          }
        val elapsed = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        // each query pays for its own caching inside its timing; releasing
        // the session BETWEEN reps (untimed) keeps reps independent — the
        // LSH pipelines persist corpus-scale frames that otherwise
        // accumulate and tax late queries with storage/GC pressure
        graft.core.GraftSession.release(spark)
        System.gc()
        elapsed
      }
      // JVM counters are cheap and always recorded into the detail artifact:
      // they separate driver-side costs the executor-task telemetry cannot
      // see, e.g. JIT/codegen churn
      val jvm0 = graft.perf.JvmMetrics.snapshot()
      val r1 = rep()
      // second rep with telemetry deltas; reporting min-of-2 makes the
      // per-query number robust to one-off host-load spikes (the r2->r3->r4
      // "outlier panic" cannot recur: a real regression shows in BOTH reps)
      listener.settle()
      val (run0, cpu0, gc0) =
        (listener.executorRunTimeMs.get, listener.executorCpuTimeMs.get, listener.jvmGcTimeMs.get)
      val r2 = if (r1 >= 0) rep() else -1.0
      listener.settle()
      val tele = (listener.executorRunTimeMs.get - run0,
        listener.executorCpuTimeMs.get - cpu0,
        listener.jvmGcTimeMs.get - gc0)
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
      (name, wall, reps, tele, jvmDelta, jvm1)
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
    // it under a BENCH_ONLY subset (the local smoke path for this pass).
    // A failed query does not switch the pass off: it is named in `errors`
    // and drops out of the candidates, the rest still get their ratios.
    val sf1Env = sys.env.getOrElse("SPARK_GRAFT_BENCH_SF1", "1")
    val sf1Enabled = sf1Env != "0" && (only.isEmpty || sf1Env == "force")
    var sf1GenSec = -1.0
    val sf1Walls = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-entry (run_ms, cpu_ms, gc_ms, heap_mb-after) — the sf1 twin of
    // the main pass's telemetry split
    val sf1Tele = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long, Long)]
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
        val candidates = results
          .collect { case (n, w, _, _, _, _) if w >= 0 => (n, w) }
          .sortBy(-_._2)
          .take(Sf1Top)
          .sortBy(_._2)
        val fnByName = SparkEntry.queries
        var spent = 0.0
        candidates.foreach { case (name, _) =>
          if (spent > Sf1BudgetSec) sf1Skipped += name
          else {
            // watchdog: a super-linear plan at 10x (the exact regression
            // this pass hunts) must become a recorded -1, not an
            // unbounded driver stall — cancel the query's job group at
            // the smaller of the remaining budget and the per-query cap.
            // Streaming micro-batch jobs run on their own threads outside
            // the group, where cancelJobGroup cannot reach — the stream
            // deadline below has the harness stop() those queries at the
            // same cap, so streaming blowups are bounded too (r17's two
            // budget-eaters were both streaming-shaped).
            val capSec = math.min(Sf1QueryCapSec, math.max(30.0, Sf1BudgetSec - spent))
            val group = s"bench-sf1-$name"
            spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
            val watchdog = new java.util.Timer("bench-sf1-watchdog", true)
            watchdog.schedule(new java.util.TimerTask {
              def run(): Unit = spark.sparkContext.cancelJobGroup(group)
            }, (capSec * 1000).toLong)
            graft.queries.Pipeline.streamDeadlineNanos =
              System.nanoTime() + (capSec * 1e9).toLong
            // per-entry executor telemetry (run/cpu/gc), same split as the
            // main pass: r17's 16.9x q257 entry carried no gc_ms, so
            // pressure-vs-plan could not be adjudicated from the artifact
            listener.settle()
            val (run0, cpu0, gc0) =
              (listener.executorRunTimeMs.get, listener.executorCpuTimeMs.get, listener.jvmGcTimeMs.get)
            val t0 = System.nanoTime()
            val ok =
              try { fnByName(name)(spark, sf1Dir).count(); true }
              catch { case _: Throwable => false }
              finally {
                watchdog.cancel()
                spark.sparkContext.clearJobGroup()
                graft.queries.Pipeline.streamDeadlineNanos = Long.MaxValue
              }
            val wall = (System.nanoTime() - t0) / 1e9
            listener.settle()
            graft.core.GraftSession.release(spark)
            System.gc()
            val heapMb = graft.perf.JvmMetrics.snapshot()("heap_mb")
            sf1Tele += name -> ((listener.executorRunTimeMs.get - run0,
              listener.executorCpuTimeMs.get - cpu0,
              listener.jvmGcTimeMs.get - gc0, heapMb))
            sf1Walls += name -> (if (ok) wall else -1.0)
            spent += wall
            Console.err.println(f"bench-sf1: $name ${fmt(wall)}s ok=$ok (spent ${fmt(spent)}s of $Sf1BudgetSec%.0f)")
          }
        }
      } catch {
        case e: Throwable =>
          Console.err.println(s"bench-sf1: scaling pass aborted: $e")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    val qs = results.map { case (k, v, _, _, _, _) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // reps = all raw walls (2, or 3 when the first two spread >2x — the
    // third adjudicates a load spike in-artifact); run/cpu/gc are the
    // SECOND rep's executor-task deltas; jvm_* are driver-JVM deltas
    // across the reps (jit/class churn) + absolute occupancy after the
    // query (heap/metaspace/codecache)
    val teleJson = results.map { case (k, _, reps, (run, cpu, gc), jd, j1) =>
      s"\"" + k + "\":{\"reps\":[" + reps.map(fmt).mkString(",") +
        s"],\"run_ms\":$run,\"cpu_ms\":$cpu,\"gc_ms\":$gc" +
        s",\"jit_ms\":${jd("jit_ms")},\"classes\":${jd("classes_total")}" +
        s",\"heap_mb\":${j1("heap_mb")},\"meta_mb\":${j1("metaspace_mb")},\"cc_mb\":${j1("codecache_mb")}}"
    }.mkString("{", ",", "}")
    // the machine-load sentinel series: (query index, fixed-scan seconds)
    // samples taken before the run, every ~25 queries, and after the last
    // query — a reader separates host drift from plan regressions without
    // leaving the artifact
    val sentinelJson = sentinelSeries
      .map { case (i, s) => s"[$i,${fmt(s)}]" }.mkString("[", ",", "]")
    val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val adjErrJson = adjudicationErrors
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _, _) if v >= 0 => v }.sum
    // per-query sf ratio: the 10x wall over the base min-of-2 wall — the
    // in-artifact scaling exponent (10x data on the same cores; a
    // ratio far past 10 means a super-linear plan term, see PLANS.md)
    val baseWall = results.map { case (k, v, _, _, _, _) => k -> v }.toMap
    val sf1QJson = sf1Walls.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sf1RatioJson = sf1Walls.collect {
      case (k, v) if v >= 0 && baseWall.getOrElse(k, -1.0) > 0 =>
        s"\"" + k + "\":" + fmt(v / baseWall(k))
    }.mkString("{", ",", "}")
    val sf1SkippedJson = sf1Skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sf1TeleJson = sf1Tele.map { case (k, (run, cpu, gc, heap)) =>
      s"\"" + k + s"\":{\"run_ms\":$run,\"cpu_ms\":$cpu,\"gc_ms\":$gc,\"heap_mb\":$heap}"
    }.mkString("{", ",", "}")
    val sf1Json =
      s"""{"dir":"$sf1Dir","gen_sec":${fmt(sf1GenSec)},"top":$Sf1Top,"budget_sec":${fmt(Sf1BudgetSec)},"queries":$sf1QJson,"sf_ratio":$sf1RatioJson,"telemetry":$sf1TeleJson,"skipped_budget":$sf1SkippedJson}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"adjudication_errors":$adjErrJson,"failed":${errors.size},"warmup_sec":${fmt(warmupSec)},"sentinels":$sentinelJson,"telemetry":$teleJson,"sf1":$sf1Json,"sf":"$sfDir"}"""
    // The full artifact (long names, reps, telemetry) runs ~10 KB — far past
    // the driver's ~2000-char stdout tail capture, which truncated the head
    // of the line and left every BENCH_rN unparseable. It goes to the file;
    // stdout gets ONE compact line as the FINAL output, short-keyed (the qNN
    // prefix is unique per query) so the whole line fits inside the tail.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException => Console.err.println(s"bench: could not write $out: $e") }
    val shortQs = results.map { case (k, v, _, _, _, _) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    // stop Spark BEFORE printing: its shutdown logs (stderr) otherwise race
    // past the JSON in a merged-stream capture, and the driver parses the
    // FINAL line of the captured tail — the compact line must be the last
    // thing this process emits on stdout
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    val sf1MaxRatio = sf1Walls.collect {
      case (k, v) if v >= 0 && baseWall.getOrElse(k, -1.0) > 0 => v / baseWall(k)
    }
    val sf1Short =
      if (sf1MaxRatio.isEmpty) ""
      else s""","sf1_n":${sf1MaxRatio.size},"sf1_max_ratio":${fmt(sf1MaxRatio.max)}"""
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$shortQs,"failed":${errors.size},"warmup_sec":${fmt(warmupSec)}$sf1Short,"sf":"$sfDir","detail":"$out"}""")
    Console.out.flush()
  }
}
