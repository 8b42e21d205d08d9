package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}

/** The harness shared by Bench, Verify and Explain: query selection, the
  * per-query step and Bench's JSON artifact.
  */
class DriverSpec extends SparkSpec {

  test("select: no names gives the whole contract, sorted by name") {
    val all = SparkEntry.select(Nil)
    assert(all.size == 268)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("select: a subset runs exactly those names, in the order given") {
    val names = Seq("q76_silver_sales", "q01_pricing_summary", "q27_graph_traversal")
    assert(SparkEntry.select(names) == names)
  }

  test("select: unknown names fail the selection, each one named") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_pricing_summary", "q01_pricing_sumary", "q999_nope")))
    assert(e.getMessage.contains("q01_pricing_sumary") && e.getMessage.contains("q999_nope"),
      e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary,"), e.getMessage)
  }

  test("run: the action's result, or its throw as a named error; the session is released either way") {
    val (ok, seconds) = SparkEntry.run(spark, "q01_pricing_summary", Sf0001) { df =>
      df.cache(); df.count()
    }
    assert(ok.exists(_ > 0) && seconds > 0)
    assert(spark.sharedState.cacheManager.isEmpty, "the step left a cached frame")

    val (missing, _) = SparkEntry.run(spark, "q01_pricing_summary", "/nonexistent-sf")(_.count())
    assert(missing.swap.exists(e => e.startsWith("AnalysisException: ") && e.contains("PATH_NOT_FOUND")),
      missing)
    val (long, _) = SparkEntry.run(spark, "q01_pricing_summary", Sf0001)(
      _ => throw new IllegalStateException("x" * 500))
    assert(long == Left(("IllegalStateException: " + "x" * 500).take(160)))
  }

  test("Bench's artifact encodes any message and path, keeps today's keys and round-trips") {
    val message = "bad \"quote\" \\ back\nslash, é ü — " + "y" * 300
    val (failure, _) = SparkEntry.run(spark, "q01_pricing_summary", Sf0001)(
      _ => throw new IllegalStateException(message))
    val error = failure.swap.toOption.get
    assert(error.length == 160 && error.contains("\"") && error.contains("\\") &&
      error.contains("\n") && error.contains("é"))
    val jvmDelta = Map("jit_ms" -> 12L, "classes_total" -> 3L)
    val jvmAfter = Map("heap_mb" -> 512L, "metaspace_mb" -> 90L, "codecache_mb" -> 40L)
    val report = Bench.Report(
      sfDir = "/data/sf\"0.1",
      warmupSec = 0.5,
      sentinels = Seq(0 -> 0.5, 2 -> 0.625),
      queries = Seq(
        Bench.QueryRecord("q01_alpha", 1.25, Seq(1.25, 1.5), 100L, 90L, 5L, jvmDelta, jvmAfter),
        Bench.QueryRecord("q02_beta", -1.0, Seq(-1.0, -1.0), 0L, 0L, 0L, jvmDelta, jvmAfter)),
      errors = Seq("q02_beta" -> error),
      adjudicationErrors = Nil,
      sf1Dir = "/tmp/sf\"1",
      sf1GenSec = 2.0,
      sf1 = Seq(Bench.Sf1Record("q01_alpha", 10.0, 1000L, 900L, 50L, 600L)),
      sf1Skipped = Nil)

    def paths(v: JValue, prefix: String = ""): Seq[String] = v match {
      case JObject(fs) => fs.flatMap { case (k, x) =>
        val p = if (prefix.isEmpty) k else s"$prefix.$k"
        p +: paths(x, p)
      }
      case _ => Nil
    }
    val detailText = compact(report.detail)
    val detail = parse(detailText, useBigDecimalForDouble = true)
    val telemetry = Seq("reps", "run_ms", "cpu_ms", "gc_ms", "jit_ms", "classes", "heap_mb", "meta_mb", "cc_mb")
    assert(paths(detail) == Seq("metric", "value", "unit", "queries", "queries.q01_alpha",
      "queries.q02_beta", "errors", "errors.q02_beta", "adjudication_errors", "failed", "warmup_sec",
      "sentinels", "telemetry") ++
      Seq("q01_alpha", "q02_beta").flatMap(q => s"telemetry.$q" +: telemetry.map(k => s"telemetry.$q.$k")) ++
      Seq("sf1", "sf1.dir", "sf1.gen_sec", "sf1.top", "sf1.budget_sec", "sf1.queries", "sf1.queries.q01_alpha",
        "sf1.sf_ratio", "sf1.sf_ratio.q01_alpha", "sf1.telemetry", "sf1.telemetry.q01_alpha") ++
      Seq("run_ms", "cpu_ms", "gc_ms", "heap_mb").map(k => s"sf1.telemetry.q01_alpha.$k") ++
      Seq("sf1.skipped_budget", "sf"))
    assert(detail == report.detail)
    assert(compact(detail) == detailText, "numbers keep their three decimals")
    assert(detail \ "errors" \ "q02_beta" == JString(error))
    assert(detail \ "sf" == JString("/data/sf\"0.1"))
    assert(detail \ "sf1" \ "dir" == JString("/tmp/sf\"1"))
    assert(detailText.contains("\"value\":1.250,"))
    assert(detailText.contains("\"sentinels\":[[0,0.500],[2,0.625]]"))
    assert(detailText.contains("\"sf_ratio\":{\"q01_alpha\":8.000}"))
    assert(detail \ "failed" == JInt(1))

    val summaryText = compact(report.summary("out/\"detail\".json"))
    val summary = parse(summaryText, useBigDecimalForDouble = true)
    assert(paths(summary) == Seq("metric", "value", "unit", "queries", "queries.q01", "queries.q02",
      "failed", "warmup_sec", "sf1_n", "sf1_max_ratio", "sf", "detail"))
    assert(summary == report.summary("out/\"detail\".json"))
    assert(compact(summary) == summaryText)
    assert(summary \ "detail" == JString("out/\"detail\".json"))
    assert(paths(parse(compact(report.copy(sf1 = Nil).summary("d")))) ==
      Seq("metric", "value", "unit", "queries", "queries.q01", "queries.q02", "failed", "warmup_sec", "sf", "detail"))
  }
}
