package graft.core

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.SparkPlan

import graft.{SparkEntry, SparkSpec}
import graft.queries.Medallion

/** Automated scale guard: no query in the driver contract may plan a
  * cartesian product, and none but the deliberate pairwise-oracle variant
  * may plan a nested-loop join. This is PLANS.md's core claim as a
  * regression test — a new query (or a Spark upgrade) that silently
  * introduces an O(n²) join shape fails here, not at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  // One executed plan per query, shared by every audit below: INVOKING a
  // query function is not free — the stream-path queries run their whole
  // foreachBatch pipeline eagerly before returning the read-back frame — so
  // each audit re-running all 200+ functions would pay the multi-second
  // streaming cost once PER TEST. Each query is planned in its own Try, so
  // one query that fails to plan fails only the audits that read it.
  private lazy val planned: Seq[(String, Try[SparkPlan])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try(fn(spark, Sf0001).queryExecution.executedPlan)
    }
  private lazy val plans = planned.toMap

  /** The named query's plan, or that query's own planning error. */
  private def planByName(name: String): SparkPlan = plans(name).get

  /** Every query's plan, for the sweeps. A query that fails to plan fails
    * the sweep under its name, with one exception: q76–q79 read the
    * reference checkout's CSVs, and where that checkout is absent
    * (PATH_NOT_FOUND under a [[Medallion.ReferenceRoot]] that is not a
    * directory) they are reported and left out.
    */
  private def executedPlans: Seq[(String, SparkPlan)] = {
    val root = Paths.get(Medallion.ReferenceRoot).toAbsolutePath.normalize
    def referenceAbsent(e: Throwable): Boolean = e match {
      case a: AnalysisException if a.getCondition == "PATH_NOT_FOUND" =>
        Option(a.getMessageParameters.get("path"))
          .exists(p => Paths.get(new HadoopPath(p).toUri.getPath).startsWith(root)) &&
          !Files.isDirectory(root)
      case _ => false
    }
    val failed = planned.collect { case (name, Failure(e)) => name -> e }
    val (absent, broken) = failed.partition { case (_, e) => referenceAbsent(e) }
    broken.headOption.foreach { case (_, e) =>
      fail(s"queries failed to plan: ${broken.map(_._1).mkString(", ")}", e)
    }
    if (absent.nonEmpty)
      info(s"reference CSVs absent, not audited: ${absent.map(_._1).mkString(", ")}")
    planned.collect { case (name, Success(p)) => name -> p }
  }

  test("a build that reuses remembered table schemas plans exactly as a fresh session's build") {
    // the perfbench warehouse_sql queries, two of the medallion workload's,
    // and q27, which reads one table twice
    val names = Seq(
      "q02_filter_sort_limit", "q04_left_join_customer_orders", "q05_exists_open_orders",
      "q07_having_supplier_volume", "q17_dedup_latest", "q20_percentiles",
      "q237_correlated_subquery", "q22_incremental_load", "q49_batch_update",
      "q27_graph_traversal")
    // expression and exchange ids differ from build to build: compare the shapes
    def normalized(p: Any): String =
      p.toString.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
    def plans(s: org.apache.spark.sql.SparkSession, name: String): (String, String) = {
      val qe = SparkEntry.queries(name)(s, Sf0001).queryExecution
      (normalized(qe.optimizedPlan), normalized(qe.executedPlan))
    }
    val differing = names.filter { name =>
      val s = spark.newSession()
      // scan metadata in full: a value cut at a fixed length is cut at
      // another place when the expression ids gain a digit between builds
      s.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
      val fresh = plans(s, name)
      fresh != plans(s, name)
    }
    assert(differing.isEmpty, s"memo-hit builds plan differently: ${differing.mkString(", ")}")
  }

  test("no query plans a cartesian product or an unintended nested-loop join") {
    // q38 is the ONLY allowed nested-loop join in the contract: the exact
    // embedding-near-dup oracle twin, a deliberate pairwise pass over a
    // FIXED-BUDGET subset (first 50 ids — constant cost at any scale
    // factor) kept as ground truth for the certified LSH path (q67).
    // The single-row scalar-broadcast shapes (q25 share-of-total, q66
    // funnel counts) attach via core.ScalarJoin's non-foldable constant
    // key, so they plan as BroadcastHashJoin and need no whitelist entry.
    val allowedNestedLoop = Set("q38_embedding_neardup")
    val offenders = executedPlans.flatMap { case (name, p) =>
      val plan = p.toString
      val cartesian = plan.contains("CartesianProduct")
      val nestedLoop = plan.contains("BroadcastNestedLoopJoin") && !allowedNestedLoop(name)
      if (cartesian || nestedLoop)
        Some(s"$name: ${if (cartesian) "CartesianProduct" else "BroadcastNestedLoopJoin"}")
      else None
    }
    assert(offenders.isEmpty, s"quadratic join shapes found:\n${offenders.mkString("\n")}")
  }

  test("q239's SQL-text EXISTS/NOT EXISTS/IN/NOT IN all plan as semi/anti joins") {
    // the reference's subquery_builder surface through spark.sql: Catalyst
    // must rewrite all four predicates into joins — a per-row subquery
    // re-execution (or a nested-loop fallback, swept globally above) would
    // be the 100 TB scale bug this certification exists to block
    val plan = planByName("q239_subquery_rewrites").toString
    val semis = "LeftSemi".r.findAllMatchIn(plan).length
    val antis = "LeftAnti".r.findAllMatchIn(plan).length
    assert(semis >= 2, s"expected EXISTS and IN to plan as >=2 semi joins, got $semis")
    assert(antis >= 2, s"expected NOT EXISTS and NOT IN to plan as >=2 anti joins, got $antis")
  }

  test("q245's projected EXISTS/IN flags plan as ExistenceJoin, not per-row subqueries") {
    val plan = planByName("q245_existence_flags").toString
    val n = "ExistenceJoin".r.findAllMatchIn(plan).length
    assert(n >= 3,
      s"expected the three SELECT-list flags to plan as >=3 ExistenceJoins, got $n")
  }

  test("q248's MERGE hint overrides the optimizer's broadcast choice") {
    // the 25-row nation dim would ALWAYS broadcast — SortMergeJoin in the
    // executed plan proves the SQL-text hint was honored, not planned over
    val plan = planByName("q248_join_hints").toString
    assert(plan.contains("SortMergeJoin"),
      "the /*+ MERGE(n) */ hint must force a sort-merge join")
    assert(!plan.contains("BroadcastHashJoin"),
      "the hinted join must not fall back to broadcast")
  }

  test("q250's WITH RECURSIVE plans a UnionLoop recursion node with the depth guard inside the loop") {
    // the SQL-text recursion must be Catalyst's native iterative operator
    // (UnionLoop executes the step plan until fixpoint/guard), not an
    // unrolled or per-row fallback; the depth predicate must sit INSIDE
    // the loop body so each iteration prunes before joining
    val plan = planByName("q250_sql_recursive").toString
    assert(plan.contains("UnionLoop"),
      "recursive CTE must plan as a UnionLoop node")
    assert(plan.contains("UnionLoopRef"),
      "the recursion step must reference the loop (UnionLoopRef)")
    // INSIDE the loop: the plan tree prints children below their parent,
    // so a depth predicate hoisted above the loop (each iteration joining
    // the full frontier before pruning — the per-iteration blowup this
    // pins against) would print BEFORE the UnionLoop header, not after
    val inLoop = plan.substring(plan.indexOf("UnionLoop"))
    assert(inLoop.contains("depth#") && inLoop.contains(" < 5"),
      "the textual depth cap must appear as a filter INSIDE the loop body")
  }

  test("q27's lineage walk plans as one query: no checkpointed RDD scan") {
    // a driver-side walk that checkpoints each level leaves a scan of the
    // checkpointed RDD (RDDScanExec) where the level's join should be; the
    // one-plan walk joins down to the supplier and nation scans
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(planByName("q27_graph_traversal"))
    val rddScans = all.collect { case r: RDDScanExec => r.simpleString(200) }
    assert(rddScans.isEmpty, s"q27 plans checkpointed RDD scans:\n${rddScans.mkString("\n")}")
    assert(all.exists(_.isInstanceOf[FileSourceScanExec]),
      "q27's plan must read its source tables")
  }

  test("no window sorts a fact-sized frame under a low-cardinality-only partition key") {
    // The single-partition-window scale-killer: row_number()/rank() OVER
    // (PARTITION BY <few-valued column> ORDER BY …) on an UNAGGREGATED fact
    // frame makes one task sort ~1/|values| of the entire table. The scalable
    // forms are Analytics.groupedOrderedRank / orderedPrefixSum (two-level
    // ranged passes). This guard walks every query's physical plan: a Window
    // whose partition key references ONLY low-cardinality columns (or nothing
    // — a global window) is legal only if every path below it to a fact scan
    // passes through an aggregate first (i.e. the frame is aggregate-sized).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

    // A frame is "aggregate-sized" (legal under any window) when every path
    // from the window down to a fact scan passes a BOUNDING node first:
    // an aggregate, a limit/top-k (TakeOrderedAndProject, GlobalLimit), or
    // a partial WindowGroupLimit (the literal-rank-bound pushdown q56/q89
    // deliberately plan: each task prunes to k rows per key map-side, so
    // the window never sorts a fact-sized partition).
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec, GlobalLimitExec, CollectLimitExec}

    // few-valued columns across the testdata tables (incl. their renames)
    val lowCard = Set(
      "event_type", "o_orderpriority", "o_orderstatus", "c_mktsegment",
      "r_name", "l_returnflag", "l_linestatus", "media_type", "state",
      "side", "pctile", "source", "lang", "quality_tier")
    val factFiles = Seq(
      "events.parquet", "lineitem.parquet", "orders.parquet",
      "documents.parquet", "embeddings.parquet", "customer.parquet",
      "part.parquet", "supplier.parquet")
    // deliberate exceptions, each with a documented scale caveat:
    //  - q163 certifies ntile/percent_rank/cume_dist semantics themselves over
    //    customer per mktsegment (the ranking-function parity row);
    //  - q180's RFM ntile windows carry the same documented cardinality caveat
    //    (scaladoc: quantile windows per segment are the certified-at-SF form).
    val allowed = Set("q163_balance_ranks", "q180_rfm_segments")

    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def factScanWithoutAgg(p0: SparkPlan): Boolean = unwrap(p0) match {
      case _: BaseAggregateExec => false
      case _: TakeOrderedAndProjectExec => false
      case _: GlobalLimitExec => false
      case _: CollectLimitExec => false
      case _: WindowGroupLimitExec => false
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths
          .exists(rp => factFiles.exists(f => rp.toString.contains(f)))
      case im: InMemoryTableScanExec => factScanWithoutAgg(im.relation.cachedPlan)
      // a ReusedExchange can sit under a window whose ORIGINAL exchange is
      // not itself below any window — resolve the reuse target and audit
      // the real subtree instead of assuming it was covered elsewhere
      case re: ReusedExchangeExec => factScanWithoutAgg(re.child)
      case other => other.children.exists(factScanWithoutAgg)
    }
    def offendingWindows(p0: SparkPlan): Seq[String] = {
      val p = unwrap(p0)
      val here = p match {
        case w: WindowExec
            if w.partitionSpec.flatMap(_.references.toSeq).map(_.name)
              .forall(lowCard.contains) && factScanWithoutAgg(w.child) =>
          Seq(s"Window(partitionBy=${w.partitionSpec.mkString(",")})")
        case _ => Nil
      }
      val below = p match {
        case im: InMemoryTableScanExec => offendingWindows(im.relation.cachedPlan)
        case other => other.children.flatMap(offendingWindows)
      }
      here ++ below
    }
    val offenders = executedPlans
      .filterNot { case (name, _) => allowed(name) }
      .flatMap { case (name, p) =>
        offendingWindows(p).map(w => s"$name: $w")
      }
    assert(offenders.isEmpty,
      s"fact-sized sorts under low-cardinality windows:\n${offenders.mkString("\n")}")
  }

  test("exact percentile never aggregates an unbounded fact-sized frame outside the allowlist") {
    // Exact `percentile` buffers the group's full value multiset per
    // aggregation buffer — the one aggregate in the contract whose memory
    // is O(group size), so over a FACT-sized frame it is a scale hazard
    // (the certified swap-in is approx_percentile's bounded sketch, q197).
    // Allowed, each with a documented reason:
    //  - q183 documents the exact path at fixture scale WITH the certified
    //    swap-in (madOutliers' exactMedians strategy flag);
    //  - q197/q189 must compute the exact twin to certify the sketch
    //    against it — the certification is BY DEFINITION exact-vs-approx;
    //  - q20 is the reference-fidelity PERCENTILE_CONT row (the reference's
    //    perf-summary semantics, audit/Logs.scala) — group sizes are
    //    per-operation log batches, and the scaladoc carries the caveat.
    // Every other exact percentile must sit above a bounding node
    // (aggregate/limit) or use Analytics.exactPercentilesByValue (the
    // value-dimension rank-pick twin — q87/q212 moved there).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec, GlobalLimitExec, CollectLimitExec}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    val allowed = Set(
      "q183_mad_outliers", "q197_mad_outliers_approx",
      "q189_approx_percentile_cert", "q20_percentiles")
    val factFiles = Seq(
      "events.parquet", "lineitem.parquet", "orders.parquet",
      "documents.parquet", "embeddings.parquet", "customer.parquet",
      "part.parquet", "supplier.parquet")
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def unboundedFactScan(p0: SparkPlan): Boolean = unwrap(p0) match {
      case _: BaseAggregateExec => false
      case _: TakeOrderedAndProjectExec => false
      case _: GlobalLimitExec => false
      case _: CollectLimitExec => false
      case _: WindowGroupLimitExec => false
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths
          .exists(rp => factFiles.exists(f => rp.toString.contains(f)))
      case im: InMemoryTableScanExec => unboundedFactScan(im.relation.cachedPlan)
      case re: ReusedExchangeExec => unboundedFactScan(re.child)
      case other => other.children.exists(unboundedFactScan)
    }
    def offendingPercentiles(p0: SparkPlan): Seq[String] = {
      val p = unwrap(p0)
      val here = p match {
        case a: BaseAggregateExec
            if a.aggregateExpressions
              .exists(_.aggregateFunction.isInstanceOf[Percentile]) &&
              a.children.exists(unboundedFactScan) =>
          Seq("exact percentile over an unbounded fact frame")
        case _ => Nil
      }
      val below = p match {
        case im: InMemoryTableScanExec => offendingPercentiles(im.relation.cachedPlan)
        case other => other.children.flatMap(offendingPercentiles)
      }
      here ++ below
    }
    val offenders = executedPlans
      .filterNot { case (name, _) => allowed(name) }
      .flatMap { case (name, p) => offendingPercentiles(p).map(w => s"$name: $w") }
    assert(offenders.isEmpty,
      s"exact percentile over fact-sized groups:\n${offenders.mkString("\n")}")
  }

  test("q67's bucket cap is ids-first: no window over the LSH signature") {
    // A window over `sig` would shuffle a degenerate mega-bucket's full
    // VECTORS into a single task's window buffer before the cap filter
    // drops them; the cap must come from an ids-only groupBy + semi-join.
    val plan = planByName("q67_embedding_neardup_lsh").toString
    assert(!plan.contains("Window"), s"q67 plans a Window over sig:\n$plan")
  }

  test("LSH bucket pipelines aggregate with BOUNDED buffers, never plain collect_list") {
    // A plain collect_list on a bucket key materializes a degenerate
    // mega-bucket's full id array in one aggregation buffer before any size
    // filter runs — the skew-OOM shape CollectLongCapped exists to prevent.
    // Guard every query that builds LSH/fingerprint buckets: their physical
    // plans must carry the capped aggregate (when they aggregate ids at all)
    // and must NOT carry collect_list.
    val bucketQueries = Seq(
      "q34_dedup_minhash_lsh", "q52_dup_clusters", "q53_dedup_corpus",
      "q64_incremental_dedup", "q65_curation_pipeline", "q66_curation_funnel",
      "q84_winnowing_neardup", "q91_incremental_winnowing", "q95_incremental_simhash")
    val offenders = bucketQueries.flatMap { name =>
      if (planByName(name).toString.contains("collect_list")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unbounded collect_list in bucket pipelines: ${offenders.mkString(", ")}")
  }
}
