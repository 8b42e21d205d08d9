package graft.lineage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins Spark 4.1's native recursive CTE (the q250 SQL-text surface)
  * against the one-plan level-join traversal — INCLUDING the one place
  * their semantics legitimately differ, so the difference is a documented
  * contract instead of a latent surprise.
  *
  * Semantics: [[Lineage.traverse]] guards cycles with a path array (no
  * walk may revisit ANY node already on its path, the seed included);
  * the rCTE guards only with the textual depth cap and collapses walks
  * with MIN(depth). For every (seed, node ≠ seed) pair these agree — a
  * SHORTEST path never revisits a node, so the path guard only prunes
  * longer walks — but a cycle through the seed is reachable by the rCTE
  * (seed → … → seed at depth = cycle length) while the path guard blocks
  * re-entering the seed. q250's fixture graph (supplier→nation→region) is
  * acyclic, so there both engines agree on every row.
  */
class RecursiveSqlSpec extends SparkSpec {
  import spark.implicits._

  // a graph WITH a cycle (1→2→3→1) plus an acyclic spur (2→4)
  private lazy val edges =
    Seq(("1", "2"), ("2", "3"), ("3", "1"), ("2", "4")).toDF("src", "dst")
  private lazy val seeds = Seq("1", "2", "3", "4").toDF("seed")

  /** Runs `f` with the graph registered as `rcte_edges` / `rcte_seeds`;
    * the views are dropped afterwards, so no later suite sees them.
    */
  private def withGraphViews[T](f: => T): T = {
    edges.createOrReplaceTempView("rcte_edges")
    seeds.createOrReplaceTempView("rcte_seeds")
    try f
    finally {
      spark.catalog.dropTempView("rcte_edges")
      spark.catalog.dropTempView("rcte_seeds")
    }
  }

  private def rcte(maxDepth: Int) =
    spark.sql(
      s"""WITH RECURSIVE walk AS (
         |  SELECT seed, seed AS node, 0 AS depth FROM rcte_seeds
         |  UNION ALL
         |  SELECT w.seed, e.dst, w.depth + 1
         |  FROM walk w JOIN rcte_edges e ON w.node = e.src
         |  WHERE w.depth < $maxDepth)
         |SELECT seed, node, MIN(depth) AS depth FROM walk WHERE depth > 0
         |GROUP BY seed, node""".stripMargin)

  test("rCTE equals the path-guard traversal on every (seed, node != seed) row of a CYCLIC graph") {
    withGraphViews {
      val loop = rcte(5).where(col("seed") =!= col("node"))
        .orderBy("seed", "node").collect().toSeq
      val iter = Lineage.reachable(edges, "src", "dst", seeds, "seed", maxDepth = 5)
        .where(col("seed") =!= col("node"))
        .orderBy("seed", "node").collect().toSeq
      assert(loop == iter,
        s"recursive SQL and iterative traversal diverged:\n rcte=$loop\n iter=$iter")
      // non-vacuous: the cycle + spur reach depth >= 2 somewhere
      assert(iter.exists(_.getAs[Int]("depth") >= 2))
    }
  }

  test("the ONE divergence is the seed-cycle row: rCTE walks the cycle back to the seed, the path guard blocks it") {
    withGraphViews {
      val loopSelf = rcte(5).where(col("seed") === col("node"))
        .orderBy("seed").collect().toSeq
      val iterSelf = Lineage
        .reachable(edges, "src", "dst", seeds, "seed", maxDepth = 5)
        .where(col("seed") === col("node")).collect().toSeq
      assert(iterSelf.isEmpty, s"path guard must block seed re-entry: $iterSelf")
      // every node ON the 3-cycle returns to itself at depth exactly 3;
      // node 4 (off-cycle) never returns
      assert(loopSelf.map(r => (r.getString(0), r.getAs[Int]("depth"))) ==
        Seq(("1", 3), ("2", 3), ("3", 3)))
    }
  }

  test("UNION-distinct recursion is REJECTED with the pinned error condition (the q258 migration contract's premise)") {
    // the no-cap UNION form a migrating user writes for cyclic graphs
    // (terminates at the dedup fixpoint in engines that support it —
    // DuckDB runs exactly this text as q258's oracle). Spark 4.1 rejects
    // it; this pins the EXACT error condition so a future Spark that
    // starts accepting the form fails THIS test and forces q258's
    // contract to be re-certified natively.
    withGraphViews {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(
          """WITH RECURSIVE walk AS (
            |  SELECT seed, seed AS node FROM rcte_seeds
            |  UNION
            |  SELECT w.seed, e.dst FROM walk w JOIN rcte_edges e ON w.node = e.src)
            |SELECT seed, node FROM walk""".stripMargin).collect()
      }
      assert(e.getCondition == "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
        s"expected the pinned condition, got ${e.getCondition}: ${e.getMessage}")
    }
  }

  test("the documented rewrite (UNION ALL + depth cap + DISTINCT) reaches the UNION fixpoint on the cyclic graph") {
    // hand-computed fixpoint of 1→2→3→1 with spur 2→4, seeds {1,2,3,4}:
    // every node on the 3-cycle reaches all of {1,2,3,4} (the spur hangs
    // off node 2), node 4 reaches only itself. Cap 5 ≥ the 4-node graph's
    // longest simple walk, so the rewrite provably reaches the fixpoint —
    // the q258 equivalence argument in miniature.
    withGraphViews {
      val got = spark.sql(
        """WITH RECURSIVE walk AS (
          |  SELECT seed, seed AS node, 0 AS depth FROM rcte_seeds
          |  UNION ALL
          |  SELECT w.seed, e.dst, w.depth + 1
          |  FROM walk w JOIN rcte_edges e ON w.node = e.src
          |  WHERE w.depth < 5)
          |SELECT DISTINCT seed, node FROM walk ORDER BY seed, node""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val want = (for {
        s <- Seq("1", "2", "3"); n <- Seq("1", "2", "3", "4")
      } yield (s, n)) :+ (("4", "4"))
      assert(got == want.sorted)
    }
  }

  test("the textual depth cap is honored: no row exceeds it, and a tight cap cuts the cycle return") {
    withGraphViews {
      val d = rcte(2)
      assert(d.agg(max("depth")).head.getInt(0) <= 2)
      // depth 2 cannot complete the 3-cycle: no seed-return rows survive
      assert(d.where(col("seed") === col("node")).isEmpty)
    }
  }
}
