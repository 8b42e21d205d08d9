package graft.lineage

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

class LineageSpec extends SparkSpec {
  import spark.implicits._

  // bronze.a → silver.x → gold.k ; bronze.b → silver.x (diamond into gold.k);
  // plus a cycle silver.x → bronze.a.
  private def edges = Seq(
    ("bronze.a", "silver.x"),
    ("bronze.b", "silver.x"),
    ("silver.x", "gold.k"),
    ("silver.x", "bronze.a") // cycle back
  ).toDF("src", "dst")

  private def seeds = Seq("bronze.a").toDF("seed")

  test("traversal terminates on cycles and reports min depth per node") {
    val out = Lineage.reachable(edges, "src", "dst", seeds, "seed", maxDepth = 5)
      .collect().map(r => (r.getString(1), r.getInt(2))).toMap
    assert(out == Map("silver.x" -> 1, "gold.k" -> 2))
  }

  test("upstream is the reverse traversal") {
    val up = Lineage.upstream(edges, "src", "dst", Seq("gold.k").toDF("seed"), "seed")
      .collect().map(r => (r.getString(1), r.getInt(2))).toMap
    assert(up == Map("silver.x" -> 1, "bronze.a" -> 2, "bronze.b" -> 2))
  }

  test("depth cap truncates the walk") {
    val shallow = Lineage.reachable(edges, "src", "dst", seeds, "seed", maxDepth = 1)
      .collect().map(_.getString(1)).toSet
    assert(shallow == Set("silver.x"))
  }

  test("bidirectional trace tags both directions from one seed") {
    val out = Lineage.bidirectionalTrace(
      edges, "src", "dst", Seq("silver.x").toDF("seed"), "seed")
      .collect().map(r => (r.getString(3), r.getString(1))).toSet
    assert(out.contains(("downstream", "gold.k")))
    assert(out.contains(("upstream", "bronze.a")) && out.contains(("upstream", "bronze.b")))
  }

  test("impact severity classifies by downstream count") {
    val wide = (1 to 7).map(i => ("hub", s"t$i")).toDF("src", "dst")
    val sev = Lineage.impact(wide, "src", "dst", Seq("hub").toDF("seed"), "seed")
      .collect().head
    assert(sev.getAs[Long]("downstream_count") == 7 && sev.getAs[String]("severity") == "HIGH")
    val narrow = (1 to 2).map(i => ("hub", s"t$i")).toDF("src", "dst")
    val sev2 = Lineage.impact(narrow, "src", "dst", Seq("hub").toDF("seed"), "seed")
      .collect().head
    assert(sev2.getAs[String]("severity") == "LOW")
  }

  test("impact extracts critical paths to gold with their depths (data_lineage.py:701-709)") {
    val row = Lineage.impact(edges, "src", "dst", seeds, "seed").collect().head
    val paths = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("critical_paths")
      .map(r => (r.getInt(0), r.getString(1)))
    assert(paths == Seq((2, "gold.k")), s"gold.k reached at depth 2, got $paths")
    assert(row.getAs[Int]("critical_count") == 1)
  }

  test("impact recommendations follow the reference rules (data_lineage.py:728-752)") {
    // diamond fixture: 2 downstream (silver.x, gold.k), 1 critical -> the two
    // CRITICAL lines, no HIGH/multiple-table lines
    val recs = Lineage.impact(edges, "src", "dst", seeds, "seed")
      .collect().head.getAs[scala.collection.Seq[String]]("recommendations")
    assert(recs == Seq(
      "CRITICAL: 1 gold layer tables affected - validate business logic",
      "Test changes in development environment with full data pipeline"))

    // wide fan-out into gold: HIGH + CRITICAL + multiple-tables lines, in rule order
    val wide = (1 to 7).map(i => ("hub", s"gold.t$i")).toDF("src", "dst")
    val recsWide = Lineage.impact(wide, "src", "dst", Seq("hub").toDF("seed"), "seed")
      .collect().head.getAs[scala.collection.Seq[String]]("recommendations")
    assert(recsWide == Seq(
      "HIGH IMPACT: Coordinate with downstream teams before making changes",
      "Consider implementing change in phases with rollback plan",
      "CRITICAL: 7 gold layer tables affected - validate business logic",
      "Test changes in development environment with full data pipeline",
      "Multiple tables affected - consider batching notifications",
      "Update data lineage documentation after changes"))

    // no downstream rules fire -> the LOW IMPACT fallback line
    val narrow = Seq(("hub", "t1")).toDF("src", "dst")
    val recsNarrow = Lineage.impact(narrow, "src", "dst", Seq("hub").toDF("seed"), "seed")
      .collect().head.getAs[scala.collection.Seq[String]]("recommendations")
    assert(recsNarrow == Seq("LOW IMPACT: Standard change management processes apply"))
  }

  test("building the walk is lazy: no Spark job, nothing persisted") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val (built, jobs) = countingJobs(Seq(
      Lineage.reachable(edges, "src", "dst", seeds, "seed", maxDepth = 5),
      Lineage.impact(edges, "src", "dst", seeds, "seed")))
    assert(jobs == 0, s"building the walk ran $jobs Spark jobs")
    assert(sc.getPersistentRDDs.keySet.toSet == persisted)
    built.foreach(_.collect())
    assert(sc.getPersistentRDDs.keySet.toSet == persisted,
      "collecting the walk left RDDs persisted")
  }

  /** Breadth-first reference walk: every path from a distinct seed over the
    * distinct edges, one edge per level up to `maxDepth`, that never
    * revisits a node already on it (the seed included).
    */
  private def referenceWalk(
      graph: Seq[(String, String)],
      seedNodes: Seq[String],
      maxDepth: Int): Seq[(String, String, Int, List[String])] = {
    val next = graph.distinct.groupMap(_._1)(_._2)
    seedNodes.distinct.flatMap { s =>
      Iterator
        .iterate(Seq(List(s)))(_.flatMap(p =>
          next.getOrElse(p.last, Nil).filterNot(p.contains).map(p :+ _)))
        .slice(1, maxDepth + 1)
        .flatten
        .map(p => (s, p.last, p.size - 1, p))
    }
  }

  test("traverse equals a breadth-first reference walk on random cyclic graphs (property, 21 cases)") {
    // up to 8 nodes: self-loops, duplicate edges and cycles all occur, and
    // every maxDepth from 0 to 6 is taken three times
    val node = Gen.chooseNum(0, 7).map(i => s"n$i")
    val gen = for {
      n <- Gen.chooseNum(0, 16)
      graph <- Gen.listOfN(n, Gen.zip(node, node))
      k <- Gen.chooseNum(1, 3)
      seedNodes <- Gen.listOfN(k, node)
    } yield (graph, seedNodes)
    val cases = (0 until 21).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)).map(c => (c, i % 7)))
    assert(cases.size == 21)
    val nonTrivial = cases.count { case ((graph, seedNodes), maxDepth) =>
      val got = Lineage
        .traverse(graph.toDF("src", "dst"), "src", "dst", seedNodes.toDF("seed"), "seed", maxDepth)
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getSeq[String](3).toList))
      val want = referenceWalk(graph, seedNodes, maxDepth)
      assert(got.sortBy(_.toString) == want.sortBy(_.toString),
        s"graph=$graph seeds=$seedNodes maxDepth=$maxDepth")
      want.exists(_._3 >= 2)
    }
    // non-vacuous: several cases walk past the first level
    assert(nonTrivial >= 5, s"only $nonTrivial cases reach depth 2")
  }
}
