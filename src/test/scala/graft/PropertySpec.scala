package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.bronze.Bronze
import graft.dml.Mutations

/** Property-based invariants (SURVEY §5: the reference has none; ScalaCheck
  * generators pin the contracts that matter — hash order-independence,
  * upsert idempotence, key-union preservation). Generators are driven with
  * fixed seeds (no scalatestplus bridge in the offline cache), so runs are
  * reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowGen: Gen[List[(String, Long, String)]] =
    Gen.listOfN(
      4,
      for {
        a <- Gen.alphaNumStr.map(_.take(12))
        b <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
        c <- Gen.option(Gen.alphaNumStr.map(_.take(8))).map(_.orNull)
      } yield (a, b, c))

  private val pairsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(6, Gen.zip(Gen.chooseNum(1L, 8L), Gen.alphaNumStr.map(_.take(6))))

  test("exactPercentilesByValue is bit-equal to percentile() on random data (property, 10 cases)") {
    // the scale-safe rank-pick percentile must reproduce the built-in's
    // interpolation EXACTLY — including non-dyadic p, heavy ties, negative
    // values, and single-row groups — or it could not replace it under the
    // PlanAuditSpec guard
    import graft.operators.Analytics
    // ~1 in 6 values null: the built-in SKIPS nulls, and the operator must
    // match that too (the round-14 review finding: counting null rows
    // shifted every rank); group 8 is ALL-null and must be ABSENT
    val gen: Gen[List[(Int, Option[Long])]] = Gen.listOfN(
      40, Gen.zip(Gen.chooseNum(1, 3),
        Gen.frequency(5 -> Gen.chooseNum(-50L, 50L).map(Some(_)),
          1 -> Gen.const(Option.empty[Long]))))
    val ps = Seq("p17" -> 0.17, "p25" -> 0.25, "p50" -> 0.5, "p9" -> 0.9, "p100" -> 1.0)
    samples(gen, 10).zipWithIndex.foreach { case (rows0, i) =>
      // group 9: single row; group 8: all-null (absent from the operator)
      val df = (rows0 :+ ((9, Option(7L))) :+ ((8, Option.empty[Long])))
        .toDF("g", "v")
      val mine = Analytics.exactPercentilesByValue(df, Seq("g"), "v", ps)
        .select(col("g") +: ps.map { case (nm, _) => col(nm) }: _*)
        .collect().map(r => r.getInt(0) -> ps.indices.map(j => r.getDouble(j + 1)))
        .toMap
      // the built-in emits all-null groups with null statistics; the
      // operator documents their ABSENCE instead — compare over the groups
      // with at least one non-null value
      val ref = df.where(col("v").isNotNull).groupBy(col("g"))
        .agg(
          percentile(col("v"), lit(0.17)).as("p17"),
          percentile(col("v"), lit(0.25)).as("p25"),
          percentile(col("v"), lit(0.5)).as("p50"),
          percentile(col("v"), lit(0.9)).as("p9"),
          percentile(col("v"), lit(1.0)).as("p100"))
        .collect().map(r => r.getInt(0) -> ps.indices.map(j => r.getDouble(j + 1)))
        .toMap
      assert(mine.keySet == ref.keySet, s"case $i: group sets differ")
      assert(!mine.contains(8), s"case $i: the all-null group must be absent")
      ref.foreach { case (g, exp) =>
        val got = mine(g)
        exp.zip(got).zip(ps).foreach { case ((e, a), (nm, _)) =>
          assert(java.lang.Double.doubleToLongBits(e) ==
            java.lang.Double.doubleToLongBits(a),
            s"case $i group $g $nm: expected $e, got $a (bit mismatch)")
        }
      }
    }
  }

  test("row hash is invariant under column permutation (property, 10 cases)") {
    samples(rowGen, 10).foreach { rows =>
      val df = rows.toDF("c1", "c2", "c3")
      val h1 = df.select(Bronze.rowHash(Seq("c1", "c2", "c3")).as("h"))
        .as[String].collect().toSeq
      val h2 = df.select(col("c3"), col("c1"), col("c2"))
        .select(Bronze.rowHash(Seq("c3", "c1", "c2")).as("h"))
        .as[String].collect().toSeq
      assert(h1 == h2, s"hash changed under permutation for $rows")
    }
  }

  test("upsert is idempotent for any key overlap (property, 10 cases)") {
    samples(Gen.zip(pairsGen, pairsGen), 10).foreach { case (t, s) =>
      val target = t.distinctBy(_._1).toDF("id", "v")
      val source = s.distinctBy(_._1).toDF("id", "v")
      val once = Mutations.upsert(target, source, Seq("id")).collect().toSet
      val twice = Mutations
        .upsert(Mutations.upsert(target, source, Seq("id")), source, Seq("id"))
        .collect().toSet
      assert(once == twice, s"not idempotent for target=$t source=$s")
    }
  }

  test("upsert output keys = target keys ∪ source keys (property, 10 cases)") {
    samples(Gen.zip(pairsGen, pairsGen), 10).foreach { case (t, s) =>
      val target = t.distinctBy(_._1).toDF("id", "v")
      val source = s.distinctBy(_._1).toDF("id", "v")
      val out = Mutations.upsert(target, source, Seq("id"))
        .select("id").as[Long].collect().toSet
      assert(out == (t.map(_._1).toSet ++ s.map(_._1).toSet))
    }
  }

  private val docsGen: Gen[List[(Long, String, String)]] =
    Gen.listOfN(
      8,
      for {
        id <- Gen.chooseNum(0L, 30L)
        words <- Gen.listOfN(5, Gen.oneOf("alpha", "beta", "gamma", "delta", "x9"))
        src <- Gen.oneOf("s1", "s2", "s3")
      } yield (id, words.mkString(" "), src))

  test("packSequences conserves documents and tokens (property, 10 cases)") {
    samples(docsGen, 10).foreach { rows =>
      val docs = rows.distinctBy(_._1).toDF("doc_id", "text", "source")
      val packed = graft.operators.Curation
        .packSequences(docs, "source", "doc_id", "text", tokenBudget = 7)
        .collect()
      val totalDocs = packed.map(_.getAs[Long]("n_docs")).sum
      val totalTokens = packed.map(_.getAs[Long]("total_tokens")).sum
      assert(totalDocs == docs.count(), s"docs lost/duplicated for $rows")
      val expectedTokens = docs
        .select(sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")))
        .as[Long].head()
      assert(totalTokens == expectedTokens, s"tokens not conserved for $rows")
    }
  }

  test("stratifiedSample is a deterministic subset of exact size (property, 10 cases)") {
    samples(docsGen, 10).foreach { rows =>
      val docs = rows.distinctBy(_._1).toDF("doc_id", "text", "source")
      val k = 2
      val sampled = graft.operators.Curation
        .stratifiedSample(docs, "source", "doc_id", k)
      val ids = sampled.select("doc_id").as[Long].collect().toSet
      val all = docs.select("doc_id").as[Long].collect().toSet
      assert(ids.subsetOf(all))
      val perStratum = sampled.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sizes = docs.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      sizes.foreach { case (s, n) =>
        assert(perStratum.getOrElse(s, 0L) == math.min(k.toLong, n),
          s"stratum $s expected min($k, $n) for $rows")
      }
    }
  }

  test("contamination rate is 1 when the eval set is inside train (property, 10 cases)") {
    samples(docsGen, 10).foreach { rows =>
      val docs = rows.distinctBy(_._1).toDF("doc_id", "text", "source")
      val out = graft.operators.Curation
        .contamination(docs, docs, "doc_id", "text", shingleN = 2)
        .collect()
      assert(out.forall(_.getAs[Double]("contamination_rate") == 1.0),
        s"self-contained eval must be fully contaminated for $rows")
    }
  }

  private val asofGen: Gen[(List[(Long, Long, Int)], List[(Long, Long, Int)])] = {
    val side = Gen.listOfN(
      12,
      for {
        id <- Gen.chooseNum(1L, 1000L)
        k <- Gen.chooseNum(0L, 3L)
        t <- Gen.chooseNum(0, 50)
      } yield (id, k, t))
    Gen.zip(side, side)
  }

  test("asofJoin equals naive theta-join + dedup on random data (property, 10 cases)") {
    import org.apache.spark.sql.expressions.Window
    samples(asofGen, 10).foreach { case (l, r) =>
      val left = l.distinctBy(_._1)
        .map { case (id, k, t) => (id, k, new java.sql.Timestamp(t * 60000L)) }
        .toDF("l_id", "k", "l_ts")
      val right = r.distinctBy(_._1)
        .map { case (id, k, t) => (1000 + id, k, new java.sql.Timestamp(t * 60000L)) }
        .toDF("r_id", "k", "r_ts")
        // contract: right side deduped per (key, ts)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k"), col("r_ts")).orderBy(col("r_id").desc)))
        .where(col("rn") === 1).drop("rn")
      val fast = graft.operators.AsOfJoin
        .asofJoin(left, right, Seq("k"), "l_ts", "r_ts", Seq("r_id"))
        .select(col("l_id"), col("asof.r_id"))
        .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
      val naive = left.join(right, Seq("k"), "left")
        .where(col("r_ts").isNull || col("r_ts") <= col("l_ts"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_id")).orderBy(col("r_ts").desc_nulls_last)))
        .where(col("rn") === 1)
        .select(col("l_id"), when(col("r_ts") <= col("l_ts"), col("r_id")).as("r_id"))
        .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
      left.select("l_id").as[Long].collect().foreach { id =>
        assert(fast.get(id).flatten == naive.get(id).flatten,
          s"as-of mismatch for left $id: fast=${fast.get(id)} naive=${naive.get(id)} l=$l r=$r")
      }
    }
  }

  test("intervalJoin equals the naive range join on random data (property, 10 cases)") {
    val gen = Gen.zip(
      Gen.listOfN(20, Gen.zip(Gen.chooseNum(1L, 500L), Gen.chooseNum(0, 400))),
      Gen.listOfN(5, Gen.zip(Gen.chooseNum(0, 300), Gen.chooseNum(1, 150))))
    samples(gen, 10).foreach { case (ps, is) =>
      val points = ps.distinctBy(_._1).map { case (id, v) => (id, v.toDouble) }.toDF("id", "v")
      val intervals = is.zipWithIndex
        .map { case ((lo, w), i) => (i.toLong, lo.toDouble, (lo + w).toDouble) }
        .toDF("band", "lo", "hi")
      val fast = graft.operators.RangeJoin
        .intervalJoin(points, "v", intervals, "lo", "hi", chunkWidth = 37.0)
        .select("id", "band").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = points.join(intervals, col("v") >= col("lo") && col("v") < col("hi"))
        .select("id", "band").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == naive, s"range-join mismatch: ps=$ps is=$is")
    }
  }

  private val ccPairsGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))
      .map(_.filter { case (a, b) => a != b })

  test("winnowedFingerprints equals a driver-side reference winnow (property, 12 cases)") {
    val p = graft.functions.Sha60.Mersenne31
    val wordsGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")))
    samples(wordsGen, 12).foreach { words =>
      val text = words.mkString(" ")
      val out = Seq(Tuple1(text)).toDF("text")
        .select(graft.operators.Dedup.winnowedFingerprints(col("text"), 3, 4).as("f"))
        .collect().head.getSeq[Long](0).toSeq
      val hs = if (words.size < 3) Seq.empty[Long]
        else words.sliding(3).map(g => graft.functions.Sha60.hashString(g.mkString(" ")) % p).toSeq
      val expected =
        if (hs.isEmpty) Seq.empty[Long]
        else if (hs.size < 4) Seq(hs.min)
        else hs.sliding(4).map(_.min).toSeq.distinct
      assert(out == expected, s"winnow mismatch for words=$words: got $out expected $expected")
    }
  }

  test("tokenBudgetSample equals the driver-side hash-rank prefix (property, 10 cases)") {
    samples(docsGen, 10).foreach { rows =>
      val docs = rows.distinctBy(_._1).toDF("doc_id", "text", "source")
      val out = graft.operators.Curation
        .tokenBudgetSample(docs, "doc_id", "text", "source", budget = 9L)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      val expected = rows.distinctBy(_._1).groupBy(_._3).flatMap { case (_, ds) =>
        val ordered = ds.sortBy(d => (graft.functions.Sha60.hashString(d._1.toString), d._1))
        var cum = 0L
        ordered.flatMap { case (id, text, _) =>
          val n = text.split("\\s+").count(_.nonEmpty).toLong
          val start = cum
          cum += n
          if (start < 9L) Some(id -> cum) else None
        }
      }.toMap
      assert(out == expected, s"budget prefix mismatch for rows=$rows: got $out expected $expected")
    }
  }

  test("duplicateClusters labels = component minimum, closed under edges (property, 10 cases)") {
    samples(ccPairsGen, 10).foreach { pairs =>
      val out = graft.operators.Dedup
        .duplicateClusters(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference union-find on the driver
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = nodes.map { n =>
        val root = find(n)
        n -> nodes.filter(m => find(m) == root).min
      }.toMap
      assert(out == expected, s"cluster mismatch for pairs=$pairs")
    }
  }

  /** Fuzz corpus for the native-kernel parity tests: ascii, BMP unicode
    * (latin-1 supplement through CJK), astral emoji (surrogate pairs),
    * empty/whitespace-only strings, and documents with fewer tokens than the
    * shingle width — the codegen kernels must agree with their HOF oracles
    * on every one of them, not just on well-formed English.
    */
  private val fuzzDocGen: Gen[String] = {
    val codePoint = Gen.frequency(
      5 -> Gen.choose(0x21, 0x7e),
      2 -> Gen.choose(0xa0, 0x2fff),
      1 -> Gen.choose(0x4e00, 0x9fff),
      1 -> Gen.oneOf(0x1f600, 0x1f680, 0x10348)
    ).map(cp => new String(Character.toChars(cp)))
    val token = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, codePoint).map(_.mkString))
    Gen.frequency(
      1 -> Gen.const(""),
      1 -> Gen.const(" \t\n  "),
      2 -> Gen.chooseNum(0, 2).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" "))),
      6 -> Gen.chooseNum(3, 40).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" "))))
  }

  test("native minhash/winnow/simhash kernels match their HOF oracles on fuzzed input (400 docs)") {
    import graft.functions.TextFunctions.shingles
    import graft.operators.Dedup
    val texts = samples(fuzzDocGen, 400)
    assert(texts.exists(_.isEmpty) && texts.exists(t => t.split("\\s+").count(_.nonEmpty) < 3),
      "generator must cover empty and sub-shingle-width documents")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // null-safe comparison (<=>): empty input may legitimately produce
    // null/empty on both sides — a plain =!= would silently skip those rows
    val mismatches = docs
      .select(
        col("doc_id"),
        graft.functions.MinHashSignatureExpr.minhashFast(shingles(col("text"), 1), 16).as("mh_fast"),
        Dedup.minhashSignatureOfShingles(shingles(col("text"), 1), 16).as("mh_hof"),
        graft.functions.WinnowExpr.winnowFast(shingles(col("text"), 3), 4).as("w_fast"),
        Dedup.winnowedFingerprints(col("text"), 3, 4).as("w_hof"),
        Dedup.simhash64(col("text")).as("sh_fast"),
        Dedup.simhash64Hof(col("text")).as("sh_hof"))
      .where(!(col("mh_fast") <=> col("mh_hof")) ||
        !(col("w_fast") <=> col("w_hof")) ||
        !(col("sh_fast") <=> col("sh_hof")))
      .collect()
    assert(mismatches.isEmpty,
      s"kernel/HOF divergence on ${mismatches.length} fuzzed docs, first: ${mismatches.headOption}")
  }

  test("SortedSetOverlap matches array_intersect/array_union on fuzzed sorted-distinct pairs") {
    import graft.functions.TextFunctions.shingles
    val texts = samples(fuzzDocGen, 400)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // pair doc i with doc i+200: arbitrary disjoint/overlapping unicode sets,
    // including empty ones (both-empty yields n_union = 0 on both sides)
    val sets = docs.select(
      col("doc_id"),
      array_sort(array_distinct(shingles(col("text"), 1))).as("s"))
    val pairs = sets
      .join(
        sets.select((col("doc_id") - 200L).as("doc_id"), col("s").as("s2")),
        Seq("doc_id"))
    val mismatches = pairs
      .select(
        col("doc_id"),
        graft.functions.SortedSetOverlap.overlapFast(col("s"), col("s2")).as("ov"),
        size(array_intersect(col("s"), col("s2"))).as("bi"),
        size(array_union(col("s"), col("s2"))).as("bu"))
      .where(col("ov.n_intersect") =!= col("bi") || col("ov.n_union") =!= col("bu"))
      .collect()
    assert(mismatches.isEmpty,
      s"overlap/built-in divergence on ${mismatches.length} pairs, first: ${mismatches.headOption}")
  }

  test("bloom filter never false-negatives on fuzzed keys; serialization round-trips (property, 10 cases)") {
    import graft.functions.{BloomFilterAgg, BloomParams}
    val keysGen = Gen.listOfN(300,
      Gen.chooseNum(Long.MinValue + 1, Long.MaxValue))
    samples(keysGen, 10).zipWithIndex.foreach { case (keys0, i) =>
      val keys = keys0.distinct
      val (m, k) = BloomParams.size(keys.length.toLong, 0.01)
      // driver-side build through the same kernels the aggregate uses
      val words = new Array[Long](m >>> 6)
      keys.foreach { v =>
        (0 until k).foreach(j => BloomParams.setBit(words, BloomParams.bitOf(v, j, m)))
      }
      val bytes = BloomParams.serialize(m, k, words)
      val (m2, k2, words2) = BloomParams.deserialize(bytes)
      assert(m2 == m && k2 == k && java.util.Arrays.equals(words, words2),
        s"serialize/deserialize must round-trip (case $i)")
      // distributed build over shuffled partitions must equal the driver build
      val distBytes = keys.toDF("k").repartition(3 + i % 5)
        .agg(BloomFilterAgg.bloomBuild(col("k"), m, k))
        .head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(bytes, distBytes),
        s"distributed OR-merge build must match the sequential build (case $i)")
      // no false negatives, ever
      assert(keys.forall { v =>
        (0 until k).forall(j => BloomParams.getBit(words, BloomParams.bitOf(v, j, m)))
      }, s"false negative in case $i")
    }
  }
}
