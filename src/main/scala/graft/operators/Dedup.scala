package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard — the four standard tiers, each expressed as
  * shuffles on hash keys (never pairwise over the corpus).
  *
  * Scale design: exact dedup is one hash-shuffle; MinHash/SimHash candidate
  * generation is a band-bucket shuffle whose fan-out is bounded by bucket
  * size, so the quadratic pair-verification only ever runs inside small
  * buckets. At 100 TB the only dangerous step is a degenerate bucket (e.g.
  * all-empty documents hashing together) — callers should cap bucket size or
  * pre-filter degenerate docs.
  */
object Dedup {

  /** Exact duplicate groups by normalized-text MD5: one row per distinct
    * content hash with its canonical (minimum) id and occurrence count.
    */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(normalizeText(text)).as("content_hash"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Exact dedup: keep one row (minimum id) per normalized content. Works
    * for any orderable id type (string ids included).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Analytics.dedupFirst(
      df.withColumn("_content_hash", md5(normalizeText(col(textCol)))),
      keys = Seq(col("_content_hash")),
      orderBy = Seq(col(idCol))).drop("_content_hash")

  /** Blocking-based fuzzy duplicate detection — the entity-resolution
    * tier of the dedup ladder: exact (hash) and set-similarity (MinHash /
    * SimHash / winnowing) miss near-identical records that differ by a
    * few CHARACTER edits (typos, truncations, re-crawled titles); an
    * edit-distance gate catches exactly those. Returns `(id_a, id_b,
    * edit_distance)` for pairs whose normalized `keyTokens`-token prefix
    * key is within `maxDist` Levenshtein edits.
    *
    * Candidates come from BLOCKING, the standard ER scale move: only
    * records sharing a cheap block key (the key's first token) are
    * compared, so candidate work is Σ block² — never N² — and blocks
    * larger than `maxBlockSize` are dropped whole (a block that big is a
    * stopword-grade key carrying no discriminating signal; the capped-
    * LSH-bucket precedent). `levenshtein` is an integer builtin in both
    * engines, so gated pairs certify bit-for-bit.
    */
  def fuzzyNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keyTokens: Int = 8,
      maxDist: Int = 6,
      maxBlockSize: Int = 200): DataFrame = {
    val keyed = df.select(col(idCol).as("doc_id"),
        concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(col(textCol)), 1, keyTokens))
          .as("_key"))
      .withColumn("_blk", element_at(split(col("_key"), " "), 1))
    val capped = keyed
      .withColumn("_bs", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("_blk"))))
      .where(col("_bs") <= maxBlockSize)
    // Two LOSSLESS gates before (and inside) the edit-distance kernel:
    // levenshtein ≥ |len(a) − len(b)|, so the length band drops pairs a
    // character count already rules out, and the THRESHOLDED kernel
    // (levenshtein(a, b, k) — banded DP, O(len·k) not O(len²), -1 past k)
    // abandons a row the moment its running distance exceeds `maxDist`.
    // Neither changes the result set — only who pays for the rejection.
    capped.select(col("doc_id").as("id_a"), col("_key").as("_ka"), col("_blk"))
      .join(capped.select(col("doc_id").as("id_b"), col("_key").as("_kb"), col("_blk")),
        Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .where(abs(length(col("_ka")) - length(col("_kb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ka"), col("_kb"), maxDist).cast("long").as("edit_distance"))
      .where(col("edit_distance") >= 0)
  }

  /** MinHash signature: `numHashes` permutation-minima over word-`n`-gram
    * shingle hashes. Hash family h_j(x) = (a_j·x + b_j) mod p with
    * deterministic odd a_j, b_j; shingle base-hash via [[graft.functions.Sha60]]
    * (sha256-prefix, DuckDB-replicable) reduced mod p so products stay within
    * Long (ANSI-safe).
    */
  def minhashSignature(text: Column, numHashes: Int, shingleN: Int): Column =
    minhashSignatureOfShingles(shingles(text, shingleN), numHashes)

  /** MinHash signature from an existing shingle-array column. Min is
    * duplicate-insensitive, so a distinct or raw shingle array give the same
    * signature — callers that already materialized `array_distinct(shingles)`
    * can reuse that column and compute the shingle pass once.
    */
  def minhashSignatureOfShingles(shingleCol: Column, numHashes: Int): Column = {
    val p = lit(2147483647L) // 2^31 − 1
    val aArr = array((0 until numHashes).map(j => lit(2L * j + 1)): _*)
    val bArr = array((0 until numHashes).map(j => lit(104729L * (j + 1))): _*)
    val idx = array((1 to numHashes).map(lit): _*)
    val baseHashes = transform(shingleCol, s => pmod(graft.functions.Sha60.sha60(s), p))
    // One fold over the shingle hashes updating all minima at once: the
    // naive `numHashes × array_min(transform(...))` shape re-evaluates the
    // shingle+xxhash subtree per hash function (Catalyst inlines shared
    // higher-order subexpressions) — 16× the work.
    aggregate(
      baseHashes,
      array_repeat(p, numHashes),
      (acc, h) =>
        zip_with(
          acc,
          idx,
          (m, j) => least(m, pmod(element_at(aArr, j) * h + element_at(bArr, j), p))))
  }

  /** Corpus-LEVEL MinHash sketch: one `numHashes`-component signature per
    * CORPUS (source, snapshot, domain…), not per document — component j is
    * the j-th permutation minimum over the UNION of all member documents'
    * shingle hashes. Because min distributes over union, this equals the
    * component-wise min of the members' [[minhashSignature]]s, so the
    * sketch of a merged corpus is the element-wise min of the parts'
    * sketches (mergeable, spec-pinned).
    *
    * Scale shape: one text scan, per-doc-distinct shingle explode, then ONE
    * hash aggregation whose state is `numHashes` longs per corpus with
    * map-side partial combine — two 100 TB corpora are compared by shipping
    * k longs each. Same hash family as the per-doc operators
    * ([[graft.functions.Sha60]] base, (2j+1)·h + 104729·(j+1) mod 2³¹−1),
    * so the DuckDB oracle reproduces the sketch bit-for-bit.
    */
  def corpusMinhashSketch(
      df: DataFrame,
      corpusCol: String,
      textCol: String,
      numHashes: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val p = lit(graft.functions.Sha60.Mersenne31)
    val base = df
      .select(
        col(corpusCol).as("corpus"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("_s"))
      .select(col("corpus"), pmod(graft.functions.Sha60.sha60(col("_s")), p).as("_h"))
    val mins = (0 until numHashes).map(j =>
      min(pmod(lit(2L * j + 1) * col("_h") + lit(104729L * (j + 1)), p)).as(s"_m$j"))
    base.groupBy(col("corpus"))
      .agg(mins.head, mins.tail: _*)
      .select(col("corpus"),
        array((0 until numHashes).map(j => col(s"_m$j")): _*).as("sketch"))
  }

  /** Pairwise corpus-overlap estimate from [[corpusMinhashSketch]]:
    * `jaccard_est` = matching-components / `numHashes` — the standard
    * MinHash estimator of the Jaccard similarity of the two corpora's
    * SHINGLE VOCABULARIES (which near-dup and shared documents inflate).
    * The cross-source duplication radar that needs no pairwise document
    * work at all.
    *
    * Pairs are generated by an EQUI-join on (component index, min value) —
    * only corpus pairs agreeing on at least one component appear (absent
    * pair ⇒ estimate 0, below one-component resolution), so there is no
    * cartesian/NLJ over corpora: the plan stays a key-shuffle join even at
    * millions of corpora (domains), exactly the LSH-bucket philosophy one
    * level up.
    */
  def corpusSketchSimilarity(
      df: DataFrame,
      corpusCol: String,
      textCol: String,
      numHashes: Int = 16,
      shingleN: Int = 3): DataFrame = {
    // eager: both join sides read the sketch — uncached, the corpus text
    // scan and shingle explode would run twice. Sketch-sized: k longs per
    // corpus.
    val comp = graft.core.Caching.eager(
      corpusMinhashSketch(df, corpusCol, textCol, numHashes, shingleN)
        .select(col("corpus"), posexplode(col("sketch")).as(Seq("_j", "_m"))))
    comp.select(col("corpus").as("corpus_a"), col("_j"), col("_m"))
      .join(comp.select(col("corpus").as("corpus_b"), col("_j"), col("_m")),
        Seq("_j", "_m"))
      .where(col("corpus_a") < col("corpus_b"))
      .groupBy(col("corpus_a"), col("corpus_b"))
      .agg(count(lit(1)).as("matching_components"))
      .withColumn("jaccard_est",
        col("matching_components").cast("double") / lit(numHashes.toDouble))
  }

  /** MinHash+LSH near-duplicate candidate pairs: signatures split into
    * `numBands` bands; documents sharing any band bucket become a candidate
    * pair, then pairs are verified with exact shingle-set Jaccard and kept at
    * `minJaccard`. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * The band explode produces `numBands` rows per doc; the self-join is on
    * (band, band_hash) — a key-equi shuffle join, never a cross join.
    */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 50): DataFrame = {
    // The shingle pass feeds two consumers (band generation and the final
    // jaccard verify); persist it so tokenize+shingle+hash runs once.
    // MEMORY_AND_DISK: at corpus scale the shingle sets exceed memory and
    // spill, which still beats recomputing the regex tokenization.
    // No array_distinct anywhere: MinHash minima are duplicate-insensitive,
    // and array_intersect/array_union deduplicate internally — the explicit
    // distinct pass was pure overhead.
    // eager: three consumers (band explode + two set-attach joins) would
    // otherwise each inline and recompute the cold cache's subtree under
    // AQE's independent stage planning (see graft.core.Caching)
    val docs = graft.core.Caching.eager(
      sigDocs(df, idCol, textCol, shingleN, numHashes))
    minhashNearDuplicatesFromSigs(docs, numBands, numHashes / numBands,
      minJaccard, maxBucketSize)
  }

  /** [[minhashNearDuplicates]] over an ALREADY-SIGNED frame — `docs` must
    * be a [[sigDocs]] output `(doc_id, shingle_set, sig)` that the CALLER
    * has persisted/materialized (this entry point adds no caching of its
    * own). The point: pipelines that run several LSH passes over
    * overlapping populations (e.g. q100's corpus-pairs + delta-pairs +
    * cross-probe over two disjoint filters of ONE table) sign the union
    * once and pass filtered views here, instead of paying the
    * tokenize+shingle+minhash scan once per pass.
    */
  def minhashNearDuplicatesFromSigs(
      docs: DataFrame,
      numBands: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucketSize: Int = 50): DataFrame = {
    requireBandingFits(docs, numBands, rowsPerBand)
    // Bands carry ONLY (doc_id, band, band_hash): the shingle arrays are
    // attached per-key after candidate pairs are deduped, so the band
    // shuffle moves ids, not documents.
    val banded = bandFrame(docs, numBands, rowsPerBand)

    // One shuffle generates all candidate pairs: group each band bucket into
    // a skew-BOUNDED id array ([[cappedIdBuckets]]), drop degenerate buckets
    // on the true count (a bucket of size s yields s(s−1)/2 pairs, so one
    // boilerplate-heavy bucket turns the step quadratic — at sf0.1 that was
    // 94% of total bench time), and enumerate the pairs inside the
    // aggregated array.
    val buckets = cappedIdBuckets(
      banded, Seq("band", "band_hash"), "doc_id", minSize = 2, maxSize = maxBucketSize)
    // one sort + O(b²) struct emission per bucket ([[graft.functions
    // .TextFunctions.triangularPairs]] — shared with winnowing and spans)
    val pairCombos = graft.functions.TextFunctions.triangularPairs(col("ids"))(
      (a, b) => struct(a.as("id_a"), b.as("id_b")))
    val pairs = buckets
      .select(explode(pairCombos).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    val sets = docs.select(col("doc_id"), col("shingle_set"))
    pairs
      .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingle_set", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingle_set", "set_b"), Seq("id_b"))
      .withColumn(
        "jaccard",
        graft.functions.SortedSetOverlap.jaccardFast(col("set_a"), col("set_b")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Size-capped LSH bucket aggregation: one row per `keys` group whose TRUE
    * size is within [`minSize`, `maxSize`], carrying the group's complete id
    * array as `ids` — the skew-safe form of
    * `groupBy(keys).agg(collect_list(id)).where(size between ...)`.
    *
    * A plain collect_list materializes a degenerate mega-bucket's FULL id
    * array in one aggregation buffer before the size filter can drop it — a
    * single-task OOM at 100 TB (one boilerplate shingle shared by 10M docs
    * is a multi-GB buffer). For Long ids this uses the native
    * [[graft.functions.CollectLongCapped]] aggregate: the ORIGINAL
    * single-shuffle plan shape with every buffer bounded at `maxSize` Longs
    * (a count-first + semi-join reshape is equally safe but measured ~1.5×
    * on the q65 curation pipeline — an extra aggregation and join pass).
    * Groups passing the true-count filter are never truncated, so results
    * are identical to the unbounded formulation. String ids use the same
    * bounded single-pass shape via [[graft.functions.CollectStringCapped]];
    * any other id type takes the count-first + left-semi route (same
    * semantics, two passes).
    */
  private def cappedIdBuckets(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      minSize: Int,
      maxSize: Int): DataFrame = {
    val keyCols = keys.map(col)
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.groupBy(keyCols: _*)
          .agg(graft.functions.CollectLongCapped
            .collectCapped(col(idCol), maxSize).as("_bucket"))
          .where(col("_bucket.total").between(minSize, maxSize))
          .select(keyCols :+ col("_bucket.ids").as("ids"): _*)
      case org.apache.spark.sql.types.StringType =>
        df.groupBy(keyCols: _*)
          .agg(graft.functions.CollectStringCapped
            .collectCapped(col(idCol), maxSize).as("_bucket"))
          .where(col("_bucket.total").between(minSize, maxSize))
          .select(keyCols :+ col("_bucket.ids").as("ids"): _*)
      case _ =>
        // count(idCol), not count(*): the Long branch's aggregate counts only
        // non-null ids, and the two branches must agree on whether a group
        // with null ids passes the size filter
        val keep = df.groupBy(keyCols: _*)
          .agg(count(col(idCol)).as("_bs"))
          .where(col("_bs").between(minSize, maxSize))
          .select(keyCols: _*)
        df.join(keep, keys, "left_semi")
          .groupBy(keyCols: _*)
          .agg(collect_list(col(idCol)).as("ids"))
    }
  }

  /** Shingle sets + MinHash signatures for one side of an LSH pipeline:
    * (doc_id, shingle_set, sig). Documents with no shingle are dropped.
    */
  private[graft] def sigDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int): DataFrame =
    df.select(
        col(idCol).as("doc_id"),
        // sorted-distinct ONCE PER DOCUMENT: the pair verify then runs the
        // native SortedSetOverlap merge instead of building a hash set per
        // candidate PAIR (array_intersect/array_union interpreted eval —
        // profiled as a top executor stack of the q65 pipeline). MinHash
        // minima are duplicate- and order-insensitive, so the signature is
        // unchanged; jaccard over sets is representation-independent.
        array_sort(array_distinct(shingles(col(textCol), shingleN))).as("shingle_set"))
      .where(size(col("shingle_set")) > 0)
      .select(
        col("doc_id"),
        col("shingle_set"),
        // signature length rides in the column's schema metadata (the
        // graft.streaming.DocStream LSH-params pattern): the FromSigs entry
        // points take (numBands, rowsPerBand) as free ints, and a value
        // inconsistent with the signature length would silently mis-band —
        // slice() past the array end yields short/empty band keys — so they
        // require numBands * rowsPerBand <= this recorded length
        graft.functions.MinHashSignatureExpr
          .minhashFast(col("shingle_set"), numHashes).as("sig",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(NumHashesMetaKey, numHashes.toLong).build()))

  private[graft] val NumHashesMetaKey = "graft.minhash.sigNumHashes"

  /** Guard for the FromSigs entry points: when the signed frame carries
    * [[sigDocs]]' signature-length metadata, a banding scheme that would
    * read past the signature is rejected instead of silently generating
    * wrong (truncated) band keys. Frames without the metadata (externally
    * built) pass through — the guard is best-effort by design.
    */
  private def requireBandingFits(sigs: DataFrame, numBands: Int, rowsPerBand: Int): Unit = {
    val meta = sigs.schema("sig").metadata
    if (meta.contains(NumHashesMetaKey)) {
      val n = meta.getLong(NumHashesMetaKey)
      require(numBands.toLong * rowsPerBand <= n,
        s"banding $numBands x $rowsPerBand exceeds the $n-hash signature " +
          "(would slice past the array and mis-band)")
    }
  }

  /** LSH band keys for a signature frame: (doc_id, band, band_hash). The
    * band key is the signature slice itself rendered as a string — only
    * equality matters, and the plain value (unlike a hash of it) is
    * reproducible by any SQL engine for the driver oracle.
    */
  private[graft] def bandFrame(docs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    docs.select(
        col("doc_id"),
        explode(
          array((0 until numBands).map { b =>
            struct(
              lit(b).as("band"),
              array_join(
                slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("array<string>"),
                "_").as("band_hash"))
          }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_hash"))

  /** EXACT edit-distance-≤1 similarity join (FastSS deletion
    * neighborhoods): all pairs of rows whose strings are within ONE
    * insertion/deletion/substitution — the typo-dedup primitive for short
    * keys (names, SKUs, codes) where MinHash shingles are useless (a
    * one-character edit barely moves token sets) and a pairwise
    * levenshtein join is quadratic.
    *
    * Blocking is EXACT, not probabilistic: `ed(a,b) ≤ 1` implies the
    * deletion neighborhoods `{s} ∪ del₁(s)` intersect (delete the edited
    * position on whichever side has it), so joining on neighborhood
    * members finds every qualifying pair; the levenshtein verification
    * then kills the false candidates the converse admits (e.g. "ab"/"ba"
    * share both "a" and "b" at distance 2). Candidate buckets are
    * alphabet-bounded for substitution-style corpora (a deletion variant
    * is shared only by strings equal everywhere else), and a bucket of k
    * IDENTICAL strings yields k(k−1)/2 genuine pairs — the work is
    * OUTPUT-bounded, never corpus-quadratic. One explode (factor
    * len+1), one equi-join on the variant, one distinct on the
    * candidate pair frame.
    *
    * Physical shape: the exploded frame carries `xxhash64(variant)`, not
    * the variant string — the candidate join, its shuffle, and the pair
    * distinct all move (long, long) ids only, and the strings re-attach
    * by id for the levenshtein verify. A 64-bit hash collision can only
    * ADD a false candidate (equal strings always hash equal), which the
    * verify kills — exactness is unaffected.
    *
    * Contract: `idCol` must be an integral column (checked at plan time —
    * the pair output is (long, long); a silently-lossy cast would drop
    * rows), a NULL id raises at execution (a null id would make its
    * pairs vanish through the `id_a < id_b` predicate), and ids must be
    * UNIQUE per row — the verify re-attaches strings by id after the
    * candidate-pair distinct, so a duplicated id would fan that join out
    * and emit its pairs once per duplicate (dedup on the id first, or use
    * [[exactDedup]] to collapse identical rows). Rows whose string
    * is NULL are excluded — no edit distance is defined for them.
    *
    * Returns `(id_a, id_b, dist)` with `id_a < id_b` and
    * `dist ∈ {0, 1}` (0 = exact duplicates, found through the identity
    * member of the neighborhood).
    */
  def editDistanceOneDuplicates(
      df: DataFrame,
      idCol: String,
      strCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"editDistanceOneDuplicates: id column '$idCol' must be an integral " +
        s"type (got $idType) — pair emission orders ids as longs")
    val vid = when(col(idCol).isNull,
        raise_error(lit(s"editDistanceOneDuplicates: null id in '$idCol' — " +
          "null ids cannot participate in ordered pair emission")))
      .otherwise(col(idCol).cast("long"))
    // the verify re-attaches strings by id on both pair sides — eager so
    // the source scan runs once (q181 two-consumer discipline)
    val strs = graft.core.Caching.eager(
      df.select(vid.as("vid"), col(strCol).as("nm"))
        .where(col("nm").isNotNull))
    // ids + hashed deletion variants only: both sides of the candidate
    // self-join consume this frame, and nothing string-typed shuffles.
    // r19: the variant strings are never materialized — the native kernel
    // (DeletionHashesExpr) emits xxhash64(identity) :: xxhash64(one char
    // deleted each), bit-identical to the interpreted
    // transform+substring+concat chain it replaced (TextStatExprsSpec)
    val vars = graft.core.Caching.eager(strs
      .select(col("vid"),
        explode(graft.functions.DeletionHashesExpr.fast(col("nm"))).as("vh")))
    val a = vars.alias("a")
    val b = vars.alias("b")
    val cand = a.join(b, col("a.vh") === col("b.vh") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
    // banded verify: levenshtein(a, b, 1) runs the threshold-bounded DP
    // (O(len·k) cells, k = 1) and returns -1 past the band — on the
    // ~20-char name corpus that is ~9x fewer DP cells per candidate pair
    // than the unbounded O(len²) form, with identical output (the banded
    // DP is exact for every distance it does not report as -1, and
    // `banded >= 0` ≡ `full <= 1`)
    cand
      .join(strs.select(col("vid").as("id_a"), col("nm").as("na")), Seq("id_a"))
      .join(strs.select(col("vid").as("id_b"), col("nm").as("nb")), Seq("id_b"))
      .where(levenshtein(col("na"), col("nb"), 1) >= 0)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("na"), col("nb"), 1).cast("long").as("dist"))
  }

  /** Null-id guard shared by the span family: a NULL document id would
    * otherwise make every span touching the row vanish silently through
    * the `doc_id =!= doc_id` pair filter (the editDistanceOneDuplicates
    * bug class) — raise loudly at execution instead.
    */
  private def guardedId(idCol: String, op: String): Column =
    when(col(idCol).isNull, raise_error(lit(
      s"$op: null id in '$idCol' — null ids would silently drop their spans")))
      .otherwise(col(idCol))

  /** The span family's positioned gram frame: one (doc_id, pos, h) row per
    * L-token gram — `pos` 1-based, `h` the [[graft.functions.Sha60]] gram
    * hash. Shared by the batch, incremental, and index-building span
    * entry points so their tokenization cannot drift.
    */
  private def spanGrams(
      df: DataFrame, idCol: String, textCol: String, l: Int,
      op: String): DataFrame =
    // fused native gram-hash (r19): one sha256 per gram straight off the
    // byte slice, replacing posexplode(shingles)+sha60's per-gram
    // interpreted concat + hex + base-conversion chain; hashes (and so
    // every downstream band/cap/oracle contract) are bit-identical —
    // GramExprsSpec pins the kernel against the HOF formulation
    df.select(
        guardedId(idCol, op).as("doc_id"),
        posexplode(graft.functions.SpanGramHashesExpr.spanGramHashesFast(
          graft.functions.TextFunctions.normalizeText(col(textCol)), l))
          .as(Seq("_p", "h")))
      .select(
        col("doc_id"),
        (col("_p") + 1).cast("long").as("pos"),
        col("h"))

  /** Cross-document repeated-substring detection: every MAXIMAL token span
    * of at least `minSpanTokens` tokens shared verbatim between two
    * documents — the substring-granular dedup pass production training-data
    * pipelines run alongside document-level dedup (document near-dup misses
    * boilerplate-wrapped duplication; this finds the wrapped span itself,
    * the Lee et al. 2022 "Deduplicating Training Data" granularity).
    *
    * Shape — anchored gram index → diagonal islands, fully declarative:
    * every L-token gram (L = `minSpanTokens`) is hashed with position, the
    * gram index self-joins on the hash (skew-capped — a boilerplate gram
    * shared by more than `maxBucketSize` (doc, pos) occurrences is dropped
    * before any pair emission), and matching anchors are grouped by the
    * pair's DIAGONAL `pos_a − pos_b`: consecutive anchor positions on one
    * diagonal are one shared span (L-grams at consecutive positions match
    * pairwise iff the underlying token span matches), so the classic
    * gaps-and-islands run detection emits each maximal span exactly once —
    * no iterative span growth, no per-pair re-scan of text. A shared span
    * of S ≥ L tokens contributes exactly S−L+1 consecutive anchors, and
    * maximality is structural: the island ends exactly where the tokens
    * stop matching.
    *
    * Exactness: anchors join on [[graft.functions.Sha60]] of the gram (the
    * DuckDB-replicable 60-bit sha256 prefix), so both engines see identical
    * collisions — at 60 bits a false anchor needs ~2³⁰ distinct grams
    * before even one collision is likely. Grams capped out of the index
    * split any span running through them (the boilerplate-cap trade-off,
    * same discipline as [[winnowingNearDuplicates]]); internally-repetitive
    * shared text yields one span per matching diagonal, the same
    * enumeration a suffix-array LCP pass would produce.
    *
    * Scale: the gram index is O(total tokens) rows of three longs — the
    * same asymptotics as the suffix-array approaches, but expressed as ONE
    * hash shuffle (the self-join) plus one (pair, diagonal) shuffle for the
    * islands; text never shuffles and pair work is output-bounded by the
    * bucket cap.
    *
    * Returns (id_a, pos_a, id_b, pos_b, span_tokens) with `id_a < id_b`,
    * 1-based token positions, `span_tokens ≥ minSpanTokens`.
    */
  def sharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame = {
    require(minSpanTokens >= 2, "minSpanTokens must be at least 2")
    val L = minSpanTokens
    // (doc_id, pos, h): three-long rows; two consumers (cap agg + join
    // probe) — eager so tokenize+hash runs once (q181 discipline)
    val grams = graft.core.Caching.eager(
      spanGrams(df, idCol, textCol, L, "sharedSpans"))
    val keep = grams.groupBy(col("h")).agg(count(lit(1)).as("_bs"))
      .where(col("_bs").between(2, maxBucketSize))
      .select(col("h"))
    // bucket-collect once (buffers bounded by the semi-join cap), then the
    // one-sort pair emission shared with winnowing/minhash
    // ([[graft.functions.TextFunctions.triangularPairs]])
    val buckets = grams.join(keep, Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("pos"))).as("es"))
    val pairCombos = triangularPairs(col("es"))(
      (a, b) => struct(a.as("ea"), b.as("eb")))
    val anchors = buckets.select(explode(pairCombos).as("pr"))
      .where(col("pr.ea.doc_id") =!= col("pr.eb.doc_id"))
      .select(
        col("pr.ea.doc_id").as("id_a"), col("pr.ea.pos").as("pos_a"),
        col("pr.eb.doc_id").as("id_b"), col("pr.eb.pos").as("pos_b"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    anchors
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("_run", col("pos_a") - row_number().over(wRun))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("_run"))
      .agg(
        min(col("pos_a")).as("pos_a"),
        min(col("pos_b")).as("pos_b"),
        (count(lit(1)) + lit(L - 1)).cast("long").as("span_tokens"))
      .select(col("id_a"), col("pos_a"), col("id_b"), col("pos_b"),
        col("span_tokens"))
  }

  /** Interval-union length per document: (doc_id, _s, _e) half-open token
    * intervals → (doc_id, covered_tokens), the classic sort + running-max
    * island pass. Per-document work is bounded by the document's interval
    * count (output-bounded like the span detection itself). Shared by the
    * batch coverage and the index-probe coverage so the union semantics
    * cannot drift.
    */
  private def intervalCoverage(iv: DataFrame): DataFrame = {
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_s"), col("_e"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_s"), col("_e"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    iv
      .withColumn("_brk",
        when(max(col("_e")).over(wPrev) >= col("_s"), 0L).otherwise(1L))
      .withColumn("_isl", sum(col("_brk")).over(wRun))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("_s")).as("_mn"), max(col("_e")).as("_mx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_mx") - col("_mn")).as("covered_tokens"))
  }

  /** Per-document SHARED-SPAN COVERAGE: how much of each document is
    * verbatim-duplicated text shared with some other document — the
    * duplication-fraction statistic a curation pipeline gates on after
    * [[sharedSpans]] finds the spans. Spans touching a document (either
    * pair side) become token intervals, overlapping intervals merge by
    * the classic sort + running-max island pass (per-document work is
    * bounded by the document's span count — output-bounded like the span
    * detection itself), and coverage is the exact integer length of the
    * union. `dup_fraction` is the ONE double division per document at
    * output.
    *
    * Returns (doc_id, n_tokens, covered_tokens, dup_fraction) for every
    * input document (zero coverage kept — the gate's pass-through rows);
    * `n_tokens` is the whitespace token count of the normalized text, the
    * same tokenization the span positions index into.
    */
  def sharedSpanCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame = {
    // both interval sides consume the span frame — eager (output-bounded)
    val spans = graft.core.Caching.eager(
      sharedSpans(df, idCol, textCol, minSpanTokens, maxBucketSize))
    val iv = spans.select(col("id_a").as("doc_id"), col("pos_a").as("_s"),
        (col("pos_a") + col("span_tokens")).as("_e"))
      .unionByName(spans.select(col("id_b").as("doc_id"), col("pos_b").as("_s"),
        (col("pos_b") + col("span_tokens")).as("_e")))
    val cov = intervalCoverage(iv)
    df.select(guardedId(idCol, "sharedSpanCoverage").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_fraction"))
  }

  /** Substring-granular dedup REWRITE: strip each document's tokens that a
    * [[sharedSpans]] span marks as duplicated from a lower-id document —
    * the canonical (minimum-id) copy of every shared span survives intact,
    * the other side loses exactly the duplicated positions (the Lee et
    * al. 2022 removal step: document-level dedup drops whole documents,
    * this removes the wrapped span and keeps the unique remainder).
    *
    * Covered positions come from the `id_b` side of every span only;
    * overlaps between spans collapse through one positions-distinct. The
    * rewrite is a positions anti-join plus a per-document ordered
    * reassembly (one collect bounded by the document's own token count —
    * the same per-doc envelope as any text normalization). A document
    * whose every token is covered keeps its row with empty text (the q99
    * boilerplate-removal convention).
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text) for every input
    * document with tokenizable text (a null-text row has no positions to
    * rewrite and is excluded); `clean_text` is the kept tokens of the
    * NORMALIZED text joined by single spaces. `n_tokens` is derived as
    * kept + removed position counts, so the corpus text is tokenized
    * exactly once here (the span detection's own gram pass is separate).
    */
  def removeSharedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame = {
    val spans = sharedSpans(df, idCol, textCol, minSpanTokens, maxBucketSize)
    // two consumers (the anti-join + the removed-count totals): bounded by
    // total covered positions, eager (q181 discipline)
    val cover = graft.core.Caching.eager(
      spans.select(col("id_b").as("doc_id"),
          explode(sequence(col("pos_b"),
            col("pos_b") + col("span_tokens") - 1)).as("pos"))
        .distinct())
    val toks = df.select(guardedId(idCol, "removeSharedSpans").as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("_p", "tok")))
      .select(col("doc_id"), (col("_p") + 1).cast("long").as("pos"), col("tok"))
    val kept = toks.join(cover, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("_n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"))
    val removed = cover.groupBy(col("doc_id")).agg(count(lit(1)).as("_n_rm"))
    // every tokenizable doc appears on at least one side (kept tokens or
    // fully-covered positions), so the full join enumerates them all
    kept.join(removed, Seq("doc_id"), "full")
      .select(
        col("doc_id"),
        (coalesce(col("_n_kept"), lit(0L)) + coalesce(col("_n_rm"), lit(0L)))
          .as("n_tokens"),
        coalesce(col("_n_rm"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Schema-metadata key carrying the gram length L on a
    * [[spanGramIndex]]'s `h` column — the probe reads L from the index
    * instead of trusting a caller-repeated parameter, so an index built at
    * one gram length can never be probed at another (the
    * [[graft.streaming.DocStream.minhashCorpusIndex]] fail-at-construction
    * discipline).
    */
  val SpanGramLenMetaKey = "graft.span.gram_len"

  /** Schema-metadata key carrying the bucket cap on span-index `h`
    * columns — [[refreshSpanIndex]] reads it so a fold can never apply a
    * different cap than the build.
    */
  val SpanCapMetaKey = "graft.span.max_bucket"

  private def spanMeta(l: Int, cap: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SpanGramLenMetaKey, l.toLong)
      .putLong(SpanCapMetaKey, cap.toLong).build()

  /** Refreshable span-index state: the cap-filtered positioned gram
    * `index` (doc_id, pos, h) plus the TRUE `counts` sidecar (h, n) over
    * ALL grams, capped-out ones included — the sidecar is what makes
    * [[refreshSpanIndex]] exactly rebuild-equivalent (a gram that was
    * already over the cap must stay dead even if the delta alone would
    * fit under it, and one pushed over by the delta must drop its
    * already-indexed rows). The [[graft.streaming.DocStream
    * .MinHashIndexState]] discipline for the span family.
    */
  final case class SpanIndexState(index: DataFrame, counts: DataFrame)

  /** STANDING corpus gram index for the incremental span family: the
    * cap-filtered positioned gram frame (doc_id, pos, h) — every L-token
    * gram of the corpus whose hash bucket holds at most `maxBucketSize`
    * occurrences, with L recorded in the `h` column's metadata. Build this
    * ONCE at steady state (it is returned eagerly cached — both the build's
    * cap aggregation and every later probe read the same materialization),
    * probe it with [[sharedSpansIncrementalFromIndex]] per delta / per
    * micro-batch, and `unpersist()` it when the stream ends. A long-running
    * ingest stream must NOT rebuild this per trigger: the rebuild is a full
    * corpus tokenize + hash shuffle, the one per-batch cost that does not
    * amortize (the q249 round-15 defect this split removes).
    */
  /** Shared build core: eager uncapped grams (caller releases) and the
    * lazy true counts over them, metadata-stamped.
    */
  private def spanIndexBuild(
      corpus: DataFrame, idCol: String, textCol: String,
      minSpanTokens: Int, maxBucketSize: Int,
      op: String): (DataFrame, DataFrame) = {
    require(minSpanTokens >= 2, "minSpanTokens must be at least 2")
    // two consumers (count agg + the cap semi-join): corpus tokenized once
    val grams = graft.core.Caching.eager(
      spanGrams(corpus, idCol, textCol, minSpanTokens, op))
    val meta = spanMeta(minSpanTokens, maxBucketSize)
    val counts = grams.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .select(col("h").as("h", meta), col("n"))
    (grams, counts)
  }

  /** The cap semi-join: grams surviving `counts ≤ cap`, metadata-stamped. */
  private def capGrams(grams: DataFrame, counts: DataFrame,
      maxBucketSize: Int,
      meta: org.apache.spark.sql.types.Metadata): DataFrame =
    grams
      .join(counts.where(col("n") <= maxBucketSize).select(col("h")),
        Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"), col("h").as("h", meta))

  def spanGramIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame = {
    val (grams, counts) =
      spanIndexBuild(corpus, idCol, textCol, minSpanTokens, maxBucketSize,
        "spanGramIndex")
    // the uncapped intermediate is released once the capped index is
    // materialized — only the index survives the build
    val idx = graft.core.Caching.eager(
      capGrams(grams, counts, maxBucketSize,
        spanMeta(minSpanTokens, maxBucketSize)))
    grams.unpersist()
    idx
  }

  /** [[spanGramIndex]] plus its true bucket-count sidecar — the pair a
    * daily refresh loop persists and folds with [[refreshSpanIndex]].
    * Both frames come back eagerly cached (the uncapped gram intermediate
    * is released internally); the caller unpersists a superseded
    * generation after the next one materializes. The index is derived
    * from the MATERIALIZED counts, so the corpus-scale count aggregation
    * shuffles exactly once per build.
    */
  def spanIndexState(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): SpanIndexState = {
    val (grams, counts0) =
      spanIndexBuild(corpus, idCol, textCol, minSpanTokens, maxBucketSize,
        "spanIndexState")
    val counts = graft.core.Caching.eager(counts0)
    val idx = graft.core.Caching.eager(
      capGrams(grams, counts, maxBucketSize,
        spanMeta(minSpanTokens, maxBucketSize)))
    grams.unpersist()
    SpanIndexState(idx, counts)
  }

  /** Fold a delta's documents into the span-index state — delta-sized end
    * to end, EXACTLY rebuild-equivalent: the union counts decide every
    * gram's fate, so a gram already over the cap stays dead (its corpus
    * rows were never in the index and its count only grows), one pushed
    * over by the delta drops its indexed rows, and one still under the
    * cap keeps corpus + delta rows — precisely what a from-scratch
    * rebuild over corpus ∪ delta produces (SpanIndexSpec pins the set
    * equality; q254 certifies the fold through the q243 oracle verbatim).
    * Gram length and cap come from the state's metadata — a fold can
    * never silently change the family parameters. Returned frames are
    * LAZY (the delta grams run once per materialized output — both are
    * delta-plus-state-sized); the caller eagers the new generation and
    * then releases the old, the [[graft.streaming.DocStream
    * .refreshEmbeddingIndex]] loop discipline.
    *
    * CONTRACT: `delta` ids must be NEW — not already folded into (or built
    * into) this state (the [[editDistanceOneDuplicates]] unique-id
    * discipline). Re-folding an id duplicates its (doc_id, pos, h) rows
    * and double-counts its grams in the sidecar, silently pushing shared
    * grams toward the cap; a re-crawl/update flow must anti-join the delta
    * against already-indexed doc_ids (or tombstone + rebuild) first. Every
    * in-repo caller satisfies this by id construction (admission gates
    * only ever fold fresh crawl ids).
    */
  def refreshSpanIndex(
      state: SpanIndexState,
      delta: DataFrame,
      idCol: String,
      textCol: String): SpanIndexState = {
    val meta = state.counts.schema("h").metadata
    require(meta.contains(SpanGramLenMetaKey) && meta.contains(SpanCapMetaKey),
      "state must come from Dedup.spanIndexState (missing span metadata)")
    val l = meta.getLong(SpanGramLenMetaKey).toInt
    val cap = meta.getLong(SpanCapMetaKey)
    val dGrams = spanGrams(delta, idCol, textCol, l, "refreshSpanIndex")
    val counts = state.counts
      .unionByName(dGrams.groupBy(col("h")).agg(count(lit(1)).as("n")))
      .groupBy(col("h"))
      .agg(sum(col("n")).as("n"))
      .select(col("h").as("h", meta), col("n"))
    val keep = counts.where(col("n") <= cap).select(col("h"))
    val index = state.index
      .unionByName(dGrams)
      .join(keep, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"), col("h").as("h", meta))
    SpanIndexState(index, counts)
  }

  /** Delta-side duplication fraction against a standing [[spanGramIndex]]:
    * (doc_id, n_tokens, covered_tokens, dup_fraction) for every delta
    * document — the statistic a crawler-ingest admission gate thresholds
    * on AT ARRIVAL TIME. Spans come from the zero-corpus-work probe
    * ([[sharedSpansIncrementalFromIndex]]), only the DELTA side of each
    * span becomes an interval, and the union is the shared
    * [[intervalCoverage]] pass; nothing is persisted, so a foreachBatch
    * caller pays delta-sized work per trigger (StreamingLeakSpec's
    * invariant covers the probe path this composes).
    */
  def spanCoverageAgainstIndex(
      gramIndex: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val spans = sharedSpansIncrementalFromIndex(gramIndex, delta, idCol, textCol)
    val cov = intervalCoverage(
      spans.select(col("delta_id").as("doc_id"), col("delta_pos").as("_s"),
        (col("delta_pos") + col("span_tokens")).as("_e")))
    delta.select(guardedId(idCol, "spanCoverageAgainstIndex").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_fraction"))
  }

  /** Incremental [[sharedSpans]] against a PREBUILT [[spanGramIndex]]:
    * maximal shared token spans between `delta` documents and the standing
    * corpus the index was built from. Zero corpus work per call — the
    * delta is tokenized map-side (single consumer, nothing persisted),
    * probes the index by one hash join, and the diagonal-island pass is
    * output-bounded — so a streaming caller pays only delta-sized work per
    * micro-batch. The gram length comes from the index's metadata; an
    * index missing it (not built by [[spanGramIndex]]) fails at plan
    * construction, before any stream starts.
    *
    * Returns (delta_id, delta_pos, corpus_id, corpus_pos, span_tokens).
    */
  def sharedSpansIncrementalFromIndex(
      gramIndex: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val meta = gramIndex.schema("h").metadata
    require(meta.contains(SpanGramLenMetaKey),
      "gramIndex must come from Dedup.spanGramIndex (missing gram-length metadata)")
    val L = meta.getLong(SpanGramLenMetaKey).toInt
    val anchors = spanGrams(delta, idCol, textCol, L,
        "sharedSpansIncremental")
      .select(col("doc_id").as("delta_id"), col("pos").as("dpos"), col("h"))
      .join(gramIndex
        .select(col("doc_id").as("corpus_id"), col("pos").as("cpos"), col("h")),
        Seq("h"))
    spanIslands(anchors, L)
  }

  /** Incremental [[sharedSpans]]: maximal shared token spans between DELTA
    * documents and the standing CORPUS only — the daily-ingest probe shape
    * (the corpus's positioned gram index is precomputed at steady state
    * and never self-joins; the cap is applied on the CORPUS side before
    * any join, the [[winnowingIncrementalDuplicates]] discipline). One-shot
    * convenience over [[spanGramIndex]] + [[sharedSpansIncrementalFromIndex]]
    * — repeated callers (streams, daily loops) must build the index once
    * and probe it instead (caching contract as [[exactIncrementBloom]]:
    * the index built here stays persisted behind the lazy result;
    * Verify/Bench sweep persisted RDDs per query). Same anchor →
    * diagonal-island construction as the batch pass; returns
    * (delta_id, delta_pos, corpus_id, corpus_pos, span_tokens).
    */
  def sharedSpansIncremental(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame =
    sharedSpansIncrementalFromIndex(
      spanGramIndex(corpus, idCol, textCol, minSpanTokens, maxBucketSize),
      delta, idCol, textCol)

  /** The shared diagonal-island pass: anchor rows
    * (delta_id, dpos, corpus_id, cpos) → maximal runs per diagonal, one
    * span row per run. Factored so the one-shot and from-index probes
    * cannot drift.
    */
  private def spanIslands(anchors: DataFrame, gramLen: Int): DataFrame = {
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("delta_id"), col("corpus_id"), col("diag"))
      .orderBy(col("dpos"))
    anchors
      .withColumn("diag", col("dpos") - col("cpos"))
      .withColumn("_run", col("dpos") - row_number().over(wRun))
      .groupBy(col("delta_id"), col("corpus_id"), col("diag"), col("_run"))
      .agg(
        min(col("dpos")).as("delta_pos"),
        min(col("cpos")).as("corpus_pos"),
        (count(lit(1)) + lit(gramLen - 1)).cast("long").as("span_tokens"))
      .select(col("delta_id"), col("delta_pos"), col("corpus_id"),
        col("corpus_pos"), col("span_tokens"))
  }

  /** INTRA-document repeated spans: every MAXIMAL token span of at least
    * `minSpanTokens` tokens that occurs at TWO positions of the SAME
    * document — the self-repetition half of the Lee et al. 2022 span
    * granularity ([[sharedSpans]] is the cross-document half; q55's
    * distinct-token ratio flags repetitive docs, this names the repeated
    * text itself). Same anchored-gram → diagonal-island construction,
    * with the self-join scoped WITHIN each document and pairs ordered by
    * position (`pos_a < pos_b`); a diagonal smaller than the gram length
    * is the self-OVERLAP case (periodic text — "a b a b a b…") and the
    * islands enumerate it exactly as a suffix-array LCP pass would.
    *
    * Skew discipline: a (doc, gram) bucket repeated more than
    * `maxOccurrences` times is dropped BEFORE pair emission (a doc of N
    * identical tokens would otherwise emit N²/2 pairs) — the same silent
    * cap as the inter-doc family; pair with [[sharedSpanCapReport]]'s
    * convention if the drop needs auditing.
    *
    * Returns (doc_id, pos_a, pos_b, span_tokens) with `pos_a < pos_b`,
    * 1-based positions.
    */
  def selfRepetitionSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 4,
      maxOccurrences: Int = 20): DataFrame = {
    require(minSpanTokens >= 2, "minSpanTokens must be at least 2")
    val L = minSpanTokens
    // two consumers (within-doc cap agg + bucket collect) — eager
    val grams = graft.core.Caching.eager(
      spanGrams(df, idCol, textCol, L, "selfRepetitionSpans"))
    val keep = grams.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("_bs"))
      .where(col("_bs").between(2, maxOccurrences))
      .select(col("doc_id"), col("h"))
    val buckets = grams.join(keep, Seq("doc_id", "h"), "left_semi")
      .groupBy(col("doc_id"), col("h"))
      .agg(collect_list(col("pos")).as("ps"))
    // positions sort ascending, so triangularPairs emits pos_a < pos_b;
    // the island pass is the SHARED spanIslands (both pair sides carry
    // the same doc_id, so its (delta, corpus, diag) partitioning reduces
    // to (doc, diag) — one island implementation for the whole family)
    val anchors = buckets
      .select(col("doc_id"),
        explode(triangularPairs(col("ps"))(
          (a, b) => struct(a.as("pa"), b.as("pb")))).as("pr"))
      .select(col("doc_id").as("delta_id"), col("doc_id").as("corpus_id"),
        col("pr.pa").as("dpos"), col("pr.pb").as("cpos"))
    spanIslands(anchors, L)
      .select(col("delta_id").as("doc_id"), col("delta_pos").as("pos_a"),
        col("corpus_pos").as("pos_b"), col("span_tokens"))
  }

  /** Per-document SELF-REPETITION report: how many maximal repeated spans
    * each document contains and how much of the document they cover —
    * the curation statistic for "this document repeats itself" at span
    * granularity. Coverage is the interval union of BOTH occurrence
    * sides ([[intervalCoverage]], exact integers); `rep_fraction` is the
    * one double division per document. Every input document keeps its
    * row (zero-repetition docs are the gate's pass-through).
    *
    * Returns (doc_id, n_tokens, repeated_spans, covered_tokens,
    * rep_fraction).
    */
  def selfRepetitionReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 4,
      maxOccurrences: Int = 20): DataFrame = {
    // two consumers (span count + both coverage sides) — eager; spans
    // are output-bounded
    val spans = graft.core.Caching.eager(
      selfRepetitionSpans(df, idCol, textCol, minSpanTokens, maxOccurrences))
    val nSpans = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("repeated_spans"))
    val cov = intervalCoverage(
      spans.select(col("doc_id"), col("pos_a").as("_s"),
          (col("pos_a") + col("span_tokens")).as("_e"))
        .unionByName(spans.select(col("doc_id"), col("pos_b").as("_s"),
          (col("pos_b") + col("span_tokens")).as("_e"))))
    df.select(guardedId(idCol, "selfRepetitionReport").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(nSpans, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("repeated_spans"), lit(0L)).as("repeated_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("rep_fraction"))
  }

  /** Bucket-cap DIAGNOSTICS for the span family (the "no silent caps"
    * discipline): [[sharedSpans]] / [[spanGramIndex]] DROP every gram whose
    * hash bucket exceeds `maxBucketSize` — at production scale those are
    * exactly the heaviest boilerplate grams — so the drop must be
    * observable next to the span output, not silent. One row:
    * `n_grams` distinct gram hashes in the corpus, `max_bucket` the
    * largest bucket seen, `n_dropped_grams` distinct hashes over the cap,
    * `dropped_occurrences` their total (doc, pos) occurrences, and
    * `affected_docs` the distinct documents touching at least one dropped
    * gram — the reach inside which a span can silently split. Run at the
    * same cap as the span pass; grams this flags belong in the q99
    * boilerplate profile, not in a raised cap.
    */
  def sharedSpanCapReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 8,
      maxBucketSize: Int = 50): DataFrame = {
    require(minSpanTokens >= 2, "minSpanTokens must be at least 2")
    // two aggregation consumers (bucket stats + affected-doc reach) over
    // one tokenize pass — eager (q181 discipline)
    val grams = graft.core.Caching.eager(
      spanGrams(df, idCol, textCol, minSpanTokens, "sharedSpanCapReport"))
    val buckets = grams.groupBy(col("h")).agg(count(lit(1)).as("_bs"))
    // coalesce: a corpus with NO grams (every doc shorter than the gram
    // length) must report 0 dropped, not NULL — the oracle COALESCEs too
    val stats = buckets.agg(
      count(lit(1)).as("n_grams"),
      max(col("_bs")).as("max_bucket"),
      coalesce(sum(when(col("_bs") > maxBucketSize, 1L).otherwise(0L)),
        lit(0L)).as("n_dropped_grams"),
      coalesce(sum(when(col("_bs") > maxBucketSize, col("_bs"))
        .otherwise(lit(0L))), lit(0L)).as("dropped_occurrences"))
    val affected = grams
      .join(buckets.where(col("_bs") > maxBucketSize).select(col("h")),
        Seq("h"), "left_semi")
      .agg(count_distinct(col("doc_id")).as("affected_docs"))
    // 1-row x 1-row attach via the constant-key hash join (ScalarJoin):
    // a crossJoin here would plan the BroadcastNestedLoopJoin the scale
    // audit forbids
    graft.core.ScalarJoin.withScalars(stats, affected)
  }

  /** What the fingerprint family's quarter-block bucket cap dropped — the
    * [[sharedSpanCapReport]] "no silent caps" rule applied to the 64-bit
    * fingerprint tier ([[fingerprintNearDuplicates]] /
    * [[fingerprintCorpusIndex]]): 16-bit band values SATURATE as the
    * corpus grows (at billions of rows every band value holds far more
    * than any workable cap, and capped recall collapses), so a deployment
    * must be able to SEE the saturation. Reports (n_blocks, max_bucket,
    * n_dropped_blocks, dropped_occurrences, affected_ids) over the
    * (quarter, value) buckets at the given cap. Null ids/fingerprints are
    * excluded exactly as the pair paths exclude them.
    */
  def fingerprintCapReport(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxBucketSize: Int = 200): DataFrame = {
    // two aggregation consumers (bucket stats + affected-id reach) over
    // one blocking pass — eager (the sharedSpanCapReport discipline)
    val blocks = graft.core.Caching.eager(fpBlocked(df, idCol, fpCol))
    val buckets = blocks.groupBy(col("q"), col("qh")).agg(count(lit(1)).as("_bs"))
    val stats = buckets.agg(
      count(lit(1)).as("n_blocks"),
      max(col("_bs")).as("max_bucket"),
      coalesce(sum(when(col("_bs") > maxBucketSize, 1L).otherwise(0L)),
        lit(0L)).as("n_dropped_blocks"),
      coalesce(sum(when(col("_bs") > maxBucketSize, col("_bs"))
        .otherwise(lit(0L))), lit(0L)).as("dropped_occurrences"))
    val affected = blocks
      .join(buckets.where(col("_bs") > maxBucketSize).select(col("q"), col("qh")),
        Seq("q", "qh"), "left_semi")
      .agg(count_distinct(col("doc_id")).as("affected_ids"))
    graft.core.ScalarJoin.withScalars(stats, affected)
  }

  /** Incremental exact dedup: the delta rows whose normalized content does
    * not already exist in the corpus — one anti-join on the content hash,
    * the daily-ingest shape (the corpus side is a precomputed hash index at
    * scale, never rescanned text).
    */
  def exactIncrement(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val h = md5(normalizeText(col(textCol)))
    delta.withColumn("_h", h)
      .join(corpus.select(h.as("_h")).distinct(), Seq("_h"), "left_anti")
      .drop("_h")
  }

  /** Bloom-accelerated [[exactIncrement]] — identical output (delta rows
    * whose normalized content is not already in the corpus), different
    * physical shape: a Bloom filter sized to the DELTA's keys is built
    * distributively (per-partition bit arrays, OR-merged — the keys never
    * leave their partitions), then broadcast into a codegen'd map-side
    * probe on the corpus scan. Only corpus rows whose 64-bit content key
    * might match a delta key survive to the exact md5 verify join, so the
    * corpus — the 100 TB side — NEVER shuffles: the anti-join's build side
    * is the survivor set (≤ |delta| true hits + fpp·|corpus| false
    * positives), not the corpus hash index that [[exactIncrement]]
    * de-duplicates with a corpus-wide aggregation. False positives cost
    * only wasted verify-join rows; the md5 equality keeps the result exact.
    *
    * The delta is counted once to size the filter (it is persisted for
    * that pass and reused by the join); at the daily-ingest scale the
    * filter is ~1.2 MB per million delta keys at the default 1% fpp.
    *
    * Caching contract (same as [[minhashIncrementalDuplicates]]): the
    * delta-keyed frame stays persisted after the lazy result is returned —
    * it backs the verify join whenever the caller materializes. Sessions
    * that invoke this repeatedly should `spark.catalog.clearCache()`
    * between runs (Verify/Bench already sweep persisted RDDs per query).
    */
  def exactIncrementBloom(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01): DataFrame = {
    val norm = normalizeText(col(textCol))
    val h64 = xxhash64(norm)
    val h128 = md5(norm)
    val deltaKeyed = delta.withColumn("_h", h128).withColumn("_h64", h64)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = math.max(deltaKeyed.count(), 1L)
    val (numBits, numHashes) = graft.functions.BloomParams.size(n, fpp)
    val bloom = deltaKeyed
      .agg(graft.functions.BloomFilterAgg.bloomBuild(col("_h64"), numBits, numHashes))
      .head.getAs[Array[Byte]](0)
    val corpusHits = corpus
      .where(graft.functions.BloomFilterAgg.bloomProbe(bloom, h64))
      .select(h128.as("_h"))
      .distinct()
    deltaKeyed
      .join(corpusHits, Seq("_h"), "left_anti")
      .drop("_h", "_h64")
  }

  /** Incremental MinHash+LSH dedup: near-duplicate (delta, corpus) pairs —
    * which newly arrived documents already exist (approximately) in the
    * corpus. The corpus is never self-joined: only corpus band buckets that
    * a delta document actually hits are expanded, so the cost is
    * |delta bands| ⨝ bucket index + per-candidate verification. At 100 TB
    * the corpus side is a precomputed, bucketed signature index and this
    * operator is the daily-delta probe against it.
    *
    * Returns (delta_id, corpus_id, jaccard) with jaccard ≥ `minJaccard`.
    * Degenerate corpus buckets larger than `maxBucketSize` are skipped —
    * same cap rationale as [[minhashNearDuplicates]]. Both sides' signature
    * frames stay persisted after consumption (the result is lazy — same
    * caching contract as the batch LSH pipeline; `spark.catalog.clearCache()`
    * between repeated runs in one session).
    */
  def minhashIncrementalDuplicates(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      maxBucketSize: Int = 50): DataFrame = {
    val cDocs = graft.core.Caching.eager(
      sigDocs(corpus, idCol, textCol, shingleN, numHashes))
    val dDocs = graft.core.Caching.eager(
      sigDocs(delta, idCol, textCol, shingleN, numHashes))
    minhashIncrementalDuplicatesFromSigs(cDocs, dDocs, numBands,
      numHashes / numBands, minJaccard, maxBucketSize)
  }

  /** [[minhashIncrementalDuplicates]] over ALREADY-SIGNED frames — both
    * sides must be [[sigDocs]] outputs the caller has persisted (the
    * [[minhashNearDuplicatesFromSigs]] contract): multi-pass pipelines
    * sign once and probe many times.
    */
  def minhashIncrementalDuplicatesFromSigs(
      cDocs: DataFrame,
      dDocs: DataFrame,
      numBands: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucketSize: Int = 50): DataFrame = {
    requireBandingFits(cDocs, numBands, rowsPerBand)
    requireBandingFits(dDocs, numBands, rowsPerBand)
    // The corpus bucket index is skew-capped via [[cappedIdBuckets]]: a
    // boilerplate band bucket shared by millions of corpus docs is dropped
    // with every aggregation buffer bounded at `maxBucketSize` ids, then the
    // surviving buckets re-flatten to a ROW-shaped (band, band_hash,
    // corpus_id) index the delta probes by plain equi-join.
    val cIndex = cappedIdBuckets(
      bandFrame(cDocs, numBands, rowsPerBand),
      Seq("band", "band_hash"), "doc_id", minSize = 1, maxSize = maxBucketSize)
      .select(col("band"), col("band_hash"), explode(col("ids")).as("corpus_id"))
    val cand = bandFrame(dDocs, numBands, rowsPerBand)
      .join(cIndex, Seq("band", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
      .distinct()
    cand
      .join(
        dDocs.select(col("doc_id").as("delta_id"), col("shingle_set").as("set_d")),
        Seq("delta_id"))
      .join(
        cDocs.select(col("doc_id").as("corpus_id"), col("shingle_set").as("set_c")),
        Seq("corpus_id"))
      .withColumn(
        "jaccard",
        graft.functions.SortedSetOverlap.jaccardFast(col("set_d"), col("set_c")))
      .where(col("jaccard") >= minJaccard)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /** Probability that a pair with Jaccard similarity `s` becomes an LSH
    * candidate under (bands, rowsPerBand) banding: 1 − (1 − s^r)^b — the
    * S-curve that makes banded MinHash a similarity filter.
    */
  def lshCandidateProbability(s: Double, numBands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), numBands.toDouble)

  /** The banding threshold — the similarity at the S-curve's inflection,
    * ≈ (1/b)^(1/r): pairs above it are probably candidates, below probably
    * not.
    */
  def lshThreshold(numBands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / numBands, 1.0 / rowsPerBand)

  /** Choose (numBands, rowsPerBand) for a signature length: the divisor
    * split whose threshold lands closest to `targetJaccard`. Fails fast when
    * no split comes within `maxGap` of the target (e.g. a prime `numHashes`
    * only offers thresholds 1.0 and 1/n — silently returning one would turn
    * the LSH filter degenerate) — pick a more composite signature length
    * instead.
    */
  def tuneBands(numHashes: Int, targetJaccard: Double, maxGap: Double = 0.2): (Int, Int) = {
    require(numHashes > 0 && targetJaccard > 0 && targetJaccard < 1)
    val best = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) => math.abs(lshThreshold(b, r) - targetJaccard) }
    val achieved = lshThreshold(best._1, best._2)
    require(
      math.abs(achieved - targetJaccard) <= maxGap,
      f"no banding of $numHashes hashes lands near $targetJaccard%.2f " +
        f"(closest: ${best._1} bands x ${best._2} rows, threshold $achieved%.2f) — " +
        "use a more composite numHashes")
    best
  }

  /** Choose a hyperplane count for embedding LSH so buckets stay under the
    * cap as the corpus grows: the smallest `p` with
    * `maxBucketSize · 2^p ≥ corpusSize` (expected occupancy at or under the
    * cap if buckets split evenly), plus ONE slack plane because hyperplane
    * buckets never split evenly — near-dup-heavy corpora collapse buckets,
    * and a mega-bucket over the cap is DISCARDED, not processed. A fixed
    * plane count is the scale bug this exists for: the round-13 4-plane
    * graph was fine at 500 vectors and EMPTY at 20,000 (all 16 buckets blew
    * the 200 cap — every vector discarded, a vacuously green query).
    * All-integer (`cap << p` vs a float `ceil(log2(n/cap))`) so an oracle
    * can reproduce the choice bit-exactly with no log-boundary risk.
    */
  def tunePlanes(corpusSize: Long, maxBucketSize: Int, minPlanes: Int = 2): Int = {
    require(corpusSize >= 0 && maxBucketSize > 0 && minPlanes >= 1 && minPlanes <= 53)
    // the scan stops at p = 53 so cap·2^p stays inside BIGINT for any cap
    // up to ~1000 (the oracle runs the same scan in BIGINT SQL) — 2^53
    // buckets is past any corpus this tunes for
    var p = minPlanes
    while (p < 53 && (maxBucketSize.toLong << p) < corpusSize) p += 1
    p + 1
  }

  /** `nPlanes` sentinel: tune the plane count to the corpus via
    * [[tunePlanes]] (ONE count aggregate — metadata-cheap on columnar
    * sources). This is the DEFAULT for the hyperplane-LSH operators, so a
    * call site that doesn't consciously pin a plane count can never
    * reintroduce the round-13 fixed-plane vacuity bug (a 4-plane graph
    * that was fine at 500 vectors and EMPTY at 20,000 — every bucket over
    * the cap, every vector discarded, the query vacuously green).
    * Call sites that pin a count (an oracle-certified certification
    * baseline, a precomputed-index probe that must match its index) pass
    * it explicitly.
    *
    * Cost note: the tuning count is ONE column-pruned pass over the input
    * frame — metadata-cheap on a bare columnar scan, but a caller holding
    * an EXPENSIVE derived frame (joins, scoring) pays that pipeline twice
    * (count + signature scan); such callers should persist the frame
    * first or pass a known plane count explicitly.
    */
  val AutoPlanes: Int = -1

  private def resolvePlanes(
      nPlanes: Int, corpus: DataFrame, maxBucketSize: Int): Int =
    if (nPlanes == AutoPlanes) tunePlanes(corpus.count(), maxBucketSize)
    else {
      require(nPlanes >= 1 && nPlanes <= 53,
        s"nPlanes must be in [1,53] or Dedup.AutoPlanes, got $nPlanes")
      nPlanes
    }

  /** 64-bit SimHash over whitespace tokens: per bit b, sum ±1 votes from
    * each token's [[graft.functions.Sha60]] hash bit b; the fingerprint sets
    * bit b when the vote is positive (the base hash is 60-bit, so bits 60–63
    * are always 0). Computed as one per-row fold — no explode/groupBy.
    */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64Expr.simhash64Fast(tokens(text))

  /** Reference higher-order-function formulation of [[simhash64]] — kept for
    * the bit-parity test against the native expression (and as documentation
    * of the semantics in pure Catalyst built-ins).
    */
  def simhash64Hof(text: Column): Column = {
    val masks = array((0 until 64).map(b => lit(1L << b)): _*)
    val hashes = transform(tokens(text), t => graft.functions.Sha60.sha60(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(
          acc,
          transform(masks, m => when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))),
          (x, y) => x + y))
    aggregate(
      zip_with(votes, masks, (v, m) => when(v > 0L, m).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate candidates: block on the 4 16-bit quarters of the
    * fingerprint (any pair within Hamming distance 3 shares at least one
    * exact quarter — pigeonhole), verify with full Hamming distance.
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200): DataFrame =
    fingerprintNearDuplicates(
      df.select(col(idCol), simhash64(col(textCol)).as("_fp64")),
      idCol, "_fp64", maxHamming, maxBucketSize)

  /** The quarter-block Hamming join behind [[simhashNearDuplicates]],
    * factored over ANY precomputed 64-bit fingerprint column — the image
    * perceptual tier ([[graft.multimodal.Multimodal.imageDHash]]) feeds
    * its dHashes through this same path, so text and pixel near-dup share
    * one banding/cap/verify implementation. Blocking on the 4 16-bit
    * quarters GUARANTEES recall only to Hamming ≤ 3 (pigeonhole); past
    * that it is the standard LSH recall trade and is part of the
    * operator's contract (a caller needing guaranteed recall at distance
    * T uses T+1 bands). Null fingerprints (undecodable blobs) AND null
    * ids are excluded before banding — a null id cannot name a pair, and
    * dropping it up front preserves the pre-refactor
    * [[simhashNearDuplicates]] behavior (null ids never produced pairs:
    * the `id_a < id_b` comparison was null-false) instead of turning it
    * into a mid-job error. Returns (id_a, id_b, hamming), id_a < id_b.
    */
  /** The degenerate-bucket guard shared by every fingerprint path,
    * count-first + left-semi: a window-count cap would shuffle a
    * degenerate block's FULL row set into one task's WindowExec buffer
    * before the filter could drop it — the same single-task hazard the
    * bucket caps eliminate. The count aggregate sees only (q, qh) keys;
    * blocked rows join back key-equi.
    */
  private def cappedBlocks(blockedRaw: DataFrame, maxBucketSize: Int): DataFrame = {
    val keep = blockedRaw
      .groupBy(col("q"), col("qh"))
      .agg(count(lit(1)).as("_bs"))
      .where(col("_bs") <= maxBucketSize)
      .select(col("q"), col("qh"))
    blockedRaw.join(keep, Seq("q", "qh"), "left_semi")
  }

  /** The band-bucket pair join shared by the 64- and 128-bit families:
    * cap, self-join key-equi on (q, qh) with `doc_id` ordering, verify
    * with the caller's Hamming column (referencing aliases `a`/`b`).
    * ONE copy of the cap/join/verify core so the two widths cannot drift.
    */
  private def fpPairs(
      blockedRaw: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int,
      hammingCol: Column): DataFrame = {
    val blocked = cappedBlocks(blockedRaw, maxBucketSize)
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(
        b,
        col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        hammingCol.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** The (delta → standing index) probe core shared by both widths:
    * key-equi join on (q, qh), verify with the caller's Hamming column.
    */
  private def fpProbe(
      index: DataFrame,
      deltaBlocked: DataFrame,
      maxHamming: Int,
      hammingCol: Column): DataFrame =
    deltaBlocked
      .join(index, Seq("q", "qh"))
      .select(col("delta_id"), col("corpus_id"), hammingCol.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)

  def fingerprintNearDuplicates(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200): DataFrame =
    fpPairs(fpBlocked(df, idCol, fpCol), maxHamming, maxBucketSize,
      hamming64(col("a.fp"), col("b.fp")))

  /** Incremental SimHash dedup: (delta, corpus) near-duplicate pairs within
    * `maxHamming` — which newly arrived documents are homoglyph-level
    * near-copies of existing corpus text. Completes the incremental family
    * ([[minhashIncrementalDuplicates]] for set overlap,
    * [[winnowingIncrementalDuplicates]] for substring reuse,
    * [[embeddingIncrementalDuplicates]] for semantic similarity; this tier
    * for token-vote fingerprints, pigeonhole-blocked).
    *
    * The corpus is never self-joined: delta quarter-blocks probe a capped
    * (quarter → corpus fingerprint) index — at 100 TB the index is a
    * precomputed table and this is the daily-delta probe. Bucket cap is
    * count-first on the CORPUS side. Returns (delta_id, corpus_id, hamming).
    */
  def simhashIncrementalDuplicates(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200): DataFrame =
    fingerprintIncrementalDuplicates(
      corpus.select(col(idCol), simhash64(col(textCol)).as("_fp64")),
      delta.select(col(idCol), simhash64(col(textCol)).as("_fp64")),
      idCol, "_fp64", maxHamming, maxBucketSize)

  /** The (delta → corpus) quarter-block Hamming probe behind
    * [[simhashIncrementalDuplicates]], factored over ANY precomputed
    * 64-bit fingerprint column — the incremental twin of
    * [[fingerprintNearDuplicates]]; the image tier
    * ([[graft.multimodal.Multimodal.imageDHash]]) probes its standing
    * corpus hashes through this same path, so crawl-time text and pixel
    * dedup share one banding/cap/verify implementation. The corpus never
    * self-joins: delta blocks probe the capped (quarter → corpus
    * fingerprint) index, cap count-first on the CORPUS side. Null ids
    * and null fingerprints are excluded on both sides (undecodable
    * blobs). Returns (delta_id, corpus_id, hamming).
    */
  def fingerprintIncrementalDuplicates(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200): DataFrame =
    fingerprintsAgainstIndex(
      fingerprintCorpusIndex(corpus, idCol, fpCol, maxBucketSize),
      delta, idCol, fpCol, maxHamming)

  /** The 4×16-bit quarter-block rows of a fingerprint frame — the shared
    * blocking behind every fingerprint pair path; null ids/fingerprints
    * dropped here so no path can join them.
    */
  private def fpBlocked(df: DataFrame, idCol: String, fpCol: String): DataFrame = df
    .where(col(fpCol).isNotNull && col(idCol).isNotNull)
    .select(col(idCol).as("doc_id"), col(fpCol).as("fp"))
    .select(
      col("doc_id"),
      col("fp"),
      explode(array((0 until 4).map { q =>
        struct(lit(q).as("q"), shiftright(col("fp"), q * 16).bitwiseAND(lit(0xffffL)).as("qh"))
      }: _*)).as("blk"))
    .select(col("doc_id"), col("fp"), col("blk.q"), col("blk.qh"))

  /** STANDING capped quarter-block index over a corpus fingerprint frame:
    * (q, qh, corpus_id, fp_c), cap count-first on the corpus side. Build
    * once at steady state (a streaming caller eagerly caches it — the
    * [[spanGramIndex]] discipline), probe per delta / per micro-batch
    * with [[fingerprintsAgainstIndex]].
    */
  def fingerprintCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      fpCol: String,
      maxBucketSize: Int = 200): DataFrame =
    cappedBlocks(fpBlocked(corpus, idCol, fpCol), maxBucketSize)
      .withColumnRenamed("doc_id", "corpus_id")
      .withColumnRenamed("fp", "fp_c")

  /** Delta-side probe of a standing [[fingerprintCorpusIndex]]: zero
    * corpus work per call, delta blocks join the index key-equi and the
    * full Hamming distance verifies. Returns (delta_id, corpus_id,
    * hamming) within `maxHamming`.
    */
  def fingerprintsAgainstIndex(
      index: DataFrame,
      delta: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3): DataFrame =
    fpProbe(index,
      fpBlocked(delta, idCol, fpCol)
        .withColumnRenamed("doc_id", "delta_id")
        .withColumnRenamed("fp", "fp_d"),
      maxHamming,
      hamming64(col("fp_d"), col("fp_c")))

  /** 128-bit Hamming distance over a (hi, lo) two-long fingerprint. */
  def hamming128(aHi: Column, aLo: Column, bHi: Column, bLo: Column): Column =
    bit_count(aHi.bitwiseXOR(bHi)) + bit_count(aLo.bitwiseXOR(bLo))

  /** The 4×32-bit band rows of a 128-bit (hi, lo) fingerprint frame —
    * the band-SATURATION mitigation for the 64-bit family's documented
    * 100 TB failure mode: a 16-bit band value holds ~N/65536 corpus rows
    * by birthday alone, so at billions of rows EVERY 64-bit-path band
    * bucket exceeds any workable cap and capped recall collapses
    * ([[fingerprintCapReport]] makes that observable; this family
    * mitigates it). Four 32-bit bands keep the pigeonhole guarantee
    * (Hamming ≤ 3 ⇒ at least one clean band) while deferring birthday
    * saturation by a factor of 2^16 — at 4 billion rows a 32-bit band
    * value still holds ~1 row on average. Callers supply a 128-bit
    * fingerprint (e.g. a 9×16-grid image dHash, or two independent
    * 64-bit signatures); null ids and null fingerprint halves are
    * dropped here so no path can join them.
    */
  private def fp128Blocked(
      df: DataFrame, idCol: String, hiCol: String, loCol: String): DataFrame = df
    .where(col(hiCol).isNotNull && col(loCol).isNotNull && col(idCol).isNotNull)
    .select(col(idCol).as("doc_id"), col(hiCol).as("fp_hi"), col(loCol).as("fp_lo"))
    .select(
      col("doc_id"),
      col("fp_hi"),
      col("fp_lo"),
      explode(array((0 until 4).map { q =>
        val word = if (q < 2) col("fp_lo") else col("fp_hi")
        struct(
          lit(q).as("q"),
          shiftright(word, (q % 2) * 32).bitwiseAND(lit(0xffffffffL)).as("qh"))
      }: _*)).as("blk"))
    .select(col("doc_id"), col("fp_hi"), col("fp_lo"), col("blk.q"), col("blk.qh"))

  /** [[fingerprintNearDuplicates]] over a 128-bit (hi, lo) fingerprint:
    * 4×32-bit banding (same ≤3 pigeonhole guarantee, band values 2^16×
    * more selective — see [[fp128Blocked]]), count-first cap + left-semi,
    * full 128-bit Hamming verify. Returns (id_a, id_b, hamming),
    * id_a < id_b.
    */
  def fingerprint128NearDuplicates(
      df: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200): DataFrame =
    fpPairs(fp128Blocked(df, idCol, hiCol, loCol), maxHamming, maxBucketSize,
      hamming128(col("a.fp_hi"), col("a.fp_lo"), col("b.fp_hi"), col("b.fp_lo")))

  /** Standing capped 4×32-band index over a 128-bit corpus fingerprint
    * frame — the [[fingerprintCorpusIndex]] shape with the saturation
    * mitigation. Probe with [[fingerprints128AgainstIndex]].
    */
  def fingerprint128CorpusIndex(
      corpus: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      maxBucketSize: Int = 200): DataFrame =
    cappedBlocks(fp128Blocked(corpus, idCol, hiCol, loCol), maxBucketSize)
      .withColumnRenamed("doc_id", "corpus_id")
      .withColumnRenamed("fp_hi", "fp_hi_c")
      .withColumnRenamed("fp_lo", "fp_lo_c")

  /** Delta-side probe of a standing [[fingerprint128CorpusIndex]]: zero
    * corpus work per call. Returns (delta_id, corpus_id, hamming) within
    * `maxHamming`.
    */
  def fingerprints128AgainstIndex(
      index: DataFrame,
      delta: DataFrame,
      idCol: String,
      hiCol: String,
      loCol: String,
      maxHamming: Int = 3): DataFrame =
    fpProbe(index,
      fp128Blocked(delta, idCol, hiCol, loCol)
        .withColumnRenamed("doc_id", "delta_id")
        .withColumnRenamed("fp_hi", "fp_hi_d")
        .withColumnRenamed("fp_lo", "fp_lo_d"),
      maxHamming,
      hamming128(col("fp_hi_d"), col("fp_lo_d"), col("fp_hi_c"), col("fp_lo_c")))

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH buckets
    * candidates (same full signature → high cosine with high probability),
    * then exact cosine verifies. Same shuffle shape as the MinHash path —
    * key-equi join on signature, never a cross join — so it scales the same
    * way; `nPlanes` trades recall for bucket selectivity and DEFAULTS to
    * [[AutoPlanes]] (tuned to the corpus size — see [[tunePlanes]]).
    */
  def embeddingNearDuplicates(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      nPlanes: Int = AutoPlanes,
      maxBucketSize: Int = 200): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    val planes = resolvePlanes(nPlanes, emb, maxBucketSize)
    val docs = emb.select(
      col(idCol).as("vid"),
      col(vecCol).as("vec"),
      graft.functions.HyperplaneSignatureExpr.hyperplaneFast(col(vecCol), planes).as("sig"))
    // cap ids-first (groupBy(sig).count + semi-join), same shape as the
    // incremental variant below: a degenerate mega-bucket (near-dup-heavy
    // corpora collapse hyperplane buckets) must be discarded from an ids-only
    // aggregate — a window over sig would shuffle the mega-bucket's full
    // VECTORS into one task's buffer before the cap filter could drop them
    val keepSigs = docs
      .select(col("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("_bs"))
      .where(col("_bs") <= maxBucketSize)
      .select(col("sig"))
    val capped = docs.join(keepSigs, Seq("sig"), "left_semi")
    val a = capped.alias("a")
    val b = capped.alias("b")
    a.join(b, col("a.sig") === col("b.sig") && col("a.vid") < col("b.vid"))
      .select(
        col("a.vid").as("id_a"),
        col("b.vid").as("id_b"),
        cosineFast(col("a.vec"), col("b.vec")).as("cosine_sim"))
      .where(col("cosine_sim") >= minCosine)
  }

  /** Incremental embedding near-dup: delta vectors whose cosine against some
    * CORPUS vector in the same hyperplane bucket clears `minCosine` — the
    * daily-ingest shape for an embedding corpus (the [[embeddingNearDuplicates]]
    * twin of [[minhashIncrementalDuplicates]]).
    *
    * Scale shape: the corpus side becomes an ids-only bucket index
    * (sig → capped id list, one groupBy — at steady state a precomputed
    * table); the delta probes it by signature equality and corpus VECTORS are
    * attached per candidate id afterwards — the corpus never self-joins and
    * corpus vectors shuffle only for ids that actually collide with the
    * delta. Returns (delta_id, corpus_id, cosine_sim).
    */
  def embeddingIncrementalDuplicates(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      nPlanes: Int = AutoPlanes,
      maxBucketSize: Int = 200): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    import graft.functions.HyperplaneSignatureExpr.hyperplaneFast
    // AutoPlanes tunes on the CORPUS side — the standing index's scale, the
    // side whose buckets the cap protects
    val planes = resolvePlanes(nPlanes, corpus, maxBucketSize)
    def sigged(df: DataFrame) = df.select(
      col(idCol).as("vid"),
      col(vecCol).as("vec"),
      hyperplaneFast(col(vecCol), planes).as("sig"))
    // cap via count + semi-join, NEVER collect_list-then-filter: a degenerate
    // mega-bucket would otherwise materialize its whole id array in one
    // aggregation row before being discarded
    val corpusIds = sigged(corpus).select(col("vid"), col("sig"))
    val keep = corpusIds
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("_bs"))
      .where(col("_bs") <= maxBucketSize)
      .select(col("sig"))
    val cand = sigged(delta)
      .join(
        corpusIds.join(keep, Seq("sig")).withColumnRenamed("vid", "corpus_id"),
        Seq("sig"))
      .select(
        col("vid").as("delta_id"),
        col("vec").as("delta_vec"),
        col("corpus_id"))
    cand
      .join(
        corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpus_vec")),
        Seq("corpus_id"))
      .select(
        col("delta_id"),
        col("corpus_id"),
        cosineFast(col("delta_vec"), col("corpus_vec")).as("cosine_sim"))
      .where(col("cosine_sim") >= minCosine)
  }

  /** Connected components over duplicate pairs — the stage after candidate
    * generation in a corpus dedup pipeline: near-dup pairs are transitive in
    * practice (A~B, B~C ⇒ keep one of {A,B,C}), so the keep-set is one
    * canonical document per *component*, not per pair.
    *
    * Iterative min-label propagation with pointer jumping: each round every
    * node takes the minimum label among itself, its neighbours, and its
    * label's label (path compression — the hash-to-min idea from Rastogi et
    * al., "Finding Connected Components in Map-Reduce", ICDE 2013). The jump
    * step makes convergence logarithmic in component diameter, so a chain of
    * k consecutive near-dups needs ~log₂ k rounds, not k. Each round is
    * bounded work: one key-equi join + groupBy over the edges and one
    * self-join over the labels; `localCheckpoint` truncates lineage growth
    * (the same pattern as lineage traversal); driver state is one boolean
    * per round. Converged = no label changed.
    *
    * Returns (doc_id, cluster_id) for every node that appears in `pairs`,
    * cluster_id = minimum doc id in the component. Singleton documents never
    * appear (they have no pair).
    */
  def duplicateClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val idType = fwd.schema("src").dataType
    // Contraction pre-pass for integral ids: a per-partition union-find
    // collapses every partition-local component into a min-rooted star, so
    // the propagation loop below runs on the (much smaller, much shallower)
    // star graph instead of the raw pair graph. Memory is bounded by the
    // nodes of one edge partition; connectivity is preserved exactly (stars
    // keep the same node sets, and stars from different partitions overlap
    // on shared nodes). Profiling at sf0.1 showed the raw graph has a giant
    // component that needs 5 propagation rounds; contracted, it needs 2.
    val base = idType match {
      case _: org.apache.spark.sql.types.LongType |
          _: org.apache.spark.sql.types.IntegerType |
          _: org.apache.spark.sql.types.ShortType =>
        import fwd.sparkSession.implicits._
        fwd.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)]
          .mapPartitions(localMinStars)
          .toDF("src", "dst")
          .select(col("src").cast(idType), col("dst").cast(idType))
      case _ => fwd
    }
    // hash-partition the symmetric edge set on src once: every round's
    // neighbour-min join keys on src, so the (persisted) edge side never
    // re-shuffles
    // eagerHashPartitioned, not eager: right-sizing must preserve the src
    // hash partitioning every propagation round's join relies on — a plain
    // coalesce would silently re-introduce a per-round edge shuffle
    val edges = graft.core.Caching.eagerHashPartitioned(
      base.union(base.select(col("dst"), col("src")).toDF("src", "dst"))
        .distinct()
        .repartition(col("src")),
      Seq(col("src")))
    // localCheckpoint generations must be released DETERMINISTICALLY: each
    // round's (eager) checkpoint pins its blocks until GC + ContextCleaner
    // get around to them, so a convergence loop otherwise holds O(rounds)
    // superseded label generations in storage memory — and in a
    // many-query session those leaked blocks evict OTHER queries' live
    // caches, turning cache hits into recompute storms (measured: q53 ran
    // 3.1 s in a fresh JVM vs 13.9 s mid-suite with 4.5x the executor CPU
    // before this fix). The checkpointed RDD is not publicly reachable
    // from the Dataset, so track it by persistent-RDD-id delta around the
    // checkpoint call (single-threaded here; no concurrent persists).
    val sc = fwd.sparkSession.sparkContext
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint() // eager: materialized on return
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def release(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    // seed each node with min(self, neighbours) — the same result as running
    // one propagation round on identity labels, for the price of the groupBy
    // that enumerates the nodes anyway
    var (labels, labelIds) = checkpointTracked(
      edges.groupBy(col("src").as("id"))
        .agg(least(col("src"), min(col("dst"))).as("label")))
    var converged = labels.isEmpty
    var iters = 0
    while (!converged && iters < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val relabeled = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: follow the current label one hop (label(label(n)))
      val (step, stepIds) = checkpointTracked(jump(relabeled))
      converged = step.where(col("label") < col("old_label")).isEmpty
      release(labelIds) // superseded generation — step is already materialized
      labelIds = stepIds
      labels = step.select("id", "label")
      iters += 1
    }
    require(converged, s"duplicateClusters did not converge in $maxIters rounds")
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Dedup-savings report: per near-dup cluster size, how many clusters
    * exist, how many documents canonical-per-cluster dedup drops, and how
    * many tokens those dropped documents carry — the ROI diagnostic behind a
    * dedup rollout (which cluster sizes dominate, what fraction of the
    * token budget duplicates consume). `clusters` is the
    * [[duplicateClusters]] output; canonical member = doc_id == cluster_id.
    *
    * Returns (cluster_size, n_clusters, n_docs_dropped, tokens_dropped),
    * ordered by size. Shape: token counts attach id-keyed, then two id+long
    * aggregations — text never shuffles, integer sums only (deterministic).
    */
  def dedupSavings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      clusters: DataFrame): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast("long").as("n_toks"))
    clusters
      .join(toks, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        sum(when(col("doc_id") =!= col("cluster_id"), col("n_toks")).otherwise(0L))
          .as("toks_dropped"),
        sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("docs_dropped"))
      .groupBy(col("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("docs_dropped")).as("n_docs_dropped"),
        sum(col("toks_dropped")).as("tokens_dropped"))
  }

  /** Incremental cluster maintenance: fold a delta's near-dup pairs into an
    * existing `(doc_id, cluster_id)` labeling WITHOUT recomputing unaffected
    * clusters — the daily path of a dedup rollout (yesterday's corpus is
    * clustered; today's delta contributes delta–delta and delta–corpus pairs
    * from the incremental probes, q64-style).
    *
    * Correctness: an existing labeling is equivalent to its star edge set
    * (doc → cluster root), so components of (old pairs ∪ new pairs) equal
    * components of (stars ∪ new pairs); and since every cluster_id is its
    * component's minimum doc id, the min over a MERGED component's
    * representatives (cluster roots and unlabeled delta ids) is the global
    * minimum — canonical ids come out exactly as a full recompute would.
    * The q100 oracle certifies precisely that equivalence.
    *
    * Scale shape: new-pair endpoints map through the labeling by two
    * id-keyed equi-joins; [[duplicateClusters]] then runs on the CONTRACTED
    * graph (cluster roots, not documents — delta-sized, not corpus-sized);
    * and the corpus-sized labeling is updated by a BROADCAST join against
    * the delta-sized remap, so the existing labels never shuffle. A full
    * recompute is O(corpus pairs) per day; this is O(delta pairs).
    *
    * Output: the updated labeling over previously-labeled docs plus newly
    * clustered delta docs (delta singletons, having no pair, stay absent —
    * [[duplicateClusters]]' convention).
    */
  def mergeClusters(
      labels: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val lab = labels.select(col("doc_id").as("__id"), col("cluster_id").as("__cl"))
    // representative of each endpoint: its cluster root if labeled, itself
    // otherwise (new delta doc or old singleton)
    val contracted = newPairs
      .join(lab.select(col("__id").as(idA), col("__cl").as("__cl_a")), Seq(idA), "left")
      .join(lab.select(col("__id").as(idB), col("__cl").as("__cl_b")), Seq(idB), "left")
      .select(
        coalesce(col("__cl_a"), col(idA)).as("src"),
        coalesce(col("__cl_b"), col(idB)).as("dst"))
      .where(col("src") =!= col("dst"))
    // CC over the contracted graph: maps every AFFECTED representative to
    // the merged component's minimum representative (= global minimum doc id)
    val remap = duplicateClusters(contracted, "src", "dst", maxIters)
      .select(col("doc_id").as("__rep"), col("cluster_id").as("__new"))
    // corpus-side update: broadcast the delta-sized remap — the labeling
    // itself stays in place (no shuffle of the corpus-sized side)
    val updatedOld = labels
      .join(broadcast(remap), labels("cluster_id") === col("__rep"), "left")
      .select(
        labels("doc_id"),
        coalesce(col("__new"), labels("cluster_id")).as("cluster_id"))
    // newly clustered docs: new-pair endpoints absent from the labeling
    val newIds = newPairs.select(col(idA).as("doc_id"))
      .unionByName(newPairs.select(col(idB).as("doc_id")))
      .distinct()
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newRows = newIds
      .join(broadcast(remap), newIds("doc_id") === col("__rep"), "left")
      .select(
        newIds("doc_id"),
        coalesce(col("__new"), newIds("doc_id")).as("cluster_id"))
    updatedOld.unionByName(newRows)
  }

  /** Open-addressing long→long map (linear probing, power-of-two capacity)
    * for the union-find hot loop: zero boxing, zero per-op allocation —
    * a java.util.HashMap here would allocate a boxed Long per get/put across
    * every edge of the partition. `MissingSentinel` (Long.MinValue) marks
    * empty slots, so it cannot be used as a node id.
    */
  private final class LongLongMap(initialCapacity: Int = 1 << 10) {
    private val Missing = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
    private var ks = Array.fill[Long](cap)(Missing)
    private var vs = new Array[Long](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & (cap - 1)
      while (ks(i) != Missing && ks(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      val i = slot(k)
      if (ks(i) == k) vs(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      var i = slot(k)
      if (ks(i) != k) {
        ks(i) = k; n += 1
        if (n * 4 > cap * 3) { grow(); i = slot(k) } // only re-probe after a resize
      }
      vs(i) = v
    }
    private def grow(): Unit = {
      val (oks, ovs) = (ks, vs)
      cap *= 2
      ks = Array.fill[Long](cap)(Missing)
      vs = new Array[Long](cap)
      var i = 0
      while (i < oks.length) {
        if (oks(i) != Missing) { val s = slot(oks(i)); ks(s) = oks(i); vs(s) = ovs(i) }
        i += 1
      }
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < ks.length) { if (ks(i) != Missing) f(ks(i)); i += 1 }
    }
  }

  /** Union-find over one partition's edges, union-by-min with path
    * compression: emits one star edge (root, node) per node, root = minimum
    * id of the node's partition-local component. Driver never sees the data;
    * per-task memory is one map entry per distinct node in the partition.
    */
  private def localMinStars(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap()
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrElse(r, r)
      while (p != r) { r = p; p = parent.getOrElse(r, r) } // one probe per hop
      var c = x
      var pc = parent.getOrElse(c, c)
      while (pc != c) { parent.put(c, r); c = pc; pc = parent.getOrElse(c, c) }
      r
    }
    it.foreach { case (a, b) =>
      require(a != Long.MinValue && b != Long.MinValue,
        "Long.MinValue ids are reserved by the union-find map")
      if (parent.getOrElse(a, Long.MinValue) == Long.MinValue) parent.put(a, a)
      if (parent.getOrElse(b, Long.MinValue) == Long.MinValue) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.foreachKey(n => out += ((find(n), n)))
    out.iterator
  }

  /** One pointer-jump step over an (id, old_label, label) frame: each node
    * takes min(label, label(label)). The frame is referenced twice but the
    * identical aggregate exchange is shared by Spark's ReuseExchange rule.
    */
  private def jump(l: DataFrame): DataFrame =
    l.as("x")
      .join(
        l.select(col("id").as("lid"), col("label").as("llabel")),
        col("x.label") === col("lid"), "left")
      .select(
        col("x.id").as("id"),
        col("x.old_label").as("old_label"),
        least(col("x.label"), coalesce(col("llabel"), col("x.label"))).as("label"))

  /** Corpus dedup end-to-end: keep the canonical (minimum-id) document of
    * every duplicate component plus all documents that paired with nothing.
    * `pairs` is any candidate-pair frame — [[minhashNearDuplicates]],
    * [[simhashNearDuplicates]], [[embeddingNearDuplicates]] output all fit.
    * The cluster map is tiny relative to the corpus (only clustered ids), so
    * the join is a key-equi join on the id; at 100 TB this is one shuffle of
    * ids against the corpus, never a pairwise pass.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // rename the cluster-map columns so they can never collide with a corpus
    // column (the corpus id is usually also called doc_id)
    val clusters = duplicateClusters(pairs)
      .select(col("doc_id").as("__cc_id"), col("cluster_id").as("__cc_cluster"))
    docs
      .join(clusters, docs(idCol) === clusters("__cc_id"), "left")
      .where(col("__cc_cluster").isNull || docs(idCol) === col("__cc_cluster"))
      .drop("__cc_id", "__cc_cluster")
  }

  /** Quality-aware canonical selection: for each near-dup cluster, elect the
    * member with the HIGHEST quality score (ties by lowest id) instead of
    * [[dedupCorpus]]'s min-id convention — the production knob for "when
    * near-duplicates differ, keep the best-written copy, not the
    * first-crawled one". Returns one row per cluster:
    * (cluster_id, canonical_id, canonical_quality).
    *
    * Shape: the per-doc quality score is a map-side codegen expression; the
    * election is a window over the duplicate-membership-sized cluster
    * labels (clusters are LSH-cap-bounded, so no window partition can be a
    * skew hazard), and only ids + one double ever shuffle — text stays at
    * the scan.
    */
  def canonicalByQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labels: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("_q").desc, col("doc_id"))
    labels
      .join(
        docs.select(col(idCol).as("doc_id"), qualityScore(col(textCol)).as("_q")),
        Seq("doc_id"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(
        col("cluster_id"),
        col("doc_id").as("canonical_id"),
        col("_q").as("canonical_quality"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (pairs: columns id_a, id_b). Join-based: each side fetches its shingle
    * set by key — no cross product.
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      shingleN: Int = 2): DataFrame = {
    val sets = docs.select(
      col(idCol).as("jid"),
      array_sort(array_distinct(shingles(col(textCol), shingleN))).as("jset"))
    pairs
      .join(sets.withColumnRenamed("jid", "id_a").withColumnRenamed("jset", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("jid", "id_b").withColumnRenamed("jset", "set_b"), Seq("id_b"))
      .withColumn(
        "_overlap",
        graft.functions.SortedSetOverlap.overlapFast(col("set_a"), col("set_b")))
      .withColumn("n_intersect", col("_overlap.n_intersect"))
      .withColumn("n_union", col("_overlap.n_union"))
      .withColumn(
        "jaccard",
        col("n_intersect").cast("double") / col("n_union").cast("double"))
      .select(col("id_a"), col("id_b"), col("n_intersect"), col("n_union"), col("jaccard"))
  }

  /** Winnowed fingerprint set (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * document-fingerprinting scheme): hash every token `k`-gram, then keep
    * the minimum hash of each sliding window of `w` consecutive k-gram
    * hashes. Matching on winnowed minima is position-robust — an insertion
    * only perturbs fingerprints near the edit, unlike MinHash (whole-set)
    * or SimHash (whole-vector) — which is why MOSS uses it for local
    * overlap detection. Guarantee: any shared substring of
    * `w + k − 1` tokens contributes at least one common fingerprint.
    *
    * A document with fewer than `w` k-gram hashes keeps its single minimum
    * (so every document with ≥ k tokens has ≥ 1 fingerprint); fewer than
    * `k` tokens → empty. Base hash is [[graft.functions.Sha60]] mod 2³¹−1,
    * the same DuckDB-replicable family as MinHash, so the whole operator is
    * oracle-certifiable. The O(L·w) window-min cost uses [[bindOnce]] so the
    * shingle+hash pass runs once per row, not once per window position.
    */
  def winnowedFingerprints(text: Column, k: Int = 3, w: Int = 4): Column = {
    val p = lit(graft.functions.Sha60.Mersenne31)
    bindOnce(transform(shingles(text, k), s => pmod(graft.functions.Sha60.sha60(s), p))) { hs =>
      when(size(hs) === 0, array().cast("array<bigint>"))
        .when(size(hs) < w, array(array_min(hs)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(hs) - lit(w - 1)),
          i => array_min(slice(hs, i, lit(w))))))
    }
  }

  /** Winnowing near-duplicate pairs: documents sharing winnowed fingerprints,
    * scored by containment (shared fingerprints / smaller fingerprint set).
    * Returns (id_a, id_b, n_shared, overlap) with id_a < id_b and
    * overlap ≥ `minOverlap`.
    *
    * Scale shape is the same inverted-index discipline as MinHash LSH: the
    * fingerprint explode carries ONLY (doc_id, fp) — never text — and each
    * fingerprint bucket is capped at `maxBucketSize` (a boilerplate k-gram
    * shared by everything would otherwise emit a quadratic pair set), so at
    * 100 TB the one shuffle moves id+hash rows and the pair enumeration is
    * bounded per bucket. n_shared is exact (fingerprint sets are distinct
    * arrays, buckets are keyed by fingerprint value, so a pair appears once
    * per shared fingerprint and the groupBy count is the intersection size).
    */
  def winnowingNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minOverlap: Double = 0.5,
      maxBucketSize: Int = 50): DataFrame = {
    // Two consumers (bucket explode + size attach): eager-persist the tiny
    // (doc_id, fingerprint-array) frame so tokenize+hash+winnow runs once
    // (see graft.core.Caching for the AQE lazy-persist re-inlining hazard).
    // Native O(L) kernel; winnowedFingerprints is its bit-parity oracle.
    val fps = graft.core.Caching.eager(
      df.select(
          col(idCol).as("doc_id"),
          graft.functions.WinnowExpr
            .winnowFast(shingles(col(textCol), k), w).as("fps"))
        .where(size(col("fps")) > 0))

    // Skew-capped fingerprint buckets ([[cappedIdBuckets]]): a boilerplate
    // fingerprint's mega-bucket is dropped with every aggregation buffer
    // bounded, one shuffle.
    val exploded = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val buckets = cappedIdBuckets(
      exploded, Seq("fp"), "doc_id", minSize = 2, maxSize = maxBucketSize)
    // Same one-sort pair emission as minhashNearDuplicates (shared
    // [[graft.functions.TextFunctions.triangularPairs]] helper).
    val pairCombos = triangularPairs(col("ids"))(
      (a, b) => struct(a.as("id_a"), b.as("id_b")))
    val shared = buckets
      .select(explode(pairCombos).as("pr"))
      .groupBy(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))

    val sizes = fps.select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_fp", "n_fp_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_fp", "n_fp_b"), Seq("id_b"))
      .withColumn(
        "overlap",
        col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")).cast("double"))
      .where(col("overlap") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("overlap"))
  }

  /** Incremental winnowing dedup: (delta, corpus) near-duplicate pairs by
    * shared winnowed fingerprints — which newly arrived documents reuse
    * substantial runs of existing corpus text. The containment denominator
    * is the DELTA side's fingerprint count ("how much of the new document
    * is already in the corpus"), the ingest-gating semantics.
    *
    * The corpus is never self-joined: delta fingerprints probe a capped
    * (fingerprint → corpus-id) index — at 100 TB the index is precomputed
    * and this is the daily-delta probe, the same discipline as
    * [[minhashIncrementalDuplicates]]. Bucket cap is ids-first on the
    * CORPUS side (a boilerplate fingerprint shared by millions of corpus
    * docs is dropped before any join). Returns
    * (delta_id, corpus_id, n_shared, overlap) at overlap ≥ `minOverlap`.
    */
  def winnowingIncrementalDuplicates(
      corpus: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minOverlap: Double = 0.3,
      maxBucketSize: Int = 50): DataFrame = {
    def fpsOf(df: DataFrame) =
      df.select(
          col(idCol).as("doc_id"),
          graft.functions.WinnowExpr
            .winnowFast(shingles(col(textCol), k), w).as("fps"))
        .where(size(col("fps")) > 0)

    // two consumers (the cap groupBy + the probe join): eager-persist the
    // exploded (corpus_id, fp) index so the corpus text is winnowed once
    val corpusIndex = graft.core.Caching.eager(
      fpsOf(corpus)
        .select(col("doc_id").as("corpus_id"), explode(col("fps")).as("fp")))
    val keep = corpusIndex
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("_bs"))
      .where(col("_bs") <= maxBucketSize)
      .select(col("fp"))

    // two consumers (probe explode + containment denominator): one text scan
    val deltaFps = graft.core.Caching.eager(fpsOf(delta))
    val shared = deltaFps
      .select(col("doc_id").as("delta_id"), explode(col("fps")).as("fp"))
      .join(corpusIndex.join(keep, Seq("fp")), Seq("fp"))
      .groupBy(col("delta_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))

    shared
      .join(
        deltaFps.select(col("doc_id").as("delta_id"), size(col("fps")).cast("long").as("n_fp")),
        Seq("delta_id"))
      .withColumn("overlap", col("n_shared").cast("double") / col("n_fp").cast("double"))
      .where(col("overlap") >= minOverlap)
      .select(col("delta_id"), col("corpus_id"), col("n_shared"), col("overlap"))
  }
}
