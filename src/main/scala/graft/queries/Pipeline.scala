package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Analytics, Behavior, Curation, Dedup, Quantize, Retrieval, Similarity, Sketches, Tokenizer}
import graft.lineage.Lineage

/** LLM-training-data pipeline operators (dedup, text analysis, similarity
  * search) and the streaming-adjacent event analytics + graph traversal —
  * exercised over the driver's `documents`, `embeddings`, `events`, and
  * dimension tables. Determinism rules as in [[Relational]]; additionally,
  * per-row `aggregate` folds over arrays are sequential and therefore
  * bit-deterministic, which is what makes cosine similarity oracle-able.
  */
object Pipeline {

  // ---------------------------------------------------------------- events

  /** q28 — hourly event rollup (the batch shape of the Structured Streaming
    * windowed aggregation in graft.streaming; reference has no streams, this
    * is the `events`-table extension). One shuffle on (hour, type).
    */
  def eventHourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    e.groupBy(
        date_trunc("hour", col("ts")).as("event_hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(38,2)").cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_hour"), col("event_type"))
  }

  /** q29 — sessionization via lag-gap (30-minute inactivity): events are
    * second-truncated first so nanosecond precision differences cannot flip
    * a boundary. Window is keyed by user — distributes by user at scale.
    */
  def eventSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
      .withColumn("ts_sec", date_trunc("second", col("ts")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
    val flagged = e.withColumn(
      "is_new_session",
      when(
        lag(col("ts_sec"), 1).over(w).isNull ||
          (unix_timestamp(col("ts_sec")) - unix_timestamp(lag(col("ts_sec"), 1).over(w))) > 1800,
        1L).otherwise(0L))
    flagged
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("is_new_session")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** q103 — ordered conversion funnel view → click → purchase: a user
    * reaches a stage only via an event strictly after a qualifying
    * previous-stage event ([[Analytics.funnel]] — one shuffle + one sort
    * for the whole stage chain; RANGE-frame windows + strict inequality
    * make the result independent of ordering among equal timestamps).
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    Analytics.funnel(e, col("user_id"), col("ts"), col("event_type"),
      Seq("view", "click", "purchase"))
  }

  /** q62 — as-of join: every purchase matched to the user's most recent
    * click at-or-before the purchase timestamp ([[graft.operators.AsOfJoin]]
    * union+window formulation; DuckDB's native ASOF JOIN is the oracle).
    * Clicks are pre-deduped per (user, ts) by highest event id so equal-ts
    * ties are deterministic in both engines.
    */
  def purchaseAsofClick(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)))
      .where(col("_rn") === 1).drop("_rn")
    graft.operators.AsOfJoin
      .asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "ts"))
      .select(
        col("event_id"),
        col("user_id"),
        col("ts").as("purchase_ts"),
        col("asof.event_id").as("click_id"),
        col("asof.ts").as("click_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("asof.ts")))
          .as("secs_since_click"))
      .orderBy(col("event_id"))
  }

  /** q63 — range join: events bucketed into non-uniform value bands via the
    * chunk-quantized equi-join ([[graft.operators.RangeJoin]]); per-band
    * event counts and value totals.
    */
  def eventValueBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).events
    val bands = Seq(
      (0L, 0.0, 1.0), (1L, 1.0, 5.0), (2L, 5.0, 20.0), (3L, 20.0, 50.0),
      (4L, 50.0, 100.0), (5L, 100.0, 200.0), (6L, 200.0, 350.0), (7L, 350.0, 500.0)
    ).toDF("band_id", "lo", "hi")
    graft.operators.RangeJoin
      .intervalJoin(e, "value", bands, "lo", "hi", chunkWidth = 25.0)
      .groupBy(col("band_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(38,2)").cast("double")
          .as("total_value"))
      .orderBy(col("band_id"))
  }

  /** q43 — JSON metadata extraction (reference JSONB read-through,
    * `models/logs_models.py:115`; SURVEY §2.7): parse the events `props`
    * JSON and aggregate by the extracted key.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    e.select(get_json_object(col("props"), "$.k").cast("int").as("k_value"))
      .groupBy(col("k_value"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("k_value"))
  }

  /** q44 — pagination (reference `sql/query_builder.py:227-242`): page 3 of
    * 50, keyset-ordered. (At 100 TB, OFFSET pagination degrades — prefer
    * keyset `WHERE key > last` pagination, which is what incrementalLoad
    * implements; this exercises the reference's page/limit arithmetic.)
    */
  def paginatedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val page = 3
    val size = 50
    Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
      .offset((page - 1) * size)
      .limit(size)
  }

  /** q45 — the engine-wide implicit `is_deleted = FALSE` convention
    * (reference `sql/query_builder.py:121-124`): soft-delete then query
    * through the `active()` accessor.
    */
  def activeCustomersBySegment(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir).customer
    val flagged = graft.dml.Mutations.softDelete(c, col("c_acctbal") < 0, "quality_job")
    graft.ddl.TableSpec.active(flagged)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("c_mktsegment"))
  }

  // ----------------------------------------------------------------- graph

  /** q27 — graph reachability (the recursive-CTE replacement, reference
    * `logs/data_lineage.py:358-470`): supplier→nation→region edge walk with
    * depth tracking and cycle guard as one lazy plan of per-level joins,
    * verified against a real WITH RECURSIVE oracle.
    */
  def graphReachability(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.supplier
      .select(
        concat(lit("supplier/"), col("s_suppkey").cast("string")).as("src"),
        concat(lit("nation/"), col("s_nationkey").cast("string")).as("dst"))
      .unionByName(t.nation.select(
        concat(lit("nation/"), col("n_nationkey").cast("string")).as("src"),
        concat(lit("region/"), col("n_regionkey").cast("string")).as("dst")))
    val seeds = t.supplier
      .select(concat(lit("supplier/"), col("s_suppkey").cast("string")).as("seed"))
    Lineage
      .reachable(edges, "src", "dst", seeds, "seed", maxDepth = 5)
      .orderBy(col("seed"), col("node"))
  }

  // ----------------------------------------------------------------- dedup

  /** q30 — exact deduplication groups by normalized content hash. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup
      .exactGroups(d, col("doc_id"), col("text"))
      .orderBy(col("content_hash"))
  }

  /** q34 — MinHash+LSH near-duplicate pairs (Sha60 hash family — the DuckDB
    * oracle recomputes the identical signatures; also recall-tested in
    * ScalaTest against exact Jaccard).
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup
      .minhashNearDuplicates(d, "doc_id", "text",
        numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q35 — SimHash fingerprints + Hamming-blocked near-dup candidates
    * (Sha60-based, oracle-replicated in DuckDB).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup
      .simhashNearDuplicates(d, "doc_id", "text", maxHamming = 16)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q52 — duplicate clusters: MinHash+LSH candidate pairs (the q34
    * pipeline) closed under transitivity via distributed connected
    * components ([[Dedup.duplicateClusters]]); one row per clustered doc
    * with its component's canonical id and size.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q221 — CLUSTER LABELING (c-TF-IDF style) over the q52 near-dup
    * clusters: the top-3 most DISTINCTIVE terms per cluster by document-
    * frequency lift — `(n_ct/n_c)/(n_t/N)`, how over-represented the term
    * is in the cluster vs the clustered corpus — the "what IS this
    * template family" explainability step a dedup rollout needs before
    * anyone deletes a cluster. Exactness discipline: all four counts are
    * exact BIGINTs, the lift is ONE double division of two integer
    * products (deterministic on both engines), ranking ties pinned by
    * term; terms must appear in ≥ 2 cluster docs (a single-doc term
    * explains a document, not a family). Scale shape: term presence
    * explodes from DISTINCT per-doc token sets (doc-bounded), the three
    * count aggregates are map-side-combined, N attaches via the
    * ScalarJoin constant-key broadcast, and the top-3 window partitions
    * by the high-cardinality cluster id.
    */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
    val toks = d.join(clusters, "doc_id")
      .select(col("cluster_id"), col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
    val ct = toks.groupBy(col("cluster_id"), col("term"))
      .agg(count(lit(1)).as("n_ct"))
    val nt = toks.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    val nc = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_c"))
    val bigN = clusters.agg(count(lit(1)).as("n_total"))
    val scored = graft.core.ScalarJoin.withScalars(
        ct.join(nt, "term").join(nc, "cluster_id"), bigN)
      .where(col("n_ct") >= 2)
      .withColumn("lift",
        (col("n_ct") * col("n_total")).cast("double") /
          (col("n_c") * col("n_t")).cast("double"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("lift").desc, col("term").asc)
    scored
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .where(col("term_rank") <= 3)
      .select(col("cluster_id"), col("term_rank"), col("term"),
        col("n_ct").as("n_docs_with_term"), col("lift"))
      .orderBy("cluster_id", "term_rank")
  }

  /** q96 — dedup-savings report over the q52 clusters: per cluster size,
    * clusters / documents dropped / tokens saved by canonical-per-cluster
    * dedup — the ROI diagnostic behind a dedup rollout.
    */
  def dedupSavingsReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    Dedup.dedupSavings(d, "doc_id", "text", Dedup.duplicateClusters(pairs))
      .orderBy(col("cluster_size"))
  }

  /** q105 — leakage-proof split: train/val/test assignment hashed on the
    * q52 near-dup cluster id ([[Curation.clusterAwareSplit]]), so a test
    * document can never have a near-twin in train. Unclustered docs get the
    * plain q71 hash-split assignment.
    */
  def leakageProofSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    Curation.clusterAwareSplit(d, "doc_id", Dedup.duplicateClusters(pairs))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q53 — the corpus after LSH dedup ([[Dedup.dedupCorpus]] over the q52
    * clusters): per-source surviving-document counts — the "what did dedup
    * do to my corpus" report.
    */
  def dedupCorpusBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    Dedup.dedupCorpus(d, "doc_id", pairs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------- curation

  /** q54 — eval-set contamination: every 17th document plays the eval set,
    * the rest the training corpus; per eval doc, the fraction of its distinct
    * word bigrams present anywhere in the training corpus.
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val evalSet = d.where(col("doc_id") % 17 === 0)
    val train = d.where(col("doc_id") % 17 =!= 0)
    Curation.contamination(train, evalSet, "doc_id", "text", shingleN = 2)
      .orderBy(col("doc_id"))
  }

  /** q55 — repetition-based quality metrics (Gopher-style): distinct-token
    * ratio and top-bigram fraction per document, with a repetitive/ok label.
    */
  def repetitionQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.repetitionMetrics(d, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q56 — deterministic stratified sample: 5 documents per source by
    * sha256-prefix hash rank.
    */
  def stratifiedSampleBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.stratifiedSample(d, "source", "doc_id", k = 5)
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy(col("source"), col("sample_rank"))
  }

  /** q57 — sequence packing into 512-token bins per source: per-bin document
    * and token counts.
    */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.packSequences(d, "source", "doc_id", "text", tokenBudget = 512)
      .orderBy(col("stratum"), col("bin_id"))
  }

  /** q58 — token document frequency, top 20 by df (ties by token): the
    * vocabulary statistic behind df-based filters.
    */
  def docFrequencyTop(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.docFrequency(d, "text")
      .orderBy(col("df_count").desc, col("token"))
      .limit(20)
  }

  /** q59 — PII redaction: documents augmented with deterministic synthetic
    * PII (the corpus itself has none), then emails/phones/IPs counted and
    * masked; the full redacted text is oracle-compared, making this a strict
    * cross-engine regex-semantics check.
    */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val augmented = d.select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-867-530"), (col("doc_id") % 10).cast("string"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")).as("text"))
    Curation.redactPii(augmented, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q60 — corpus-informedness scoring: mean token document frequency per
    * document (df statistic joined back at token level).
    */
  def tokenDfScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.meanTokenDf(d, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q64 — incremental dedup: every 10th document plays the newly arrived
    * delta, the rest the existing corpus; near-duplicate (delta, corpus)
    * pairs via the LSH index probe ([[Dedup.minhashIncrementalDuplicates]])
    * — the corpus is never self-joined.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val delta = d.where(col("doc_id") % 10 === 0)
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    Dedup.minhashIncrementalDuplicates(corpus, delta, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** q100 — incremental cluster maintenance: yesterday's corpus (doc_id % 10
    * ≠ 0) is clustered in full; today's delta (% 10 = 0) contributes
    * delta–delta pairs (LSH over the delta) and delta–corpus pairs (the q64
    * incremental probe), and [[Dedup.mergeClusters]] folds them into the
    * existing labeling on the contracted cluster graph — unaffected clusters
    * never shuffle. The oracle recomputes clusters over the UNION pair set
    * with the q52 recursive CTE, certifying the merge ≡ full-recompute
    * invariant.
    */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    // ONE tokenize+shingle+minhash pass over the whole table; the three
    // pair generators (corpus LSH, delta LSH, cross probe) take disjoint
    // filtered views of the cached signature frame instead of each paying
    // its own signature scan (previously the suite's costliest query, with
    // the text pass run up to three times over overlapping populations)
    val sigAll = graft.core.Caching.eager(
      Dedup.sigDocs(d, "doc_id", "text", shingleN = 1, numHashes = 16))
    val dSigs = sigAll.where(col("doc_id") % 10 === 0)
    val cSigs = sigAll.where(col("doc_id") % 10 =!= 0)
    val oldPairs = Dedup.minhashNearDuplicatesFromSigs(cSigs,
      numBands = 4, rowsPerBand = 4, minJaccard = 0.5)
    val labels = Dedup.duplicateClusters(oldPairs)
    val deltaPairs = Dedup.minhashNearDuplicatesFromSigs(dSigs,
      numBands = 4, rowsPerBand = 4, minJaccard = 0.5)
      .select(col("id_a"), col("id_b"))
    val crossPairs = Dedup.minhashIncrementalDuplicatesFromSigs(cSigs, dSigs,
      numBands = 4, rowsPerBand = 4, minJaccard = 0.5)
      .select(col("delta_id").as("id_a"), col("corpus_id").as("id_b"))
    val merged = Dedup.mergeClusters(labels, deltaPairs.unionByName(crossPairs))
    val sizes = merged.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    merged.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q101 — bloom-accelerated incremental exact dedup: a re-ingest
    * simulation (the delta is today's new docs PLUS a slice of yesterday's
    * corpus re-arriving under fresh ids — the classic crawler re-fetch) run
    * through [[Dedup.exactIncrementBloom]]: a delta-sized Bloom filter
    * broadcasts into a map-side probe on the corpus scan, so the corpus
    * never shuffles; survivors verify exactly on md5, keeping the output
    * identical to the plain anti-join. Admitted = the genuinely-new docs;
    * every re-ingested copy is dropped.
    */
  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val reingested = corpus.where(col("doc_id") % 25 === 1)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val delta = d.where(col("doc_id") % 10 === 0).unionByName(reingested)
    Dedup.exactIncrementBloom(corpus, delta, "doc_id", "text")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q104 — sliding context windows: 30-token windows at stride 20
    * (10-token overlap) over every document —
    * [[Curation.slidingWindows]], a map-only chunker with no shuffle.
    */
  def contextWindows(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.slidingWindows(d, "doc_id", "text", window = 30, stride = 20)
      .orderBy(col("doc_id"), col("window_idx"))
  }

  /** q95 — incremental SimHash dedup: the q64/q91/q70 delta-vs-corpus split
    * applied to the fingerprint tier (quarter-block probe of a capped corpus
    * index, Hamming ≤ 16 as in q35).
    */
  def incrementalSimhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup
      .simhashIncrementalDuplicates(
        corpus = d.where(col("doc_id") % 10 =!= 0),
        delta = d.where(col("doc_id") % 10 === 0),
        "doc_id", "text", maxHamming = 16)
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** q65 — the full curation pipeline ([[Curation.curateCorpus]]: quality
    * gate → PII mask → exact dedup → near-dup cluster dedup), reported as
    * per-source surviving documents and token volume — the number that tells
    * you what your training corpus actually is after cleaning.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.curateCorpus(d, "doc_id", "text")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("source"))
  }

  /** q66 — the curation funnel: per-stage document attrition through the
    * q65 pipeline (input → quality gate → exact dedup → near-dup removal).
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.curationFunnel(d, "doc_id", "text")
  }

  /** q36 — exact word-bigram Jaccard over candidate pairs (consecutive doc
    * ids as a deterministic pair set).
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = d.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    Dedup
      .ngramJaccard(d, "doc_id", "text", pairs, shingleN = 2)
      .orderBy(col("id_a"))
  }

  /** q38 — embedding-cosine near-duplicate detection, exact variant on a
    * deterministic FIXED-BUDGET subset (the first 50 vector ids): pairwise
    * cosine ≥ 0.25. This exact form is the oracle-checkable ground truth of
    * the semantics; the scale path [[Dedup.embeddingNearDuplicates]] carries
    * its OWN oracle row (q67) replicating the full hyperplane→bucket→pair
    * pipeline. The budget is a constant row COUNT, not a fraction, so the
    * one whitelisted nested-loop join stays O(K²) at any scale factor —
    * a `% 10` fraction would make the twin's cost grow with the corpus.
    */
  def embeddingNearDupExact(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    val e = Tables(spark, dir).embeddings
      .where(col("vec_id") < 50)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosineFast(col("va"), col("vb")).as("cosine_sim"))
      .where(col("cosine_sim") >= 0.25)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q67 — the SCALE path for embedding near-dup: the full LSH-bucketed
    * pipeline [[Dedup.embeddingNearDuplicates]] (hyperplane signature →
    * capped bucket → same-bucket pairs → cosine threshold), certified against
    * a DuckDB oracle that replicates every stage from the same Sha60-derived
    * sign matrix. Unlike q38's exact crossJoin this never compares across
    * buckets — candidate work is Σ bucket² (capped), not N².
    *
    * 8 planes on the 500-vector test corpus keeps buckets non-trivial
    * (multi-occupancy) while still pruning >99% of the N² pair space; at
    * corpus scale nPlanes grows with log₂(N/targetBucket).
    */
  def embeddingNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .embeddingNearDuplicates(
        Tables(spark, dir).embeddings, "vec_id", "embedding",
        minCosine = 0.25, nPlanes = 8, maxBucketSize = 200)
      .orderBy(col("id_a"), col("id_b"))

  /** q68 — SemDeDup-style semantic corpus dedup (Abbas et al. 2023's shape,
    * LSH-bucketed rather than k-means-bucketed): embedding near-dup pairs
    * (q67's certified pipeline) closed under transitivity into clusters, one
    * canonical vector kept per cluster (minimum id), reported as surviving
    * vectors per class label. Every stage is an already-audited operator —
    * hyperplane bucket pairs → contracted label propagation → ids-only
    * keep-set join; nothing quadratic, embeddings never self-join across
    * buckets.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val pairs = Dedup.embeddingNearDuplicates(
      e, "vec_id", "embedding", minCosine = 0.25, nPlanes = 8, maxBucketSize = 200)
    Dedup.dedupCorpus(e, "vec_id", pairs)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("label"))
  }

  /** q70 — incremental embedding dedup: the daily-delta split (every 10th
    * vector, q64's convention) probed against the remaining corpus' LSH
    * bucket index. The corpus is never self-joined; its vectors move only
    * for colliding candidate ids ([[Dedup.embeddingIncrementalDuplicates]]).
    */
  def incrementalEmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Dedup
      .embeddingIncrementalDuplicates(
        corpus = e.where(col("vec_id") % 10 =!= 0),
        delta = e.where(col("vec_id") % 10 === 0),
        "vec_id", "embedding",
        minCosine = 0.25, nPlanes = 8, maxBucketSize = 200)
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** q71 — deterministic corpus mixture: per-source weighted subsample
    * ([[Curation.weightedSourceSample]]) then hash-based train/val/test
    * split assignment ([[Curation.hashSplit]]), reported as per-source ×
    * split document and token counts — the data-mixing + split report a
    * training run starts from. Both steps are pure hash predicates: the
    * same document lands in the same split on any engine at any corpus
    * size.
    */
  def corpusMixture(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    // full weight for src0-5, half for src6-11, 10% for src12-17; src18/19
    // unlisted — a source with no weight contributes nothing
    val weights =
      (0 to 5).map(i => s"src$i" -> 1000).toMap ++
        (6 to 11).map(i => s"src$i" -> 500).toMap ++
        (12 to 17).map(i => s"src$i" -> 100).toMap
    Curation
      .hashSplit(
        Curation.weightedSourceSample(d, "source", "doc_id", weights),
        "doc_id")
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("source"), col("split"))
  }

  /** q72 — corpus snapshot diff: a deterministic synthetic "v2" of the
    * documents table (every 11th id dropped, every 5th text amended, every
    * 13th id re-added under a new id) diffed against v1 with
    * [[Curation.corpusDiff]]; per-status document counts. Exercises all
    * four statuses; only (id, hash) ever joins.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables(spark, dir).documents
    val v2 = v1
      .where(col("doc_id") % 11 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(
        // negative keyspace for re-added ids: doc_ids are non-negative at
        // every scale factor, so -(id+1) can never collide with a real id
        // (a fixed +offset would collide once the corpus outgrows it)
        v1.where(col("doc_id") % 13 === 0)
          .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    Curation.corpusDiff(v1, v2, "doc_id", "text")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("status"))
  }

  /** q73 — top 20 corpus trigrams by instance count (ties by gram): the
    * boilerplate-detection profile. Plans as partial-agg → one shuffle →
    * TakeOrderedAndProject.
    */
  def topNgrams(spark: SparkSession, dir: String): DataFrame =
    Curation.ngramFrequency(Tables(spark, dir).documents, "text", n = 3)
      .orderBy(col("gram_count").desc, col("gram"))
      .limit(20)

  /** q106 — frequent trigrams by RELATIVE threshold (count > 1/5000 of all
    * gram instances) via the bounded-memory Misra–Gries sketch + exact
    * recount ([[Curation.frequentNgrams]]). Same detection target as q73's
    * profile but with O(k) aggregation state instead of O(vocabulary) — the
    * shape that survives a corpus whose gram vocabulary dwarfs executor
    * memory.
    */
  def frequentGrams(spark: SparkSession, dir: String): DataFrame =
    Curation.frequentNgrams(Tables(spark, dir).documents, "text", n = 3, k = 5000)
      .orderBy(col("gram_count").desc, col("gram"))

  /** q74 — chunk-level duplication profile: per document, how many of its
    * 20-token chunks occur verbatim in some other document
    * ([[Curation.chunkDedupStats]]).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    Curation.chunkDedupStats(Tables(spark, dir).documents, "doc_id", "text",
      chunkSize = 20)
      .orderBy(col("doc_id"))

  /** q99 — boilerplate-chunk removal: chunks occurring in more than 2
    * distinct documents are dropped and each document's text is rebuilt from
    * the survivors ([[Curation.removeBoilerplateChunks]] — the C4/RefinedWeb
    * duplicated-span removal, acting on the q74 profile's chunk unit).
    */
  def boilerplateRemoval(spark: SparkSession, dir: String): DataFrame =
    Curation.removeBoilerplateChunks(Tables(spark, dir).documents, "doc_id", "text",
      chunkSize = 20, maxDocs = 2)
      .orderBy(col("doc_id"))

  /** q75 — per-document keyword extraction: top 3 tokens by tf/df score
    * ([[Curation.keywordExtract]] — tf·idf ordering from integer-exact
    * division, no engine-dependent logarithm).
    */
  def keywords(spark: SparkSession, dir: String): DataFrame =
    Curation.keywordExtract(Tables(spark, dir).documents, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("keyword_rank"))

  /** q69 — symmetric int8 embedding quantization (the 4× storage-compression
    * pass a vector corpus gets before serving/ANN indexing): per vector the
    * quantized values (as a canonical csv string — engines differ in array
    * hashing, not content), their integer checksum, and the worst-dimension
    * reconstruction error. Map-only — no shuffle at any scale.
    */
  def vectorQuantization(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    Tables(spark, dir).embeddings
      .select(
        col("vec_id"),
        col("embedding"),
        VectorFunctions.quantizeInt8(col("embedding")).as("qvec"))
      .select(
        col("vec_id"),
        array_join(col("qvec"), ",").as("qcsv"),
        aggregate(col("qvec"), lit(0L), (a, v) => a + v.cast("long")).as("q_sum"),
        VectorFunctions.maxQuantError(col("embedding"), col("qvec")).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------------ text

  /** q31 — token statistics per language: whitespace tokens and BPE-ish
    * sub-word tokens (reference has no text ops; LLM-pipeline extension).
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(regexTokenCount(col("text")).cast("long")).as("total_subword_tokens"))
      .withColumn(
        "avg_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("lang"))
  }

  /** q32 — per-document quality scoring: length/stopword/punctuation
    * heuristics combined into a [0,1] score with a quality label.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        wordHits(col("text"), EnglishStopwords).as("stopword_hits"),
        punctCount(col("text")).as("punct_chars"),
        qualityScore(col("text")).as("quality_score"))
      .withColumn(
        "quality_label",
        when(col("quality_score") >= 0.8, "high")
          .when(col("quality_score") >= 0.5, "medium")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  /** q33 — language-ID confusion matrix: heuristic prediction vs the
    * dataset's lang column.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.withColumn("predicted_lang", langId(col("text")))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  /** q37 — rolling-hash document fingerprints (Sha60 token basis — the
    * DuckDB oracle folds the identical polynomial; also unit-tested for
    * stability).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    d.select(
        col("doc_id"),
        TextFunctions.rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** q50 — multimodal feature-extraction plumbing over binary media columns
    * (decode stubbed; the schema/batching/metadata path is real): media built
    * deterministically from documents, features extracted per partition,
    * blob-independent metadata columns verified against the oracle.
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(Tables(spark, dir).documents)
    Multimodal
      .extractFeatures(media)
      .select(
        col("media_id"),
        col("media_type"),
        col("byte_length"),
        col("content_sha256"))
      .orderBy(col("media_id"))
  }

  /** q61 — video frame sampling metadata: the [[graft.multimodal.Multimodal
    * .sampleFrames]] fan-out (one blob → its sampled frames) with the frame
    * bytes dropped; the per-frame sha256 makes the stubbed decode
    * oracle-checkable.
    */
  def frameSampleMetadata(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(Tables(spark, dir).documents)
    Multimodal.sampleFrames(media, maxFrames = 7)
      .select(col("media_id"), col("frame_index"), col("frame_sha256"))
      .orderBy(col("media_id"), col("frame_index"))
  }

  /** q199 — REAL image decode ([[graft.multimodal.Multimodal.decodePng]]):
    * every third document becomes an ACTUAL PNG (executor-side
    * `javax.imageio` encode of closed-form pixels), and the decode path
    * parses those bytes back — `ImageIO.read`, per-pixel channel
    * extraction — emitting (width, height, Σr, Σg, Σb). The oracle
    * predicts every statistic arithmetically from the doc_id WITHOUT
    * decoding anything, so a hash match proves the encode → decode
    * roundtrip is pixel-exact: the codec gap the multimodal tier carried
    * since round 1 (stub decode), closed with JDK-public code. Integer
    * channel SUMS, not float means — nothing to pin. All map-side: one
    * codec context per partition, blobs never shuffle.
    */
  def imageDecodeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    Multimodal.imagePixelStats(
        Multimodal.pngMediaFromDocuments(Tables(spark, dir).documents))
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("r_sum"), col("g_sum"), col("b_sum"))
      .orderBy("media_id")
  }

  /** q214 — REAL image resize
    * ([[graft.multimodal.Multimodal.resizeNearest]]): the full
    * decode → nearest-neighbor resample → PNG re-encode → decode chain
    * over the q199 fixture images, every stage a real `javax.imageio`
    * codec call — and still hash-certified, because the sampling
    * arithmetic is pinned to integer division (`srcX = x'·w div 12`), so
    * the oracle predicts every resized pixel (and therefore the
    * per-channel sums of the 12×12 outputs) arithmetically from doc_id
    * without touching a codec. The 12×12 target is load-bearing for
    * coverage: widths 8..16 and heights 8..14 straddle it, so ONE run
    * exercises down-sampling (w > 12: source pixels skipped), UP-sampling
    * (w < 12: source pixels repeated), and identity (w = 12) — an 8×8
    * target would never execute the repeat branch. All map-side; blobs
    * never shuffle.
    */
  def imageResizeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    Multimodal.imagePixelStats(
        Multimodal.resizeImagesReal(
          Multimodal.pngMediaFromDocuments(Tables(spark, dir).documents), 12, 12))
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("r_sum"), col("g_sum"), col("b_sum"))
      .orderBy("media_id")
  }

  /** q223 — MIXED-CODEC real image decode (PNG + JPEG through ONE
    * `javax.imageio` path, [[graft.multimodal.Multimodal
    * .decodePatternDeviation]]): the q199 lossless certification extended
    * to a LOSSY codec. PNG rows carry the wrapping-gradient pattern and
    * must decode BIT-EXACTLY (`exact_pixels` true); JPEG rows carry the
    * solid-color pattern (quality 0.95 — a constant block is DC-only, so
    * quantization noise is tiny, while the gradient pattern's mod-256
    * wraps shred to deviation 176/255 under the DCT) and must decode
    * within a max per-channel deviation of 2 (probed max 1 across every
    * fixture scale including 16,667 images at the 20k-doc scale; distinct
    * per-channel solids keep a channel swap or YCbCr bug loud).
    * `exact_pixels` is PROJECTED OUT for JPEG rows — some solid blocks
    * round-trip exactly and some do not (probed 56/167 exact at sf0.01),
    * a per-row codec artifact no oracle should pretend to predict. The
    * oracle names every remaining cell closed-form from doc_id. All
    * map-side; blobs never shuffle.
    */
  def jpegDecodeCert(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val d = Tables(spark, dir).documents
    val png = Multimodal.decodePatternDeviation(
      Multimodal.pngMediaFromDocuments(d), maxAbsErr = 2, Multimodal.patternPixel)
    val jpg = Multimodal.decodePatternDeviation(
      Multimodal.jpegMediaFromDocuments(d), maxAbsErr = 2, Multimodal.patternSolid)
    png.unionByName(jpg)
      .select(
        col("media_id"), col("mime_type"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("decode_ok"),
        when(col("mime_type") === "image/png", col("exact_pixels"))
          .as("png_exact"),
        col("err_within_bound"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------- vectors

  /** The q39/q83/q92 deterministic centroid seed: vectors 1..4 collected as
    * the coarse centroid set (one tiny driver-side collect, shared by every
    * seeded-IVF certification query).
    */
  private def seedCentroids(emb: DataFrame): Seq[(Int, Seq[Double])] =
    emb
      .where(col("vec_id").between(1, 4))
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))

  private def queryVector(spark: SparkSession, dir: String): Seq[Double] = {
    val row = Tables(spark, dir).embeddings
      .where(col("vec_id") === 0)
      .select(col("embedding"))
      .head()
    row.getSeq[Float](0).map(_.toDouble).toSeq
  }

  /** q40 — exact brute-force cosine top-k neighbors of vec_id 0. The per-row
    * dot product is a sequential array fold → bit-deterministic → oracle-able.
    */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.bruteForceTopK(
      emb, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 10, excludeId = Some(0L))
  }

  /** q135 — MMR diversity re-rank ([[Similarity.mmrTopK]]): the exact
    * top-20 pool of vec_id 0's neighbors greedily re-ranked to 5 with
    * λ = 0.5. Probed at sf0.01: MMR selects {365, 344, 483, 165, 388} vs
    * plain top-5 {365, 334, 387, 423, 73} — the redundancy penalty is
    * load-bearing from the second pick on. The oracle replays the greedy
    * as a recursive CTE carrying the chosen set.
    */
  def mmrDiverseNeighbors(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(
      Tables(spark, dir).embeddings, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 5, poolSize = 20,
      lambda = 0.5, excludeId = Some(0L))

  /** q136 — hard-negative mining ([[Similarity.hardNegatives]]): per
    * anchor, the 3 most-similar same-bucket vectors with a DIFFERENT
    * label — q80's certified bucket pipeline with the label filter ahead
    * of ranking (857 rows at sf0.01, all 10 labels participating).
    */
  def hardNegativePairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(
      Tables(spark, dir).embeddings, "vec_id", "embedding", "label",
      k = 3, nPlanes = 8, maxBucketSize = 200)
      .orderBy(col("vec_id"), col("neg_rank"))

  /** q137 — BPE merge induction ([[Tokenizer.bpeMerges]]): 10 merges over
    * the documents corpus. Probed at sf0.01: a broken apply step (pair
    * counts recomputed on raw characters with chosen pairs excluded)
    * diverges from step 6 on — step 6 picks ('m','er'), a pair whose rhs
    * only exists because step 1 merged ('e','r') — so each row past 5
    * certifies the previous folds corpus-wide.
    */
  def bpeMergeTable(spark: SparkSession, dir: String): DataFrame =
    Tokenizer.bpeMerges(Tables(spark, dir).documents, "text", numMerges = 10)

  /** q138 — count–min sketch frequency report ([[Sketches
    * .cmsTokenFrequency]]): d=4 × w=32 sketch probed at the corpus's own
    * top-20 tokens. Probed at sf0.01: 16/20 estimates exact, 4 inflated by
    * live collisions — the min-over-rows is load-bearing in both
    * directions.
    */
  def cmsTokenFrequencyReport(spark: SparkSession, dir: String): DataFrame =
    Sketches.cmsTokenFrequency(
      Tables(spark, dir).documents, "text", depth = 4, width = 32, topK = 20)

  /** q139 — Matryoshka two-stage retrieval ([[Similarity.refineTopK]]):
    * coarse 16-dim-prefix cosine top-50, exact 64-dim re-rank to 10.
    * Probed at sf0.01: the funnel's ids {365,334,423,483,…} differ from
    * BOTH the exact full-dim top-10 (which keeps 387/73/7 that the coarse
    * stage prunes) and the coarse-only order — both stages load-bearing.
    */
  def matryoshkaNeighbors(spark: SparkSession, dir: String): DataFrame =
    Similarity.refineTopK(
      Tables(spark, dir).embeddings, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 10, coarseDims = 16, coarseK = 50,
      excludeId = Some(0L))

  /** q140 — BPE compression report ([[Tokenizer.bpeCompressionReport]]):
    * the 10 q137-trained merges applied corpus-wide, accounted per source
    * (word / char / BPE-token counts). Certifies `bpeEncode`'s apply path
    * at corpus scale — the oracle re-trains from scratch AND re-segments
    * via its own recursive-CTE fold, so a divergence in ANY of the 10
    * folds shows up in `bpe_token_count`.
    */
  def bpeCompressionBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val merges = Tokenizer.bpeMerges(docs, "text", numMerges = 10)
      .collect()                       // the 10-row trained model (bounded)
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    Tokenizer.bpeCompressionReport(docs, "text", "source", merges)
  }

  /** q39 — IVF ANN with seeded coarse centroids: vectors 1..4 act as the
    * (deterministic) centroid set, every vector is assigned to its nearest
    * centroid, and the query probes the 2 nearest lists. Seeding (instead of
    * trained k-means) keeps every arithmetic step a fixed-order per-row fold,
    * so unlike the trained path (spec-gated: centroid means are cross-row
    * float sums) this probe pipeline is certifiable by the SQL oracle.
    */
  def knnIvfSeeded(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val centroids = seedCentroids(emb)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      query = queryVector(spark, dir), k = 10, nProbe = 2, excludeId = Some(0L))
  }

  /** q94 — IVF ANN over TRAINED k-means centroids: 2 Lloyd iterations from
    * the deterministic every-step-th seed, then the same assign → probe-2 →
    * exact-rank pipeline as q39. Certifiable because the centroid means are
    * fixed-point decimal sums ([[Similarity.MeanScale]]) — order-independent
    * and replicated term-for-term by the SQL oracle's chained iteration CTEs.
    */
  def knnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val centroids =
      Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iterations = 2)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
    Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids,
      query = queryVector(spark, dir), k = 10, nProbe = 2, excludeId = Some(0L))
  }

  /** q102 — product-quantization ANN: per-subspace codebooks trained with
    * the q94 fixed-point k-means (all subspaces in one aggregation per
    * iteration), vectors encoded to `numSub` one-byte codes, and the query
    * ranked by asymmetric distance — a map-only scan over the codes table
    * with the query's distance table inlined as literals. This is the
    * memory tier of the ANN stack: at 100 TB the raw vectors (dim × 4
    * bytes) stay in cold storage and every query touches only the 8-byte
    * codes.
    */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val books = Similarity.pqCodebooks(
      emb, "vec_id", "embedding", numSub = 8, codesPerSub = 16, iterations = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    Similarity.pqTopK(codes, "vec_id", books,
      query = queryVector(spark, dir), k = 10, excludeId = Some(0L))
  }

  /** q41 — LSH-bucketed ANN variant (Sha60-derived hyperplanes, oracle-
    * replicated in DuckDB; recall vs the exact baseline is asserted in
    * ScalaTest).
    */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.lshTopK(
      emb, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 10,
      nPlanes = 16, maxBitDiff = 6, excludeId = Some(0L))
  }

  /** q42 — embedding statistics per label: counts and norm extrema (min/max
    * of per-row deterministic doubles; no cross-row double sums).
    */
  def vectorStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val emb = Tables(spark, dir).embeddings
    emb
      .withColumn("nrm", VectorFunctions.norm(col("embedding")))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        sum(col("nrm").cast("decimal(18,6)")).cast("decimal(38,6)").cast("double").as("total_norm"))
      .withColumn(
        "avg_norm",
        col("total_norm") / col("n_vectors").cast("double"))
      .orderBy(col("label"))
  }

  /** q80 — all-vectors kNN self-join: top-5 in-bucket neighbors per vector
    * (8 hyperplane planes, cap 200 — the same certified bucket pipeline as
    * q67, symmetrized, with a per-vector partial-top-k window).
    */
  def knnJoinAll(spark: SparkSession, dir: String): DataFrame =
    Similarity
      .knnJoin(Tables(spark, dir).embeddings, "vec_id", "embedding",
        k = 5, nPlanes = 8, maxBucketSize = 200)
      .orderBy(col("vec_id"), col("knn_rank"))

  /** q81 — DSIR-flavored target-affinity data selection: every document
    * scored by Σ df_target / Σ df_all over its distinct tokens, with the
    * 'src0' slice as the target domain.
    */
  def targetAffinityScores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation
      .targetAffinity(d, "doc_id", "text", col("source") === "src0")
      .orderBy(col("doc_id"))
  }

  /** q82 — per-source corpus health report: volumes, exact-duplicate rate,
    * quality-gate pass rate, empties — one aggregation pass.
    */
  def corpusHealthReport(spark: SparkSession, dir: String): DataFrame =
    Curation
      .corpusReport(Tables(spark, dir).documents, "doc_id", "text", "source")
      .orderBy(col("source"))

  /** q83 — cluster-balanced subsample: nearest-of-4-centroids assignment
    * (q39's deterministic seed centroids, vectors 1–4) then hash-rank top-25
    * per cluster — equal representation per semantic region.
    */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val centroids = seedCentroids(emb)
    Similarity.clusterSample(emb, "vec_id", "embedding", centroids, perCluster = 25)
      .orderBy(col("centroid_id"), col("sample_rank"))
  }

  /** q84 — winnowing (MOSS) fingerprint near-duplicate pairs: token-trigram
    * hashes winnowed with window 4, pairs by shared fingerprints, kept at
    * containment ≥ 0.5. The position-robust member of the dedup family
    * (MinHash q34 = whole-set, SimHash q35 = whole-vector).
    */
  def winnowingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup.winnowingNearDuplicates(d, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q85 — n-gram novelty: bigram novelty of the doc_id % 5 ≠ 0 slice vs
    * the doc_id % 5 = 0 slice as reference corpus (deterministic split so
    * the oracle can replicate it).
    */
  def ngramNoveltyScores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation
      .ngramNovelty(
        d.where(col("doc_id") % 5 =!= 0),
        d.where(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** q86 — token-budget source capping: hash-rank-first documents per source
    * until a 1,000-token budget, the "N tokens per domain" mixture
    * primitive.
    */
  def tokenBudgetBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.tokenBudgetSample(d, "doc_id", "text", "source", budget = 1000L)
      .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
  }

  /** q87 — per-source token-length profile: exact dyadic percentiles +
    * min/max/count, the packing/length-filter planning statistic.
    */
  def lengthProfileBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.lengthPercentiles(d, "text", "source")
      .orderBy(col("source"))
  }

  /** q89 — temperature mixture (α = 0.5): √count-proportional per-source
    * quotas over a 200-doc total, hash-rank-first keeps — the sub-linear
    * domain reweighting of multi-domain pretraining.
    */
  def temperatureMixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.temperatureMixture(d, "doc_id", "source", totalQuota = 200L)
      .orderBy(col("source"), col("sample_rank"))
  }

  /** q93 — truncation impact: tokens retained and docs cut per source under
    * 64/128/256-token sequence caps.
    */
  def truncationImpactReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Curation.truncationImpact(d, "text", "source", caps = Seq(64, 128, 256))
      .orderBy(col("source"))
  }

  /** q92 — per-label cluster diversity: q83's centroid assignment rolled up
    * to Simpson diversity per label (deterministic arithmetic only — no log).
    */
  def clusterDiversityReport(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val centroids = seedCentroids(emb)
    Similarity.clusterDiversity(emb, "embedding", "label", centroids)
      .orderBy(col("label"))
  }

  /** q91 — incremental winnowing dedup: delta docs (doc_id % 10 = 0, q64's
    * convention) probed against the remaining corpus' winnowed-fingerprint
    * index; containment over the delta side's fingerprints.
    */
  def incrementalWinnowingDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup
      .winnowingIncrementalDuplicates(
        corpus = d.where(col("doc_id") % 10 =!= 0),
        delta = d.where(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** q90 — cross-source duplication matrix: distinct shared normalized
    * contents per source pair, the mirror/aggregator diagnostic.
    *
    * The synthetic documents table has no cross-source exact duplicates, so
    * the raw matrix would certify an empty result (a vacuous parity check).
    * The fixture therefore simulates a mirror crawl: every doc_id % 5 == 0
    * document reappears under `<source>_mirror`, and every doc_id % 13 == 0
    * row carries NULL text — exercising both the pair enumeration and the
    * NULL-content guard against a non-empty oracle.
    */
  def crossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).documents
      .select(
        col("doc_id"),
        col("source"),
        when(col("doc_id") % 13 === 0, lit(null: String)).otherwise(col("text")).as("text"))
    val mirror = base
      .where(col("doc_id") % 5 === 0)
      .withColumn("source", concat(col("source"), lit("_mirror")))
    Curation.crossSourceDuplication(base.unionByName(mirror), "text", "source")
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q88 — embedding-space eval contamination: vectors vec_id % 10 = 0 act
    * as the eval set (q70's split convention), probed against the remaining
    * corpus' LSH bucket index; per eval item the single best corpus match
    * at cosine ≥ 0.25.
    */
  def embeddingContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity
      .embeddingContamination(
        corpus = e.where(col("vec_id") % 10 =!= 0),
        eval = e.where(col("vec_id") % 10 === 0),
        "vec_id", "embedding",
        minCosine = 0.25, nPlanes = 8, maxBucketSize = 200)
      .orderBy(col("eval_id"))
  }

  /** Scratch directory for the through-the-stream certification queries,
    * registered for recursive deletion at JVM exit: read-back DataFrames
    * stay valid for the whole session, while repeated verify/bench runs
    * stop accumulating corpus copies in the system temp dir (Bench runs
    * every query twice; each run previously left a full drop + checkpoint
    * + sink tree behind).
    *
    * ONE static shutdown hook drains a concurrent queue of registered
    * trees — a hook per invocation would accumulate unboundedly across a
    * long verify+bench session (the JVM keeps every registered hook thread
    * alive until exit).
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var dir = scratchDirs.poll()
      while (dir != null) {
        // per-dir isolation: ANY per-tree failure (an already-reaped tree,
        // a SecurityException, a stray runtime error from the walk) must
        // not abort the hook thread — that would leak every
        // later-registered tree still in the queue
        try {
          val walk = java.nio.file.Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => }
        dir = scratchDirs.poll()
      }
    }))
  /** Scratch base: a RAM-backed filesystem when one exists (stream
    * checkpoint commits fsync offset/commit/state files every micro-batch;
    * on the bench host that disk latency was pure fixed overhead across
    * the whole streaming tier), the system temp dir otherwise, either way
    * overridable via SPARK_GRAFT_SCRATCH. Certification scratch only —
    * drops, checkpoints, sinks whose lifetime is one query; a production
    * deployment points checkpointLocation at durable storage and never
    * sees this path.
    */
  private lazy val scratchBase: Option[java.nio.file.Path] =
    sys.env.get("SPARK_GRAFT_SCRATCH")
      .orElse(Some("/dev/shm").filter(p => java.nio.file.Files.isWritable(java.nio.file.Paths.get(p))))
      .map(java.nio.file.Paths.get(_))

  private[graft] def scratchDir(prefix: String): String = {
    scratchHook
    val dir = scratchBase match {
      case Some(base) => java.nio.file.Files.createTempDirectory(base, prefix)
      case None       => java.nio.file.Files.createTempDirectory(prefix)
    }
    scratchDirs.add(dir)
    dir.toString
  }

  /** Reap every registered scratch tree NOW. For the per-query harness
    * loops (through [[graft.core.GraftSession.release]], after each
    * query's result is materialized): with the RAM-backed scratch base,
    * waiting for the shutdown hook would accumulate every stream query's
    * drop + checkpoint + sink tree in memory for the whole session — eager
    * reaping bounds RAM use to one query's tree. Only safe once the query's result is
    * MATERIALIZED (read-back frames reference these paths lazily).
    */
  def reapScratch(): Unit = {
    var dir = scratchDirs.poll()
    while (dir != null) {
      try {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => }
      dir = scratchDirs.poll()
    }
  }

  /** Hard wall-clock deadline (absolute `System.nanoTime`) for the
    * certification-stream harnesses below. `Long.MaxValue` (the default,
    * and the value outside bench scaling passes) means unbounded — the
    * normal Verify/Bench main-pass behavior. The bench 10× scaling pass
    * sets it around each candidate: its job-group watchdog cannot cancel
    * streaming micro-batch jobs (they run on the stream's own threads
    * outside the group), so without this a super-linear streaming plan at
    * 10× — the exact regression that pass hunts — would stall the driver
    * unboundedly instead of becoming a recorded -1. At the deadline the
    * query is `stop()`ped, `processAllAvailable` unblocks, and the wait
    * THROWS — a deliberate stop() is a clean termination that would
    * otherwise return normally, let the operator read a PARTIAL sink, and
    * record a truncated run as a successful ~cap-second measurement; the
    * throw makes each operator's own `finally` release its state and the
    * harness record a deterministic -1.
    */
  @volatile private[graft] var streamDeadlineNanos: Long = Long.MaxValue

  /** `query.processAllAvailable()` bounded by [[streamDeadlineNanos]]:
    * a daemon timer stops the query at the deadline so the wait can never
    * outlive the harness cap, and a fired deadline always surfaces as an
    * exception (see [[streamDeadlineNanos]]). No-op wrapper when no
    * deadline is set.
    */
  private def awaitAllAvailable(
      query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = streamDeadlineNanos
    if (deadline == Long.MaxValue) query.processAllAvailable()
    else {
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val remainMs = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
      val timer = new java.util.Timer("graft-stream-deadline", true)
      timer.schedule(new java.util.TimerTask {
        def run(): Unit = {
          fired.set(true)
          try query.stop() catch { case scala.util.control.NonFatal(_) => }
        }
      }, remainMs)
      try query.processAllAvailable() finally timer.cancel()
      if (fired.get())
        throw new IllegalStateException(
          "graft stream deadline exceeded: query stopped by the harness cap")
    }
  }

  /** Shared drop-directory harness for the stream-path certifications:
    * write `docs` as parquet drops (`files` > 0 repartitions first),
    * stream them back (`perTrigger` > 0 bounds files per micro-batch; 0
    * replays everything in one trigger), run the query built by `start` to
    * completion, and return the scratch root for sink read-back. Streaming
    * semantics live entirely in `start` — this fixes only the
    * drop/replay/teardown mechanics, so all seven certification queries
    * share one copy of them.
    */
  private def runDroppedStream(
      spark: SparkSession,
      docs: DataFrame,
      files: Int,
      perTrigger: Int,
      prefix: String)(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): String = {
    val tmp = scratchDir(prefix)
    val dropDir = s"$tmp/drops"
    (if (files > 0) docs.repartition(files) else docs).write.parquet(dropDir)
    val reader = spark.readStream.schema(spark.read.parquet(dropDir).schema)
    val stream =
      (if (perTrigger > 0) reader.option("maxFilesPerTrigger", perTrigger) else reader)
        .parquet(dropDir)
    val query = startRightSized(spark)(start(stream, tmp))
    try awaitAllAvailable(query) finally query.stop()
    tmp
  }

  /** Start a certification stream with right-sized stateful micro-batch
    * shuffles: each tiny trigger would otherwise inherit the session's 32
    * shuffle partitions for its state aggregation (32 state-store tasks
    * per trigger, ~all parked — measured run/cpu = 15× on the
    * corpus-report stream). Streaming clones the session conf at query
    * START, so scoping the change around start() pins the stream to 4
    * state partitions without touching the batch plans before/after. (The
    * state partition count is fixed at the first checkpoint anyway — these
    * checkpoints are fresh per run.) ONE copy of the pin/restore dance,
    * shared by both drop harnesses, so the two cannot drift.
    *
    * Not thread-safe by design: the pin mutates the SHARED session conf for
    * the duration of start(), so a batch query planned concurrently on
    * another thread would silently inherit 4 shuffle partitions. Fine for
    * the single-threaded Verify/Bench harness this serves; a concurrent
    * caller should scope the pin via `spark.newSession()` instead.
    */
  private def startRightSized(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4")
    try start
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Ordered-arrival variant of [[runDroppedStream]] for certifications
    * where WHICH micro-batch a row arrives in changes the answer (watermark
    * state expiry): each element of `drops` is written as one parquet file
    * and fully processed (`processAllAvailable`) before the next is
    * written, so drop k IS micro-batch k — the arrival order is part of
    * the fixture, not left to file-listing order.
    */
  private def runSequencedDrops(
      spark: SparkSession,
      drops: Seq[DataFrame],
      prefix: String)(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): String =
    runSequencedDropsRestarting(spark, drops, restartAfter = -1, prefix)(start)

  /** [[runSequencedDrops]] with a MID-STREAM RESTART: after drop
    * `restartAfter` is fully processed, the query is STOPPED and a brand-new
    * query is started from the same checkpoint and sink before the remaining
    * drops arrive — so the second query's behavior on those drops depends
    * entirely on state, watermark, and source offsets RECOVERED from the
    * checkpoint (the q128 certification surface). `restartAfter` outside
    * 1..drops.size-1 degenerates to a single query lifetime.
    */
  private def runSequencedDropsRestarting(
      spark: SparkSession,
      drops: Seq[DataFrame],
      restartAfter: Int,
      prefix: String)(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery): String = {
    val tmp = scratchDir(prefix)
    val dropDir = s"$tmp/drops"
    new java.io.File(dropDir).mkdirs()
    val stream = spark.readStream.schema(drops.head.schema).parquet(dropDir)
    var query = startRightSized(spark)(start(stream, tmp))
    try drops.zipWithIndex.foreach { case (d, i) =>
      d.coalesce(1).write.mode("append").parquet(dropDir)
      awaitAllAvailable(query)
      if (i + 1 == restartAfter) {
        query.stop()
        query = startRightSized(spark)(start(stream, tmp))
      }
    } finally query.stop()
    tmp
  }

  /** q122 — [[graft.streaming.EventStream.dedupStream]]
    * (`dropDuplicatesWithinWatermark`) certified through the STREAM path
    * with arrival ORDER as part of the fixture ([[runSequencedDrops]]):
    * seven micro-batches of controlled-timestamp events (built from the
    * events table's first 9 ids; T0 = 2026-01-01 10:00 UTC, delay 1 h)
    * exercising every state transition the operator has, INCLUDING the
    * full life cycle of RE-CREATED state:
    *
    *  - batch 1: keys 1–4 at T0 — all admitted, state created;
    *  - batch 2: duplicates of 1,2 at T0+30 m — DROPPED (within the
    *    horizon); advancers 5,6 at T0+5 h — admitted, and the watermark
    *    jumps to T0+4 h after the batch;
    *  - batch 3: advancer 7 at T0+6 h — admitted; duplicate of 5 at
    *    T0+5.5 h — dropped (alive state: expiry T0+6 h ≥ the T0+4 h
    *    watermark). Keys 1–4 (expiry T0+1 h) are now evicted;
    *  - batch 4: duplicates of 3,4 at T0+5.5 h — RE-ADMITTED (their keys
    *    expired: the within-watermark guarantee only holds inside the
    *    delay); duplicate of 6 at T0+5.75 h — dropped (expiry T0+6 h ≥
    *    the T0+5 h watermark, so its state survived); fresh key 8 at
    *    T0+2 h — dropped as a LATE event (older than the T0+5 h
    *    late-event watermark);
    *  - batch 5: duplicate of 3 at T0+5.75 h — DROPPED by the RE-CREATED
    *    state (expiry T0+6.5 h ≥ the T0+5 h watermark) — the branch the
    *    r9 oracle documented as unmodeled; advancer 9 at T0+10 h —
    *    admitted, pushing the watermark to T0+9 h;
    *  - batch 6: duplicate of 3 at T0+9.67 h — RE-ADMITTED a second time:
    *    the re-created state (expiry T0+6.5 h) died with the T0+9 h
    *    watermark. This arrival DISAMBIGUATED the eviction cadence
    *    against the real executor: the r9 model read eviction as lagging
    *    one batch (state removed with the PREVIOUS batch's watermark),
    *    which the 4-batch fixture could not distinguish — the executor
    *    evicts with the watermark as advanced by the previous batch's
    *    END, i.e. the arrival's OWN batch watermark;
    *  - batch 7: duplicates of 3 at T0+9.83 h and 9 at T0+10.08 h — both
    *    dropped (both keys' state re-created/created after the watermark
    *    passed their horizon).
    *
    * The oracle implements the same semantics as a batch computation over
    * the (arrival_batch, key, ts) fixture — a recursive per-key fold of
    * the documented state machine (see the oracle comment), not a frozen
    * id list, and with no arrivals-per-key cap: key 3 alone runs through
    * admit → evict → re-admit → duplicate-drop → evict → re-admit →
    * duplicate-drop.
    */
  def streamingEventDedup(spark: SparkSession, dir: String): DataFrame =
    eventDedupThroughStream(spark, dir, restartAfter = -1, "graft_q122_")

  /** q128 — CHECKPOINT RESTART RECOVERY of the stateful dedup stream: the
    * exact q122 fixture and oracle, but the query is KILLED after batch 4
    * and a brand-new query starts from the same checkpoint for batches
    * 5–7 ([[runSequencedDropsRestarting]]). Equality with the
    * single-lifetime oracle is then a recovery proof, because every
    * post-restart verdict depends on recovered checkpoint content: batch
    * 5's duplicate-drop needs key 3's batch-4 re-created state back; its
    * late-check needs the recovered watermark; batch 6's re-admission
    * needs the recovered state to be EVICTED on the recovered watermark
    * cadence; batch 7's drops need state created and re-created entirely
    * post-restart. This is the state-recovery half of the exactly-once
    * story whose sink half q123 certifies (idempotent batchId replay).
    */
  def streamingEventDedupRestart(spark: SparkSession, dir: String): DataFrame =
    eventDedupThroughStream(spark, dir, restartAfter = 4, "graft_q128_")

  private def eventDedupThroughStream(
      spark: SparkSession, dir: String, restartAfter: Int,
      prefix: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.EventStream
    val base = Tables(spark, dir).events
      .where(col("event_id").between(1, 9))
      .select(col("event_id"), col("event_type"))
    // (arrival_batch, key, minutes-after-T0) — ONE literal frame joined
    // against one pruned scan of the events table, instead of a filtered
    // scan per fixture row
    val arrivals = Seq(
      (1, 1L, 0), (1, 2L, 0), (1, 3L, 0), (1, 4L, 0),
      (2, 1L, 30), (2, 2L, 30), (2, 5L, 300), (2, 6L, 300),
      (3, 7L, 360), (3, 5L, 330),
      (4, 3L, 330), (4, 4L, 330), (4, 6L, 345), (4, 8L, 120),
      (5, 3L, 345), (5, 9L, 600),
      (6, 3L, 580),
      (7, 3L, 590), (7, 9L, 605))
      .toDF("arrival_batch", "event_id", "m")
    val fixture = arrivals.join(base, Seq("event_id"))
      .select(
        col("arrival_batch"),
        col("event_id"),
        expr("timestampadd(MINUTE, m, timestamp'2026-01-01 10:00:00')").as("ts"),
        col("event_type"))
    val drops = (1 to 7).map(b => fixture.where(col("arrival_batch") === b))
    val tmp = runSequencedDropsRestarting(spark, drops, restartAfter, prefix) {
      (stream, t) =>
        EventStream.dedupStream(stream, Seq("event_id"), watermark = "1 hour")
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
    }
    spark.read.parquet(s"$tmp/admitted")
      .select(col("arrival_batch"), col("event_id"), col("event_type"))
      .orderBy(col("arrival_batch"), col("event_id"))
  }

  /** q123 — the exactly-once bronze stream sink
    * ([[graft.streaming.EventStream.toBronze]]) certified through the
    * STREAM path: the events table arrives as four sequenced drops
    * (event_id % 4 = k is drop k), each landing in its own `_batch_id`
    * partition via the idempotent dynamic-partition-overwrite sink; the
    * read-back table reports per-batch row counts and id ranges. The
    * oracle recomputes the same stats per event_id % 4 slice — so lost
    * rows, duplicated rows, or cross-batch bleed all diverge. Batches are
    * ranked by `_batch_id` rather than trusting absolute ids (an initial
    * empty micro-batch before the first drop writes no partition but
    * would shift the numbering). The failure-retry half of the
    * exactly-once contract (a replayed batchId REPLACES its partition) is
    * StreamingSpec-gated — a mid-write crash cannot be driven
    * deterministically through the public API.
    */
  def streamingBronzeIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val e = Tables(spark, dir).events
    val drops = (0 until 4).map(k => e.where(col("event_id") % 4 === k))
    val tmp = runSequencedDrops(spark, drops, "graft_q123_") { (stream, t) =>
      EventStream.toBronze(stream, s"$t/bronze", s"$t/checkpoint")
    }
    spark.read.parquet(s"$tmp/bronze")
      .groupBy(col("_batch_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("batch_seq",
        row_number().over(Window.orderBy(col("_batch_id"))))
      .select(col("batch_seq"), col("n_events"), col("min_event_id"),
        col("max_event_id"))
      .orderBy(col("batch_seq"))
  }

  /** Split an event frame into `k` EVENT-TIME-ORDERED drops (equal spans
    * of the observed ts range) and append a far-future watermark-flush
    * sentinel (`user_id` −1, one year past the data) as the final drop.
    * Time-ordered arrival is the fixture property the event-time stream
    * certifications (q156/q157) rely on: no event is ever late, and the
    * watermark advances monotonically batch over batch, so the stream's
    * answer converges to the batch oracle's; the sentinel pushes the
    * final watermark past every session/join horizon so append-mode
    * state flushes before the query stops. Bounds come from ONE 2-value
    * aggregate (bounded driver state).
    */
  private def timeOrderedEventDrops(
      spark: SparkSession,
      ev: DataFrame,
      k: Int,
      sentinelTypes: Seq[String]): Seq[DataFrame] = {
    val canon = ev.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val bounds = canon.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cuts = (1 until k).map(i => lo + (hi - lo) / k * i)
    val ranges = (Seq(Long.MinValue) ++ cuts).zip(cuts ++ Seq(Long.MaxValue))
    val drops = ranges.map { case (a, b) =>
      canon.where(unix_micros(col("ts")) >= a && unix_micros(col("ts")) < b)
    }
    val yearMicros = 365L * 24 * 3600 * 1000000L
    // TWO sentinel drops, each carrying one row PER requested event type:
    // the global watermark is the MIN across every withWatermark node, so
    // a query that splits the stream into multiple watermarked branches
    // (the stream-stream join) only advances when EVERY branch saw a
    // sentinel. The first drop advances the watermark at its batch end;
    // the second gives the engine a batch to RUN under that watermark —
    // join state only emits null-extended rows while a batch executes.
    val sentinels = Seq(0L, 3600000000L).map { off =>
      sentinelTypes.zipWithIndex.map { case (tpe, i) =>
        spark.range(1).select(
          lit(-1L - i).as("event_id"),
          timestamp_micros(lit(hi + yearMicros + off)).as("ts"),
          lit(-1L).as("user_id"),
          lit(tpe).as("event_type"),
          lit(0.0).as("value"),
          lit("").as("props"))
      }.reduce(_ unionByName _)
    }
    drops ++ sentinels
  }

  /** q156 — watermarked STREAM-STREAM interval join certified through the
    * stream path ([[graft.streaming.EventStream.attributionJoin]]):
    * clicks and purchases from the SAME event stream (a stream-stream
    * self-join) buffer in versioned join state; matches within the 1-hour
    * attribution window emit as they meet, and every unmatched click
    * emits null-extended once the watermark proves no qualifying
    * purchase can arrive. The fixture replays the events table in three
    * event-time-ordered drops plus the flush sentinel
    * ([[timeOrderedEventDrops]]); because the watermark delay (2 h)
    * exceeds the attribution window (1 h), no valid match is ever
    * evicted early — so the converged sink must equal the BATCH interval
    * left-join the oracle computes (33 of 2 006 clicks attributed at
    * sf0.01; the null-extension machinery carries the other 1 973 rows).
    */
  def streamingAttribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val ev = Tables(spark, dir).events
      .where(col("event_type").isin("click", "purchase"))
    val drops = timeOrderedEventDrops(spark, ev, k = 3,
      sentinelTypes = Seq("click", "purchase"))
    val tmp = runSequencedDrops(spark, drops, "graft_q156_") { (stream, t) =>
      EventStream.attributionJoin(stream)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("append")
        .format("parquet")
        .option("path", s"$t/joined")
        .start()
    }
    spark.read.parquet(s"$tmp/joined")
      .where(col("user_id") =!= -1L)
      .orderBy("click_id", "purchase_id")
  }

  /** q157 — native `session_window` streaming aggregation certified
    * through the stream path ([[graft.streaming.EventStream
    * .sessionWindows]]): 30-minute-gap sessions per user over the FULL
    * event stream, with windows merging across micro-batches (a session
    * straddling a drop boundary is still open when its continuation
    * arrives — the fixture's 2 h watermark > 30 m gap guarantees it) and
    * finalizing in append mode as the watermark passes each session end.
    * The oracle recomputes the sessions as a batch gap-islands
    * computation (lag + running break-sum — q29's certified shape) with
    * Spark's boundary-INCLUSIVE merge rule (only `ts > prev + gap`
    * breaks — pinned against the executor in StreamingSpec), so
    * every session's exact bounds, membership count, and the ~9.5 k-row
    * session inventory at sf0.01 are all hash-certified.
    */
  def streamingSessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val drops = timeOrderedEventDrops(
      spark, Tables(spark, dir).events, k = 3, sentinelTypes = Seq("view"))
    val tmp = runSequencedDrops(spark, drops, "graft_q157_") { (stream, t) =>
      EventStream.sessionWindows(stream)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("append")
        .format("parquet")
        .option("path", s"$t/sessions")
        .start()
    }
    spark.read.parquet(s"$tmp/sessions")
      .where(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start")
  }

  /** q164 — hopping-window streaming counts certified through the stream
    * path ([[graft.streaming.EventStream.slidingCounts]]): 1-hour
    * windows sliding every 15 minutes, so each event contributes to
    * exactly 4 overlapping windows — the fan-out and the window-ALIGNMENT
    * rule (starts on epoch-aligned slide boundaries) are both certified,
    * because the oracle reconstructs every window start with integer
    * microsecond arithmetic (`m − m mod slide − k·slide`) and counts per
    * (window_start, event_type) from scratch. The sentinel rides its own
    * `sentinel` event type so its far-future windows filter out of the
    * sink without touching any real window's count.
    */
  def streamingSlidingCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val drops = timeOrderedEventDrops(
      spark, Tables(spark, dir).events, k = 3, sentinelTypes = Seq("sentinel"))
    val tmp = runSequencedDrops(spark, drops, "graft_q164_") { (stream, t) =>
      EventStream.slidingCounts(stream)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("append")
        .format("parquet")
        .option("path", s"$t/windows")
        .start()
    }
    spark.read.parquet(s"$tmp/windows")
      .where(col("event_type") =!= "sentinel")
      .orderBy("window_start", "event_type")
  }

  /** q97 — streaming near-dup admission, certified through the STREAM path
    * itself (q64 certifies the batch twin of the same index probe): the
    * arriving docs (doc_id % 10 = 0, q64's delta split) are written as a
    * parquet drop directory, streamed through
    * [[graft.streaming.DocStream.nearDupAdmission]] against the capped
    * MinHash corpus index built from the rest, and the admitted survivors
    * land in a parquet sink that is read back for the oracle compare. The
    * admitted set is micro-batch-partitioning invariant (each document's
    * verdict depends only on the static index), so the result is
    * deterministic however the file source batches the drop.
    */
  def streamingNearDupAdmission(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val arriving = d.where(col("doc_id") % 10 === 0)
    val index = DocStream.minhashCorpusIndex(
      corpus, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, maxBucketSize = 50)
    val tmp = runDroppedStream(spark, arriving, files = 0, perTrigger = 0, "graft_q97_") {
      (stream, t) =>
        DocStream.nearDupAdmission(stream, index, s"$t/checkpoint", minJaccard = 0.5) {
          (admitted, _) => admitted.write.mode("append").parquet(s"$t/admitted")
        }
    }
    spark.read.parquet(s"$tmp/admitted")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** q98 — streaming token-budget admission certified through the STREAM
    * path (q86 certifies the batch twin): the documents table arrives as a
    * parquet drop, flows through [[graft.streaming.DocStream
    * .tokenBudgetAdmission]] (flatMapGroupsWithState: one Long of budget
    * state per source), and the admitted parquet sink is read back. The
    * drop is processed as one micro-batch, where the stream's per-source
    * (Sha60 rank, id) admission order is bit-equal to the batch operator's
    * — so q86's oracle SQL certifies the stream verbatim; cross-batch
    * carryover (arrival-order semantics) stays spec-gated in
    * StreamingSpec, as no batch SQL can express arrival order.
    */
  def streamingTokenBudgetAdmission(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val tmp = runDroppedStream(spark, d, files = 0, perTrigger = 0, "graft_q98_") {
      (stream, t) =>
        DocStream.tokenBudgetAdmission(stream, budget = 1000L)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
    }
    spark.read.parquet(s"$tmp/admitted")
      .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
  }

  /** q109 — streaming frequent-grams, certified through the STREAM path
    * (q106 certifies the batch twin): the documents table is dropped as 8
    * parquet files streamed 2 files per trigger — 4 micro-batches, so the
    * sketch state genuinely accumulates across triggers — through
    * [[graft.streaming.DocStream.frequentGramsMonitor]] (complete-mode
    * Misra–Gries aggregation) into a memory sink; the FINAL sketch row then
    * drives the batch exact recount. The recount output is exact whatever
    * the micro-batch split (superset guarantee + exact recount), so q106's
    * oracle form certifies the stream composition with only the threshold
    * (k = 4000) differing.
    */
  def streamingFrequentGrams(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    runDroppedStream(spark, d, files = 8, perTrigger = 2, "graft_q109_") { (stream, t) =>
      DocStream.frequentGramsMonitor(stream, "text", n = 3, k = 4000)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("complete")
        .format("memory")
        .queryName("q109_sketch")
        .start()
    }
    Curation.heavyGramRecount(d, "text", n = 3, k = 4000, spark.table("q109_sketch"))
      .orderBy(col("gram_count").desc, col("gram"))
  }

  /** q110 — soft dedup ([[Curation.softDedupWeights]] over the q52
    * clusters): every document with its near-dup cluster size and
    * `1/cluster_size` sampling weight — the keep-but-reweight alternative
    * to q53's canonical-per-cluster drop.
    */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    Curation.softDedupWeights(d, "doc_id", Dedup.duplicateClusters(pairs))
      .orderBy(col("doc_id"))
  }

  /** q111 — multi-epoch scheduling ([[Curation.epochReplication]]): one row
    * per scheduled appearance, with high-quality documents repeating up to
    * 3 epochs. Map-only; the q32 quality tiers decide the epoch count.
    */
  def epochSchedule(spark: SparkSession, dir: String): DataFrame =
    Curation.epochReplication(Tables(spark, dir).documents, "doc_id", "text")
      .orderBy(col("doc_id"), col("epoch_idx"))

  /** q126 — reproducibility manifest ([[Curation.corpusManifest]]): one
    * row per source with doc/token counts and the order-insensitive
    * XOR-of-Sha60 content digest — the constant-output drift check two
    * pipeline runs compare before deciding whether anything needs
    * reprocessing.
    */
  def corpusManifestReport(spark: SparkSession, dir: String): DataFrame =
    Curation.corpusManifest(Tables(spark, dir).documents, "doc_id", "text", "source")

  /** q132 — per-source distribution-drift attestation
    * ([[Curation.distributionDrift]]) between the corpus and a simulated
    * re-crawl in which sources src0–src6 silently TRUNCATE (docs over 300
    * chars vanish — a length-correlated loss that shifts the histogram,
    * not just the count), sources src15–src19 double their text (shape
    * shift up), and src7–src14 are byte-identical. DuckDB-probed at
    * sf0.01: the twelve perturbed sources score tvd 0.36–0.50, the eight
    * untouched ones exactly 0 — the 100‰ threshold splits them with a 3.6×
    * margin, and BOTH perturbation arms are independently load-bearing.
    */
  def corpusDriftReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val newer = d
      .where(!(col("n_chars") > 300 && col("doc_id") % 20 < 7))
      .withColumn("text",
        when(col("doc_id") % 20 >= 15, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
    Curation.distributionDrift(d, newer, "source", "text")
      .orderBy(col("source"))
  }

  /** q133 — the cross-source duplication radar
    * ([[Dedup.corpusSketchSimilarity]]): pairwise corpus-vocabulary
    * overlap estimates from per-source MinHash sketches over TRIGRAM
    * shingles (unigram vocabularies of same-generator sources overlap
    * near-1.0 — probed — so trigrams are what make the estimate
    * discriminating: only sources sharing near-dup documents light up).
    * Pairs appear only via the (component, value) equi-join — at sf0.01,
    * 51 of 190 source pairs match on ≥ 1 of 16 components.
    */
  def corpusSimilarityMatrix(spark: SparkSession, dir: String): DataFrame =
    Dedup.corpusSketchSimilarity(Tables(spark, dir).documents, "source", "text",
      numHashes = 16, shingleN = 3)
      .orderBy(col("corpus_a"), col("corpus_b"))

  /** q124 — deterministic curriculum ordering
    * ([[Curation.curriculumOrder]], seed 42): q111's epoch schedule with
    * the seed-keyed order_key that fixes WHICH order each epoch replays.
    * Map-only; the key is certified value-exact, so the implied global
    * order is certified with it.
    */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame =
    Curation.curriculumOrder(Tables(spark, dir).documents, "doc_id", "text",
      seed = 42L)
      .orderBy(col("epoch_idx"), col("order_key"), col("doc_id"))

  /** q131 — the training-shard WRITER
    * ([[Curation.writeCurriculumShards]]): q124's curriculum order (seed
    * 42) materialized as range-bucketed shard files — 8 shards per epoch
    * on the top 3 bits of the 60-bit order key, files capped at 100 rows,
    * each internally sorted, no global sort anywhere (the write-side twin
    * of q124's map-only order). The certified answer is the per-shard
    * manifest computed from the READ-BACK files — row counts, key ranges,
    * and an order-insensitive XOR key digest per (epoch, shard) — against
    * the schedule recomputed from scratch by the oracle, so a row lost,
    * duplicated, or mis-sharded by the write path moves a count, a
    * boundary, or the digest. File-level contracts (per-file cap and
    * ordering, boundary formula, hash-not-range exchange) are
    * ShardSpec-pinned.
    */
  def trainingShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_q131_")
    Curation.writeCurriculumShards(
      Curation.curriculumOrder(Tables(spark, dir).documents, "doc_id", "text",
        seed = 42L),
      s"$tmp/shards", shardsPerEpoch = 8, maxRecordsPerFile = 100)
    readBackShardManifest(spark, s"$tmp/shards")
  }

  /** The certified shard manifest, computed from the READ-BACK files (not
    * the pre-write DataFrame): per (epoch, shard) row counts, key ranges,
    * and the order-insensitive XOR key digest — shared by q131 and q134.
    */
  private def readBackShardManifest(spark: SparkSession, shardDir: String): DataFrame =
    spark.read.parquet(shardDir)
      .groupBy(
        // partition-directory columns come back type-inferred (int), not
        // as written — pin the contract types explicitly
        col("epoch_idx").cast("long").as("epoch_idx"),
        col("shard").cast("int").as("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("order_key")).as("min_key"),
        max(col("order_key")).as("max_key"),
        call_function("bit_xor", col("order_key")).as("key_digest"))
      .orderBy(col("epoch_idx"), col("shard"))

  /** q134 — the DAILY PRODUCTION RUN capstone: one day of the full
    * training-data path composed END TO END from the certified pieces —
    * crawl delta (doc_id % 10 = 5) → exact-dedup against the standing
    * content-hash index → LSH near-dup admission against the capped MinHash
    * index (the SAME verdict implementation the q121 stream runs per
    * micro-batch; batch-mode here isolates the composition, q127
    * precedent) → quality-gate curation (≥ 0.75 — BETWEEN the curriculum's
    * 0.5/0.8 epoch tiers, so the gate is load-bearing: DuckDB-probed at
    * sf0.01, a gate-blind oracle schedules 26 rows vs the certified 18,
    * and an admission-blind oracle 95) → seed-keyed curriculum schedule →
    * range-bucketed shard write — and the certified answer is the per-shard
    * manifest from the READ-BACK files, so every stage's output feeds the
    * next and a fault anywhere (wrong admission, wrong gate, wrong
    * schedule, row lost by the writer) moves a count, a boundary, or a
    * digest. The oracle recomputes the whole day from scratch in DuckDB.
    *
    * Scale: each stage keeps its certified scale shape (delta-sized
    * admission probes against capped indexes; map-only curriculum keys; no
    * global sort in the shard write) — composing them adds no new shuffle
    * beyond the stages' own.
    */
  def dailyProductionRun(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val corpus0 = d.where(col("doc_id") % 10 =!= 5)
    val delta = d.where(col("doc_id") % 10 === 5)
    val hash0 = DocStream.corpusIndex(corpus0)
    val st0 = DocStream.minhashIndexState(corpus0, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, maxBucketSize = 50)
    val admitted = DocStream.admitNearDups(
      DocStream.dedupAgainstCorpus(delta, hash0), st0.index, minJaccard = 0.5)
    val curated = admitted.where(
      graft.functions.TextFunctions.qualityScore(col("text")) >= 0.75)
    val tmp = scratchDir("graft_q134_")
    Curation.writeCurriculumShards(
      Curation.curriculumOrder(curated, "doc_id", "text", seed = 42L),
      s"$tmp/shards", shardsPerEpoch = 8, maxRecordsPerFile = 100)
    readBackShardManifest(spark, s"$tmp/shards")
  }

  /** q112 — decontamination action over q54's split (every 17th doc plays
    * the eval set): training documents with ≥ 90% distinct-bigram overlap
    * against the eval vocabulary are DROPPED
    * ([[Curation.decontaminate]]); the surviving corpus reports per-source
    * document and token counts — the detect (q54) → act pair.
    */
  def decontaminatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val evalSet = d.where(col("doc_id") % 17 === 0)
    val train = d.where(col("doc_id") % 17 =!= 0)
    Curation.decontaminate(train, evalSet, "doc_id", "text",
      shingleN = 2, maxOverlap = 0.9)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy(col("source"))
  }

  /** q113 — NEAR-DUP decontamination, the fuzzy complement of q112's exact
    * n-gram action: training documents that are MinHash near-duplicates of
    * any eval document (the q64 incremental probe with the eval set playing
    * the delta — eval-sized, so the probe side is tiny) are dropped; the
    * surviving corpus reports per-source counts. Catches lightly-edited
    * eval copies whose token n-grams no longer match exactly.
    */
  def nearDupDecontaminated(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val evalSet = d.where(col("doc_id") % 17 === 0)
    val train = d.where(col("doc_id") % 17 =!= 0)
    val contaminated = Dedup.minhashIncrementalDuplicates(train, evalSet, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
      .select(col("corpus_id").as("_d_id"))
      .distinct()
    train.join(contaminated, train("doc_id") === col("_d_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"))
  }

  /** q114 — streaming curation funnel certified through the STREAM path
    * (the gate stages of q66's batch funnel; StreamingSpec already pins
    * stream ≡ batch on the shared [[graft.streaming.DocStream]] gate
    * flags): the documents table drops as 8 files streamed 2 per trigger —
    * 4 micro-batches, so the three-Long funnel state genuinely accumulates
    * — through `curateFunnel`'s complete-mode aggregation; the final
    * emitted row is the whole-corpus attrition count, identical however
    * the file source batches the drop.
    */
  def streamingCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    runDroppedStream(spark, d, files = 8, perTrigger = 2, "graft_q114_") { (stream, t) =>
      DocStream.curateFunnel(stream, minQuality = 0.5)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("complete")
        .format("memory")
        .queryName("q114_funnel")
        .start()
    }
    spark.table("q114_funnel")
      .select(col("n_input"), col("n_after_quality"), col("n_curated"))
  }

  /** q115 — streaming corpus health report certified through the STREAM
    * path (q82 certifies the batch report; StreamingSpec pins stream ≡
    * batch): per-source doc/token/quality/empty counts accumulated as a
    * complete-mode aggregation over 4 micro-batches — one state row per
    * source — with the final emission equal to the whole-corpus statistics
    * however the drop is batched.
    */
  def streamingCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    runDroppedStream(spark, d, files = 8, perTrigger = 2, "graft_q115_") { (stream, t) =>
      DocStream.corpusReportStream(stream, minQuality = 0.5)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("complete")
        .format("memory")
        .queryName("q115_report")
        .start()
    }
    spark.table("q115_report").orderBy(col("source"))
  }

  /** q116 — the streaming curation GATE itself certified through the
    * STREAM path (q114 certifies its attrition counts; this certifies the
    * curated ROWS): documents drop as 8 files streamed 2 per trigger
    * through [[graft.streaming.DocStream.curate]] — stateless per-row
    * gates, so append mode — into a parquet sink read back for the
    * compare: survivors with predicted language, quality score, and
    * PII-masked text.
    */
  def streamingCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val tmp = runDroppedStream(spark, d, files = 8, perTrigger = 2, "graft_q116_") {
      (stream, t) =>
        DocStream.curate(stream, minQuality = 0.5)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/curated")
          .start()
    }
    spark.read.parquet(s"$tmp/curated").orderBy(col("doc_id"))
  }

  /** q117 — streaming exact-dedup admission certified through the STREAM
    * path (q30/q64 certify the batch hash-dedup semantics): the arriving
    * delta (doc_id % 10 = 0) streams against the corpus content-hash index
    * ([[graft.streaming.DocStream.corpusIndex]] over the rest) via the
    * stream–static anti-join; admitted non-duplicates land in a parquet
    * sink read back for the compare. Each verdict depends only on the
    * static index, so the admitted set is micro-batch invariant.
    */
  def streamingExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val arriving = d.where(col("doc_id") % 10 === 0)
    val index = DocStream.corpusIndex(corpus)
    val tmp = runDroppedStream(spark, arriving, files = 4, perTrigger = 1, "graft_q117_") {
      (stream, t) =>
        DocStream.dedupAgainstCorpus(stream, index)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
    }
    spark.read.parquet(s"$tmp/admitted")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** q120 — SPAN-level decontamination, the third rung of the
    * decontamination ladder (q112 exact whole-doc n-gram rate, q113
    * whole-doc near-dup, this one position-robust spans): training
    * documents containing ≥ 30% of some eval document's winnowing
    * fingerprints — verbatim eval SPANS buried in otherwise-different
    * text, which whole-doc similarity misses — are dropped. The q91
    * winnowing probe runs with the EVAL set as the delta (eval-sized
    * probe side; the train index pays one winnow scan with capped
    * fingerprint buckets), and the survivors report per-source counts.
    */
  def spanDecontaminated(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val evalSet = d.where(col("doc_id") % 17 === 0)
    val train = d.where(col("doc_id") % 17 =!= 0)
    val contaminated = Dedup.winnowingIncrementalDuplicates(
      corpus = train, delta = evalSet, "doc_id", "text")
      .select(col("corpus_id").as("_d_id"))
      .distinct()
    train.join(contaminated, train("doc_id") === col("_d_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"))
  }

  /** q119 — streaming EMBEDDING dedup admission certified through the
    * STREAM path (q70 certifies the batch incremental probe this
    * complements): arriving vectors (vec_id % 10 = 0) stream against the
    * hyperplane-bucket corpus index ([[graft.streaming.DocStream
    * .embeddingCorpusIndex]] over the rest, plane count carried in the
    * index metadata) via the single stream–static anti-join with the
    * cosine gate folded into the join condition; the admitted
    * non-near-dups land in a parquet sink read back for the compare.
    */
  def streamingEmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val e = Tables(spark, dir).embeddings
    val corpus = e.where(col("vec_id") % 10 =!= 0)
    val arriving = e.where(col("vec_id") % 10 === 0)
    val index = DocStream.embeddingCorpusIndex(corpus, "vec_id", "embedding",
      nPlanes = 8, maxBucketSize = 200)
    val tmp = runDroppedStream(spark, arriving, files = 4, perTrigger = 1, "graft_q119_") {
      (stream, t) =>
        DocStream.dedupEmbeddingsAgainstCorpus(stream, index, "vec_id", "embedding",
          minCosine = 0.25)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
    }
    spark.read.parquet(s"$tmp/admitted")
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** q147 — streaming INT8-QUANTIZED dedup admission certified through the
    * STREAM path: q119's hyperplane-bucket admission with the probe-side
    * state quantized to int8 codes under the CORPUS calibration
    * ([[graft.streaming.DocStream.quantizedCorpusIndex]] — a quarter of
    * the re-broadcast bytes per micro-batch) and the gate scored by the
    * EXACT integer code dot (≥ 30000) instead of float cosine. Arriving
    * vectors (% 10 = 0) encode map-only under the same calibration.
    * Probed at sf0.01: 15 of 50 arrivals are rejected at the threshold —
    * both verdicts populated; the oracle rebuilds calibration, codes,
    * buckets, and the anti-join from scratch.
    */
  def streamingQuantizedDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val e = Tables(spark, dir).embeddings
    val corpus = e.where(col("vec_id") % 10 =!= 0)
    val arriving = e.where(col("vec_id") % 10 === 0)
    val params = Quantize.collectParams(corpus, "embedding")
    val index = DocStream.quantizedCorpusIndex(corpus, "vec_id", "embedding",
      params, nPlanes = 8, maxBucketSize = 200)
    val tmp = runDroppedStream(spark, arriving, files = 4, perTrigger = 1, "graft_q147_") {
      (stream, t) =>
        DocStream.dedupQuantizedAgainstCorpus(stream, index, "vec_id", "embedding",
          params, minQDot = 30000L)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
    }
    spark.read.parquet(s"$tmp/admitted")
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** q121 — the daily index-refresh production loop certified END TO END,
    * through the stream path, across TWO days. This is the cycle a 100 TB
    * deployment runs every day; its pieces are individually certified
    * (q97/q117 admission, q100 label merge) but this query composes them:
    *
    *  1. day 0: build the content-hash index and the MinHash index STATE
    *     (index + true bucket counts, [[graft.streaming.DocStream
    *     .minhashIndexState]]) over the standing corpus (doc_id % 10 ∉
    *     {0,5}), plus the corpus near-dup cluster labels;
    *  2. day 1: stream-admit delta₁ (doc_id % 10 = 5) through exact-dedup
    *     ([[graft.streaming.DocStream.dedupAgainstCorpus]]) chained into
    *     LSH near-dup admission ([[graft.streaming.DocStream
    *     .nearDupAdmission]]) over the day-0 indexes, as a genuine
    *     multi-file parquet drop replayed through the stream (ONE trigger:
    *     the fixture's discrimination lives in the re-fetch ids, not the
    *     micro-batch split — multi-trigger replay is q122/q117's certified
    *     surface, and r9 measured the extra triggers as pure machinery
    *     cost, 12% of the whole bench);
    *  3. compaction: fold the ADMITTED docs into both indexes
    *     ([[graft.streaming.DocStream.refreshCorpusIndex]] /
    *     [[graft.streaming.DocStream.refreshMinhashIndexFromSigs]] — both
    *     delta-sized; the corpus is never re-scanned) and into the cluster
    *     labels ([[Dedup.mergeClusters]]);
    *  4. day 2: stream-admit delta₂ (doc_id % 10 = 0) over the REFRESHED
    *     indexes, then fold again.
    *
    * Output: the day-2 admitted docs with their final folded cluster
    * labels. The oracle recomputes the whole two-day cascade from scratch
    * (day-2 admission against indexes REBUILT over corpus ∪ admitted₁),
    * certifying the refresh ≡ rebuild invariant through the stream: a
    * refresh bug — a resurrected over-cap bucket, a missed fold, a stale
    * count — changes the day-2 admitted set.
    *
    * ONE signature pass serves everything batch-side (corpus pairs, index
    * build, both refreshes, both label folds) via the shared cached
    * [[Dedup.sigDocs]] frame; only the in-stream per-micro-batch probes
    * sign their own delta-sized batches.
    *
    * Caching contract (the LSH-operator contract): the signature cache and
    * the eager index frames stay persisted after the lazy result returns;
    * sessions invoking this repeatedly should `spark.catalog.clearCache()`
    * between runs (Verify/Bench already sweep per query). A production
    * many-day fold chain would persist each day's index/counts as TABLES
    * (parquet), not as an ever-growing lineage of unions — the operators
    * take DataFrames precisely so the compaction job can feed the
    * read-back of yesterday's table.
    */
  def indexRefreshLoop(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    // Day-2 additionally RE-FETCHES every day-1 document under a fresh id
    // (negative — disjoint from real ids at any scale factor; exact copies
    // take ODD negatives, near copies EVEN, so the two families cannot
    // collide for ANY source id): an exact copy and a near-copy (one
    // marker token appended — passes exact dedup, stays a high-Jaccard
    // near-dup). Re-fetches of day-1 docs the corpus already contained are
    // rejected against the day-0 index either way; re-fetches of day-1
    // ADMITTED docs are rejected ONLY IF the admitted docs were genuinely
    // folded into the content-hash (exact copy) and MinHash (near copy)
    // indexes — the crawler-re-crawl shape that makes a broken/missing
    // fold change the certified day-2 set.
    val delta1 = d.where(col("doc_id") % 10 === 5)
    val reExact = delta1.withColumn("doc_id", -col("doc_id") * 2 - lit(1L))
    val reNear = delta1
      .withColumn("doc_id", -col("doc_id") * 2 - lit(2L))
      .withColumn("text", concat(col("text"), lit(" q121refetch")))
    val delta2 = d.where(col("doc_id") % 10 === 0)
      .unionByName(reExact).unionByName(reNear)
    val day0 = col("doc_id") >= 0 &&
      col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5
    // the shared signature pass covers real AND re-fetched ids, so the
    // admitted-set folds (which may include re-fetches on day 2) and the
    // label fold all draw from one cache
    val sigAll = graft.core.Caching.eager(
      Dedup.sigDocs(
        d.select(col("doc_id"), col("text"))
          .unionByName(reExact.select(col("doc_id"), col("text")))
          .unionByName(reNear.select(col("doc_id"), col("text"))),
        "doc_id", "text", shingleN = 1, numHashes = 16))

    // day-0 state: indexes + labels over the standing corpus
    val sig0 = sigAll.where(day0)
    val hash0 = graft.core.Caching.eager(DocStream.corpusIndex(d.where(day0)))
    val st0 = DocStream.minhashIndexStateFromSigs(sig0,
      numHashes = 16, numBands = 4, shingleN = 1, maxBucketSize = 50)
    val labels0 = Dedup.duplicateClusters(
      Dedup.minhashNearDuplicatesFromSigs(sig0,
        numBands = 4, rowsPerBand = 4, minJaccard = 0.5))

    // one day's stream admission: exact-dedup chained into near-dup
    // admission, both against the given (static, cached) indexes
    def admit(delta: DataFrame, hashIdx: DataFrame, mhIndex: DataFrame,
        tag: String): DataFrame = {
      val tmp = runDroppedStream(spark, delta, files = 2, perTrigger = 2,
        s"graft_q121${tag}_") { (stream, t) =>
        DocStream.nearDupAdmission(
          DocStream.dedupAgainstCorpus(stream, hashIdx),
          mhIndex, s"$t/checkpoint", minJaccard = 0.5) { (admitted, _) =>
          admitted.write.mode("append").parquet(s"$t/admitted")
        }
      }
      spark.read.parquet(s"$tmp/admitted")
    }

    // ONE materialized copy of each day's index serves BOTH consumers —
    // the per-micro-batch stream probe and the next fold's union (an
    // uncached st0.index there would re-run the band/bucket build)
    val st0c = st0.copy(index = graft.core.Caching.eager(st0.index))

    // day 1: admit delta₁, then compact: fold into indexes + labels
    val admitted1 = admit(delta1, hash0, st0c.index, "a")
    val sigA1 = sigAll.join(admitted1.select("doc_id"), Seq("doc_id"), "left_semi")
    val hash1 = graft.core.Caching.eager(
      DocStream.refreshCorpusIndex(hash0, admitted1))
    val st1 = DocStream.refreshMinhashIndexFromSigs(st0c, sigA1)
    val labels1 = Dedup.mergeClusters(labels0,
      Dedup.minhashNearDuplicatesFromSigs(sigA1,
        numBands = 4, rowsPerBand = 4, minJaccard = 0.5)
        .select(col("id_a"), col("id_b")))

    // day 2: admit delta₂ over the REFRESHED indexes, fold again
    val admitted2 = admit(delta2, hash1,
      graft.core.Caching.eager(st1.index), "b")
    // (st1.index has a single consumer — the day-2 stream — so only it
    // is cached; a day-3 fold would hoist it like st0c)
    val sigA2 = sigAll.join(admitted2.select("doc_id"), Seq("doc_id"), "left_semi")
    val labels2 = Dedup.mergeClusters(labels1,
      Dedup.minhashNearDuplicatesFromSigs(sigA2,
        numBands = 4, rowsPerBand = 4, minJaccard = 0.5)
        .select(col("id_a"), col("id_b")))

    // day-2 admitted docs with their final folded cluster labels
    // (singletons — docs in no near-dup pair — label as themselves)
    val sizes = labels2.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("_csz"))
    admitted2.select(col("doc_id"), col("source"))
      .join(labels2, Seq("doc_id"), "left")
      .join(sizes, Seq("cluster_id"), "left")
      .select(
        col("doc_id"),
        col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("_csz"), lit(1L)).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** q125 — the EMBEDDING-tier daily index-refresh loop certified end to
    * end, completing the refresh symmetry across all three corpus index
    * tiers (q121 certifies content-hash + MinHash): day-0 hyperplane
    * bucket index over the standing vectors (vec_id % 10 ∉ {0,5}), delta₁
    * (% 10 = 5) stream-admitted through the q119 cosine-gated anti-join in
    * 2 micro-batches, admitted vectors folded delta-sized into the index
    * ([[graft.streaming.DocStream.refreshEmbeddingIndex]] — true union
    * counts decide every bucket, so tombstoned buckets stay dead), then
    * delta₂ (% 10 = 0) admitted over the REFRESHED index. The oracle
    * rebuilds day-1's index from scratch over corpus ∪ admitted₁, so a
    * refresh-vs-rebuild divergence changes the certified day-2 set.
    */
  def embeddingIndexRefreshLoop(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val e = Tables(spark, dir).embeddings
    val day0 = col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5
    val st0 = DocStream.embeddingIndexState(e.where(day0), "vec_id", "embedding",
      nPlanes = 8, maxBucketSize = 200)

    def admit(delta: DataFrame, index: DataFrame, tag: String): DataFrame = {
      val tmp = runDroppedStream(spark, delta, files = 4, perTrigger = 2,
        s"graft_q125${tag}_") { (stream, t) =>
        DocStream.dedupEmbeddingsAgainstCorpus(stream, index, "vec_id", "embedding",
          minCosine = 0.25)
          .writeStream
          .option("checkpointLocation", s"$t/checkpoint")
          .outputMode("append")
          .format("parquet")
          .option("path", s"$t/admitted")
          .start()
      }
      spark.read.parquet(s"$tmp/admitted")
    }

    // one materialized index copy per day, shared by the stream probe and
    // the fold (same hoist as q121's st0c)
    val st0c = st0.copy(index = graft.core.Caching.eager(st0.index))
    val admitted1 = admit(e.where(col("vec_id") % 10 === 5), st0c.index, "a")
    val st1 = DocStream.refreshEmbeddingIndex(st0c, admitted1, "vec_id", "embedding")
    val admitted2 = admit(e.where(col("vec_id") % 10 === 0),
      graft.core.Caching.eager(st1.index), "b")
    admitted2.select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** q127 — the PARQUET LINEAGE-CHECKPOINT path of the daily index-refresh
    * loop, certified end to end across THREE days. q121 certifies the loop's
    * algebra (refresh ≡ rebuild) with each day's state chained as pure
    * DataFrames; this is the documented production contract instead
    * ([[graft.streaming.DocStream.refreshMinhashIndexFromSigs]]'s scaladoc):
    * every day's index state — content-hash index, MinHash index AND its
    * true-bucket-count sidecar — is COMMITTED to parquet and the next day
    * folds from the READ-BACK, so the lineage (and the Spark plan) stays one
    * day deep at any loop length. The round-trip has a real hazard of its
    * own: the LSH parameters ride in the index's column schema metadata, and
    * both the day-k admission probe and the day-k fold re-derive them from
    * the read-back schema — metadata lost in the parquet round-trip fails
    * loudly in [[graft.streaming.DocStream.readMinhashIndexState]], and a
    * count row corrupted in transit changes the admitted set.
    *
    * Admission runs in BATCH mode through [[graft.streaming.DocStream
    * .admitNearDups]] — the SAME verdict implementation
    * [[graft.streaming.DocStream.nearDupAdmission]] runs per micro-batch
    * (q121 certifies that stream path), so this certification isolates the
    * checkpoint surface without re-paying stream machinery.
    *
    * Fixture: day-0 corpus = doc_id % 10 ∉ {0,3,5}; delta₁ = % 10 = 5;
    * delta₂ = % 10 = 0 plus a re-fetch of every delta₁ doc; delta₃ =
    * % 10 = 3 plus a re-fetch of every real delta₂ doc. Re-fetches follow
    * the q121 crawler-re-crawl scheme under parity-disjoint negative ids
    * (exact copy −4·id−1/−4·id−3 — admission hinges on the content-hash
    * fold; near copy −4·id−2/−4·id−4, one marker token — hinges on the
    * MinHash fold), so BOTH folds of BOTH checkpointed days are
    * independently load-bearing for the day-2 and day-3 admitted sets. The
    * oracle recomputes the whole three-day cascade from scratch in DuckDB.
    *
    * The output is EVERY day's admitted set tagged by day, not just the
    * last day's: a re-crawl fixture self-heals — if a fold silently drops
    * day k's admissions, day k+1 admits the re-fetched copies, and from
    * day k+2 onward the population (and so the final admitted set) looks
    * correct again (probed in DuckDB: a day-1-fold-blind oracle produces
    * the IDENTICAL day-3 set). Certifying each day's admissions directly
    * is what makes every fold and every round-trip unmaskable.
    */
  def checkpointedRefreshLoop(spark: SparkSession, dir: String): DataFrame =
    checkpointedRefresh(spark, dir, compacted = false, "graft_q127_")

  /** q129 — the COMPACTED-SIDECAR variant of q127: every checkpoint
    * commits [[graft.streaming.DocStream.compactMinhashIndexState]]'s
    * output (tombstone count rows only — the sidecar a years-long daily
    * loop can actually afford) and every read-back passes through
    * [[graft.streaming.DocStream.expandMinhashIndexState]] before the
    * probe and fold. The oracle is q127's from-scratch rebuild VERBATIM:
    * compaction must be a pure storage optimization, so any observable
    * difference is a bug. Discrimination (DuckDB-probed at sf0.01): 41
    * delta-1 docs land in day-0 tombstoned buckets, and simulating the
    * compaction hazard — tombstone counts lost at the checkpoint, so dead
    * buckets resurrect with only delta rows — changes the certified row
    * set (same count, different ids). The complementary hazard (expand
    * failing to re-derive under-cap counts) cannot surface at sf0.01 —
    * no bucket crosses the cap between days in this corpus — and is
    * pinned exactly by IndexStateSpec's controlled cap-crossing fixture
    * instead.
    */
  def compactedRefreshLoop(spark: SparkSession, dir: String): DataFrame =
    checkpointedRefresh(spark, dir, compacted = true, "graft_q129_")

  /** q130 — the EMBEDDING-tier lineage-checkpoint + compaction loop,
    * completing q127/q129's surface across all three index tiers: day-0
    * hyperplane index state COMMITTED compacted
    * ([[graft.streaming.DocStream.compactEmbeddingIndexState]] — tombstone
    * counts only), read back and EXPANDED before every probe and fold, with
    * the day-1 fold running on the round-tripped state
    * ([[graft.streaming.DocStream.refreshEmbeddingIndex]] re-derives
    * nPlanes/cap from the parquet-round-tripped schema metadata). Bucket
    * cap 2 — unlike q125's never-binding 200 — makes 57 of the 194 day-0
    * buckets genuine tombstones at sf0.01, so tombstone retention through
    * the compacted checkpoint is load-bearing for the admitted sets; both
    * days are emitted (the q127 lesson). Admission is the same cosine-gated
    * anti-join the q119/q125 STREAM path certifies
    * ([[graft.streaming.DocStream.dedupEmbeddingsAgainstCorpus]] is one
    * DataFrame expression, batch or stream); the oracle rebuilds each
    * day's buckets from scratch.
    *
    * Day 2 re-fetches every delta-1 vector as an exact copy under
    * −2·id−1 (identical hyperplane signature, cosine 1.0): at cap 2 the
    * fold's effect on the plain day-2 delta is invisible (DuckDB-probed),
    * but a re-fetched ADMITTED vector is rejected exactly when the fold
    * landed its original in a still-live bucket — the crawler-re-crawl
    * probe that makes the checkpointed fold load-bearing on this tier.
    */
  def checkpointedEmbeddingRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val e = Tables(spark, dir).embeddings
    val tmp = scratchDir("graft_q130_")
    def commit(st: DocStream.EmbeddingIndexState, day: String): Unit =
      DocStream.writeEmbeddingIndexState(
        DocStream.compactEmbeddingIndexState(st), s"$tmp/$day")
    def readBack(day: String): DocStream.EmbeddingIndexState =
      DocStream.expandEmbeddingIndexState(
        DocStream.readEmbeddingIndexState(spark, s"$tmp/$day"))
    def admit(delta: DataFrame, index: DataFrame): DataFrame =
      DocStream.dedupEmbeddingsAgainstCorpus(
        delta, index, "vec_id", "embedding", minCosine = 0.25)

    commit(DocStream.embeddingIndexState(
      e.where(col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 5),
      "vec_id", "embedding", nPlanes = 8, maxBucketSize = 2), "day0")
    val st0 = readBack("day0")
    val admitted1 = graft.core.Caching.eager(
      admit(e.where(col("vec_id") % 10 === 5), st0.index))
    commit(DocStream.refreshEmbeddingIndex(st0, admitted1, "vec_id", "embedding"),
      "day1")
    val delta2 = e.where(col("vec_id") % 10 === 0)
      .unionByName(e.where(col("vec_id") % 10 === 5)
        .withColumn("vec_id", -col("vec_id") * 2 - lit(1L)))
    val admitted2 = admit(delta2, readBack("day1").index)
    admitted1.select(lit(1).cast("int").as("day"), col("vec_id"))
      .unionByName(admitted2.select(lit(2).cast("int").as("day"), col("vec_id")))
      .orderBy(col("day"), col("vec_id"))
  }

  private def checkpointedRefresh(
      spark: SparkSession, dir: String, compacted: Boolean,
      prefix: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val tmp = scratchDir(prefix)

    val delta1 = d.where(col("doc_id") % 10 === 5)
    val delta2real = d.where(col("doc_id") % 10 === 0)
    def reExact(src: DataFrame, off: Int) =
      src.withColumn("doc_id", -col("doc_id") * 4 - lit(off.toLong))
    def reNear(src: DataFrame, off: Int) =
      reExact(src, off).withColumn("text", concat(col("text"), lit(" q127refetch")))
    val delta2 = delta2real
      .unionByName(reExact(delta1, 1)).unionByName(reNear(delta1, 2))
    val delta3 = d.where(col("doc_id") % 10 === 3)
      .unionByName(reExact(delta2real, 3)).unionByName(reNear(delta2real, 4))

    // day 0: build both index tiers over the standing corpus and COMMIT
    // them — the loop's first lineage checkpoint
    val corpus0 = d.where(col("doc_id") % 10 =!= 0 &&
      col("doc_id") % 10 =!= 5 && col("doc_id") % 10 =!= 3)
    def commit(state: DocStream.MinHashIndexState, day: String): Unit =
      DocStream.writeMinhashIndexState(
        if (compacted) DocStream.compactMinhashIndexState(state) else state,
        s"$tmp/$day/minhash")
    DocStream.corpusIndex(corpus0).write.parquet(s"$tmp/day0/hash")
    commit(
      DocStream.minhashIndexState(corpus0, "doc_id", "text",
        numHashes = 16, numBands = 4, shingleN = 1, maxBucketSize = 50),
      "day0")

    def readBack(day: String) = {
      val st = DocStream.readMinhashIndexState(spark, s"$tmp/$day/minhash")
      (spark.read.parquet(s"$tmp/$day/hash"),
        if (compacted) DocStream.expandMinhashIndexState(st) else st)
    }
    def admit(delta: DataFrame, hash: DataFrame, index: DataFrame) =
      DocStream.admitNearDups(
        DocStream.dedupAgainstCorpus(delta, hash), index, minJaccard = 0.5)

    // days 1–2: read back yesterday's checkpoint, admit the delta against
    // it, fold the admitted docs delta-sized into both tiers (the MinHash
    // fold re-derives its LSH parameters from the ROUND-TRIPPED schema
    // metadata), commit today's checkpoint
    val admittedDays = Seq((delta1, 0), (delta2, 1)).map { case (delta, day) =>
      val (hash, st) = readBack(s"day$day")
      val admitted = graft.core.Caching.eager(admit(delta, hash, st.index))
      DocStream.refreshCorpusIndex(hash, admitted)
        .write.parquet(s"$tmp/day${day + 1}/hash")
      commit(
        DocStream.refreshMinhashIndex(st, admitted, "doc_id", "text"),
        s"day${day + 1}")
      admitted.select(lit(day + 1).cast("int").as("day"), col("doc_id"))
    }

    // day 3: admission over the twice-folded, twice-round-tripped state
    val (hash2, st2) = readBack("day2")
    val day3 = admit(delta3, hash2, st2.index)
      .select(lit(3).cast("int").as("day"), col("doc_id"))
    admittedDays.reduce(_ unionByName _).unionByName(day3)
      .orderBy(col("day"), col("doc_id"))
  }

  /** q141 — BM25 keyword retrieval ([[Retrieval.bm25TopK]]): top-15 docs
    * for the two-term query {dup, join}. `dup` is the corpus's one rare
    * token (df ≈ 26 at sf0.01) and `join` its most common (df ≈ 400+), so
    * the rational-idf weighting is load-bearing: a df-blind scorer would
    * let high-tf `join` docs swamp the `dup` matches. Scores use only
    * IEEE +,−,×,÷ with the per-doc fold pinned to ascending-token order —
    * bit-identical to the oracle's `list_reduce`.
    */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(Tables(spark, dir).documents, "doc_id", "text",
      terms = Seq("dup", "join"), k = 15)

  /** q142 — BM25 over a CHECKPOINTED-then-refreshed inverted index
    * ([[Retrieval.refreshInvertedIndex]]): the base index (docs with
    * `doc_id % 5 != 0`) and its stats row are WRITTEN to parquet — the
    * lineage checkpoint a daily lexical loop commits — and the delta day
    * (`% 5 == 0`) is folded postings-additively into the READ-BACK state
    * before the probe. The oracle recomputes BM25 from the FULL corpus
    * from scratch, so the green row certifies refresh ≡ rebuild THROUGH
    * the storage round-trip — the same daily-fold algebra as the MinHash/
    * embedding loops (q121/q127): disjoint new doc ids make postings
    * unions exact and the stats row element-wise additive. Terms
    * {dup, scan} differ from q141's so the two certifications don't
    * alias.
    */
  def bm25RefreshedProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val tmp = scratchDir("graft_q142_")
    val base = d.where(col("doc_id") % 5 =!= 0)
    val delta = d.where(col("doc_id") % 5 === 0)
    Retrieval.invertedIndex(base, "doc_id", "text").write.parquet(s"$tmp/postings")
    Retrieval.corpusStats(base, "doc_id", "text").write.parquet(s"$tmp/stats")
    val postings = Retrieval.refreshInvertedIndex(
      spark.read.parquet(s"$tmp/postings"), delta, "doc_id", "text")
    val stats = Retrieval.refreshCorpusStats(
      spark.read.parquet(s"$tmp/stats"), delta, "doc_id", "text")
    Retrieval.bm25Probe(postings, stats, terms = Seq("dup", "scan"), k = 12)
  }

  /** q152 — BM25 after index DELETIONS ([[Retrieval.deleteFromIndex]]):
    * the tombstone half of lexical index maintenance (q142 certifies the
    * additive half). The full-corpus index and stats are built once, the
    * docs with `doc_id % 7 == 3` (~14% of the corpus) are deleted FROM
    * THE INDEX — postings anti-join + a stats decrement recovered from
    * the deleted docs' own posting rows, the raw text never re-read —
    * and the probe runs over the shrunken state. The oracle rebuilds
    * BM25 from scratch over the surviving corpus, so the green row
    * certifies deletion ≡ rebuild: at sf0.01 two of the base top-12
    * docs for {filter, window} are themselves deleted AND the surviving
    * scores shift (n_docs, avgdl, and df all move), so a stale-stats or
    * postings-only deletion cannot pass.
    */
  def bm25AfterDeletes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val (postings, stats) = Retrieval.deleteFromIndex(
      Retrieval.invertedIndex(docs, "doc_id", "text"),
      Retrieval.corpusStats(docs, "doc_id", "text"),
      docs.where(col("doc_id") % 7 === 3).select("doc_id"))
    Retrieval.bm25Probe(postings, stats, terms = Seq("filter", "window"), k = 12)
  }

  /** q153 — exact phrase search ([[Retrieval.phraseSearch]]) for
    * "stream table hash" over the positional inverted index
    * ([[Retrieval.positionalIndex]]): each term's occurrences normalize
    * to their implied start position and chain through equi-joins — one
    * output row per occurrence with its 1-based position. The oracle
    * re-derives positions independently with `generate_subscripts` and
    * the same adjacency join; 7 docs match at sf0.01, and the emitted
    * POSITIONS (not just membership) are hashed, so an off-by-one in
    * either engine's adjacency arithmetic fails the row.
    */
  def phraseMatches(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(
      Retrieval.positionalIndex(Tables(spark, dir).documents, "doc_id", "text"),
      Seq("stream", "table", "hash"))
      .orderBy("doc_id", "match_pos")

  /** q154 — PageRank canonical-selection centrality
    * ([[graft.operators.Graph.pageRank]]): the exact cosine ≥ 0.25 pair
    * graph over the 500-vector fixture slice (SF-invariant, the q39
    * bounded-fixture convention), symmetrized, 5 synchronous iterations
    * in BIGINT fixed-point (parts of 10^12) — bit-identical across
    * engines and partitionings because every update is integer +, ×, and
    * floor division. Probed at sf0.01: the centrality order differs from
    * the degree order (node 445 outranks 48 at equal degree 21), so a
    * degree-shortcut implementation cannot pass. At 100 TB the edge
    * input is the LSH-capped pair generator (q67) instead of the exact
    * threshold join — the operator is pair-source-agnostic.
    */
  def pagerankCentrality(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    val e = Tables(spark, dir).embeddings.where(col("vec_id") < 500)
    val pairs = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .where(col("id_a") < col("id_b"))
      .where(cosineFast(col("va"), col("vb")) >= 0.25)
      .select(col("id_a"), col("id_b"))
    val edges = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    graft.operators.Graph.pageRank(edges, "id_a", "id_b", iterations = 5)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("pr_score").desc, col("node_id"))).cast("long").as("pr_rank"),
        col("node_id").as("vec_id"), col("pr_score"), col("out_degree"))
      .orderBy("pr_rank")
  }

  /** q155 — ORC interchange certification: the returned-items monthly
    * rollup computed over an ORC round-trip of the lineitem slice — the
    * frame is WRITTEN to ORC (the interchange format warehouses that are
    * not parquet-native expect) and the aggregation reads the ORC COPY,
    * never the original parquet, so the green row certifies write+read
    * fidelity for every type in the slice (bigint, double, string,
    * timestamp) against the parquet-derived oracle. The returnflag filter
    * sits on the ORC scan (PushedFilters — spec-asserted, ORC pushdown
    * works like parquet's), and money sums use the q03 decimal contract.
    */
  def orcInterchange(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("graft_q155_")
    Tables(spark, dir).lineitem
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")
      .write.orc(s"$tmp/lineitem_orc")
    spark.read.orc(s"$tmp/lineitem_orc")
      .where(col("l_returnflag") === "R")
      .groupBy(
        year(col("l_shipdate")).cast("long").as("ship_year"),
        month(col("l_shipdate")).cast("long").as("ship_month"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("ship_year", "ship_month")
  }

  /** q162 — time-RANGE window frames: for every event, the trailing
    * 1-hour per-user activity (event count and max value) via a RANGE
    * frame over the microsecond epoch (`rangeBetween(-3.6e9, 0)` on
    * `unix_micros(ts)` — the DataFrame-API form of `RANGE BETWEEN
    * INTERVAL 1 HOUR PRECEDING AND CURRENT ROW`, bounds inclusive on
    * both engines). The frame is VALUE-based, not row-based — the
    * machinery the ROWS-frame running totals (q12) never exercise: peers
    * enter and leave by timestamp distance, so burst detection works
    * regardless of how many events land inside the hour. Count and max
    * are order-free aggregates — no float fold to pin. One shuffle on
    * user_id; the frame scan is a single ordered pass per partition.
    */
  def trailingWindowActivity(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0L)
    Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        max(col("value")).over(w).as("max_value_1h"))
      .orderBy("event_id")
  }

  /** q163 — the distribution-ranking window family (`ntile`,
    * `percent_rank`, `cume_dist`) over customer balances within market
    * segment: quartile assignment plus the two relative-position
    * statistics, disambiguated with a custkey tiebreak so every peer
    * group is a singleton and both engines' rational arithmetic
    * (`(rank−1)/(n−1)`, `rows≤/n`) lands on identical doubles. These are
    * the remaining SQL ranking functions the q12–q20 window tier didn't
    * cover; all three share ONE segment shuffle and one ordered pass.
    */
  def segmentBalanceRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).cast("long").as("balance_quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume_d"))
      .orderBy("c_custkey")
  }

  /** q158 — per-source distinct-shingle cardinality via deterministic
    * HyperLogLog ([[Sketches.hllRegisters]]/[[Sketches.hllEstimate]],
    * m = 64 over trigram shingles): the sketch answer next to the exact
    * `count(distinct)` it approximates, so the report IS the estimate-
    * quality audit (probed at sf0.01: exact 1 193–1 462 per source,
    * raw estimates within the ~1.04/√64 HLL error band, n_zero = 0 —
    * the regime where the raw estimator is the right one). Every
    * register and both estimate floats are hash-certified against a
    * from-scratch DuckDB recompute — possible because the rank uses
    * `length(bin(rest))` integer arithmetic and the estimate fold is
    * pinned to ascending-bucket order.
    */
  def hllCardinalityReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val sh = Tables(spark, dir).documents
      .select(col("source"), explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(sh, Seq("source"), "sh", m = 64), Seq("source"), m = 64)
    sh.groupBy("source")
      .agg(countDistinct(col("sh")).as("exact_distinct"))
      .join(est, Seq("source"))
      .select(col("source"), col("exact_distinct"), col("hll_estimate"), col("n_zero"))
      .orderBy("source")
  }

  /** q159 — fuzzy (edit-distance) duplicate pairs
    * ([[Dedup.fuzzyNearDuplicates]]): docs whose 8-token normalized
    * prefix keys are within 6 Levenshtein edits, candidates blocked on
    * the key's first token (Σ block² work, max block 26 / Σ ≈ 9 k
    * comparisons at sf0.01 — never N²). Probed: 4 233 candidates gate
    * down to 25 pairs, and the distance distribution is bimodal (≤ 6 vs
    * > 14), so the gate — not the blocking — determines the answer. The
    * character-edit tier of the dedup ladder: these prefixes differ by
    * word substitutions that shingle/MinHash similarity also sees, but
    * the certified quantity here is the exact edit DISTANCE per pair,
    * cross-engine because levenshtein is an integer builtin in both.
    */
  def fuzzyDupPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyNearDuplicates(Tables(spark, dir).documents, "doc_id", "text",
      keyTokens = 8, maxDist = 6, maxBlockSize = 200)
      .orderBy("id_a", "id_b")

  /** q160 — bucketed CO-LOCATED join through the warehouse catalog
    * ([[graft.catalog.WarehouseCatalog.saveBucketed]]): orders and
    * lineitem slices land as tables bucketed+sorted 8-ways on their join
    * keys, and the priority rollup joins the READ-BACK tables with a
    * sort-merge hint — the bucketing metadata makes the join
    * exchange-free (spec-asserted: SortMergeJoin, ZERO shuffle below it),
    * which is the engine's replacement for the reference's BTREE join
    * indexes and THE co-location lever at 100 TB: the shuffle is paid
    * once at write time, then every subsequent join of the fact tables
    * is a local zip of pre-sorted buckets. The oracle joins the original
    * parquet, so the green row also certifies bucketed write+read
    * fidelity end to end.
    */
  def bucketedColocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.catalog.WarehouseCatalog
    val cat = new WarehouseCatalog(spark, scratchDir("graft_q160_"))
    cat.createDatabases()
    val t = Tables(spark, dir)
    cat.saveBucketed("silver", "q160_orders",
      t.orders.select("o_orderkey", "o_orderpriority"), Seq("o_orderkey"), numBuckets = 8)
    cat.saveBucketed("silver", "q160_lineitem",
      t.lineitem.select("l_orderkey", "l_quantity", "l_extendedprice"),
      Seq("l_orderkey"), numBuckets = 8)
    spark.table("graft_silver.q160_lineitem")
      .join(spark.table("graft_silver.q160_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** q161 — hierarchical subtotals via ROLLUP: revenue by region → nation
    * → grand total in ONE aggregation pass (`rollup` + `grouping_id`),
    * the reference's multi-query subtotal reports collapsed into a
    * single plan: Spark expands the grouping sets and the partial
    * aggregation stays map-side combined per set, so the fact table is
    * scanned once however many subtotal levels the report carries.
    * `grouping_id` disambiguates a genuine NULL key from a subtotal row
    * — certified against DuckDB's standard-SQL GROUPING bitmask.
    */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .join(t.orders, col("o_custkey") === col("c_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping_id().cast("long").as("level"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("total_revenue"))
      .orderBy(col("level"), col("r_name"), col("n_name"))
  }

  /** q165 — calendar gap-fill with forward carry: per-user daily activity
    * densified to EVERY day in the user's own [first, last] span (the
    * per-key calendar via `sequence` + `explode` — 57 missing days across
    * 18 of the 20 users at sf0.01), zero-filled counts on the gap days,
    * and the last OBSERVED daily max carried forward with
    * `last(_, ignoreNulls).over(rowsBetween(unboundedPreceding, current))`
    * — the IGNORE NULLS frame the q12–q17 window tier never touches. The
    * calendar derives from the daily aggregate (≤ one row per key-day,
    * already shuffled on user_id), so the densify join and the fill
    * window REUSE that partitioning; the raw events table is scanned
    * once. Spans are bounded by the retention horizon, so the explode
    * fan-out per key is a constant, not data-sized.
    */
  def gapFillForward(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .where(col("user_id") < 20)
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
    val cal = daily.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("mx"), ignoreNulls = true).over(w).as("carried_max"))
      .orderBy("user_id", "day")
  }

  /** q166 — full cross-classification via CUBE: shipment volume and value
    * by (ship_year × return flag), every marginal (per-year, per-flag)
    * and the grand total in ONE aggregation pass — the 2ᵏ grouping-set
    * companion to q161's hierarchical ROLLUP. Spark expands the four
    * grouping sets BELOW the partial aggregate, so the 100 TB fact scan
    * happens once and the map-side combine emits at most
    * 4 × |year×flag| rows per task before the single shuffle.
    * `grouping_id` (certified against DuckDB's standard GROUPING bitmask)
    * is what makes the subtotal rows machine-consumable: a NULL year
    * at level 0 would be data, at level 2 it's a margin.
    */
  def shippingCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_returnflag"), col("l_extendedprice"))
      .cube(col("ship_year"), col("l_returnflag"))
      .agg(
        grouping_id().cast("long").as("level"),
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy(col("level"), col("ship_year"), col("l_returnflag"))

  /** q167 — set operators INTERSECT / EXCEPT as cohort algebra: customers
    * active in BOTH 1995 and 2001 (`intersect` → retained) next to those
    * active in 1995 but gone by 2001 (`except` → churned). Both carry
    * SQL's DISTINCT set semantics — multi-order customers collapse to one
    * membership row — and Catalyst compiles them to aggregate-then-
    * left-semi / left-anti joins on o_custkey, so each cohort is one
    * column-pruned scan (orderdate + custkey only) plus one key shuffle;
    * the year predicates are written as half-open RANGES on the raw
    * timestamp — `year(col) === y` wraps the column and never reaches
    * the reader, while the range form shows up in `PushedFilters` and
    * prunes parquet row groups by min/max stats, which at 100 TB is the
    * difference between scanning one year and scanning seven.
    * Probed at sf0.01: 685 retained / 489 churned — both branches
    * discriminate.
    */
  def customerYearSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def keys(y: Int) = o.where(
        col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp_ntz"))
      .select("o_custkey")
    keys(1995).intersect(keys(2001)).withColumn("op", lit("retained"))
      .unionByName(keys(1995).except(keys(2001)).withColumn("op", lit("churned")))
      .orderBy("op", "o_custkey")
  }

  /** q168 — per-node triangle counts + local clustering coefficient
    * ([[graft.operators.Graph.triangleCounts]], degree-ordered edge
    * orientation) over the SAME cosine-threshold pair graph as q154's
    * PageRank (vec_id < 500, τ = 0.25 — 2,818 edges, 907 triangles, 470
    * of 500 nodes in at least one, probed at sf0.01). The oracle counts
    * triangles the naive way — a canonical `a < b < c` three-way
    * self-join — so the green row certifies that the oriented wedge
    * algorithm finds every triangle exactly once; the two are the same
    * answer but NOT the same join volume once a hub shows up.
    */
  def triangleCentrality(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    val e = Tables(spark, dir).embeddings.where(col("vec_id") < 500)
    val pairs = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .where(col("id_a") < col("id_b"))
      .where(cosineFast(col("va"), col("vb")) >= 0.25)
      .select(col("id_a"), col("id_b"))
    graft.operators.Graph.triangleCounts(pairs, "id_a", "id_b")
      .withColumnRenamed("node_id", "vec_id")
      .orderBy("vec_id")
  }

  /** q171 — q168's triangle/clustering signal fed by the CERTIFIED LSH
    * pair generator ([[Dedup.embeddingNearDuplicates]], q67's operator)
    * instead of the bounded cosine cartesian: this is the composition the
    * graph tier's scaladoc promises, executed — candidate pairs come from
    * banded hyperplane buckets (capped, never all-pairs), and
    * [[graft.operators.Graph.triangleCounts]] is pair-source-agnostic.
    * The plane count is TUNED to the corpus ([[Dedup.tunePlanes]] — one
    * count aggregate, then the smallest plane set whose expected bucket
    * occupancy clears the 200 cap, plus one slack plane): the round-13
    * fixed-4-plane version was the canonical vacuous-at-scale bug — fine
    * at 500 vectors, EMPTY at 20,000 because all 16 buckets blew the cap
    * and every vector was discarded. Tuned: 3 planes / 4,746 pairs /
    * 11,618 triangles at sf0.01; 8 planes / 543k pairs / 11.6M triangles
    * on 17,316 nodes at sf1 (probed and oracle-verified at both). The
    * oracle reproduces the
    * tuning with the same integer `cap·2^p ≥ n` scan, so the engines
    * can't silently disagree on the plane count. At 100 TB this chain is
    * exactly the dedup-diagnostics path: LSH pairs → orientation → wedge
    * join, every stage banded/capped/key-partitioned.
    */
  def lshTriangleCommunities(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    // nPlanes omitted → Dedup.AutoPlanes: the operator itself counts the
    // corpus and tunes (API-proofed this round so no call site can forget
    // the tuning the way the round-13 fixed-plane bug did)
    val pairs = Dedup.embeddingNearDuplicates(
      emb, "vec_id", "embedding",
      minCosine = 0.1, maxBucketSize = 200)
      .select(col("id_a"), col("id_b"))
    graft.operators.Graph.triangleCounts(pairs, "id_a", "id_b")
      .withColumnRenamed("node_id", "vec_id")
      .orderBy("vec_id")
  }

  /** q172 — connected components over the EMBEDDING pair graph
    * ([[Dedup.duplicateClusters]] fed by [[Dedup.embeddingNearDuplicates]]
    * at 8 planes / τ = 0.1): the semantic-community completion of the
    * graph family — q52 certifies the same CC operator over MinHash
    * pairs; this row certifies it over the hyperplane-LSH graph, where
    * components chain PAST direct edges (sizes up to 9 at max degree 5,
    * probed at sf0.01 — the pointer-jumping transitive closure is
    * load-bearing, a pairs-only grouping cannot pass). Output is
    * (vec_id, component_id = component minimum, component_size); the size
    * join reuses the component_id shuffle.
    */
  def embeddingComponents(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.embeddingNearDuplicates(
      Tables(spark, dir).embeddings, "vec_id", "embedding",
      minCosine = 0.1, nPlanes = 8, maxBucketSize = 200)
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.duplicateClusters(pairs, "id_a", "id_b")
    val sizes = comp.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("component_size"))
    comp.join(sizes, "cluster_id")
      .select(col("doc_id").as("vec_id"),
        col("cluster_id").as("component_id"), col("component_size"))
      .orderBy("vec_id")
  }

  /** q200 — k-core decomposition ([[graft.operators.Graph.kCore]]) over
    * the certified LSH pair graph (q172's 8-plane / τ = 0.1 generator):
    * peel every node of degree < 3 until the remaining subgraph is the
    * 3-core — the density triage on top of the dup-pair generators that
    * separates template FAMILIES (every member touches ≥ k others) from
    * loose chains of pairwise hits, which triangles (q171, local density)
    * and components (q172, mere connectivity) both miss. The 8-plane
    * generator is the scale-honest choice: the 4-plane graph's 16 buckets
    * all blow the 200-vector cap at sf1 and the pair set empties, while
    * 8 planes stay populated at BOTH scales (probed: 255 pairs / 305
    * nodes → a 13-node 3-core at peel depth 4 at sf0.01 — the cascade is
    * load-bearing, a single degree filter keeps more — and 543k pairs →
    * a 17,275-node core at sf1). `maxIter` is pinned to the SAME 32
    * rounds the oracle unrolls: peeling is a monotone fixpoint (extra
    * rounds are no-ops on a converged graph), so either both engines
    * reach the identical core or the Spark side throws loudly — a
    * deeper-than-32 graph can never silently hash-mismatch. Each round
    * is one map-side-combined degree aggregate plus two anti-joins
    * against the (node-sized) peel set over a strictly shrinking edge
    * frame.
    */
  def lshKCore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.embeddingNearDuplicates(
      Tables(spark, dir).embeddings, "vec_id", "embedding",
      minCosine = 0.1, nPlanes = 8, maxBucketSize = 200)
      .select(col("id_a"), col("id_b"))
    graft.operators.Graph.kCore(pairs, "id_a", "id_b", k = 3, maxIter = 32)
      .withColumnRenamed("node_id", "vec_id")
      .orderBy("vec_id")
  }

  /** q201 — ordered four-step funnel ([[graft.operators.Behavior.funnel]]):
    * signup → view → click → purchase, each step reached at the user's
    * earliest qualifying event at-or-after the previous step — the
    * multi-step user-journey composition the reference's cohort queries
    * stop short of. One fact shuffle on user_id; each step's reach
    * timestamp is a chained unbounded window min over that single
    * Exchange (no per-step join), and the step counts collapse to a
    * 1×|steps| frame before the explode to rows. `pct_of_first` is the
    * only float: a terminal BIGINT/BIGINT division.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    Behavior.funnel(
      Tables(spark, dir).events, "user_id", "ts", "event_type",
      steps = Seq("signup", "view", "click", "purchase"))
      .orderBy("step_index")

  /** q202 — approx_count_distinct CERTIFIED (the q189/q197 convention
    * applied to COUNT DISTINCT): per event type, the exact distinct user
    * count (hash-matched by the oracle) next to Spark's HLL++ sketch at
    * rsd = 0.02, with `approx_ok` asserting the estimate lands within
    * ±10% (5 × rsd) by integer cross-multiplication — Spark-verified,
    * oracle-asserted TRUE (DuckDB cannot replay Spark's HLL++). The
    * certified swap-in for the 100 TB regime where exact distinct counts
    * force a per-key value shuffle and the mergeable fixed-size sketch
    * does not.
    */
  def approxDistinctCert(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("_apx"))
      .select(
        col("event_type"),
        col("n_exact"),
        (abs(col("_apx") - col("n_exact")) * 10 <= col("n_exact")).as("approx_ok"))
      .orderBy("event_type")

  /** q203 — daily cohort retention matrix
    * ([[graft.operators.Behavior.retentionMatrix]]): users cohorted by
    * first-event DAY (epoch 2024-01-01), each cell counting users from
    * cohort day c active at day offset o — the triangle the reference's
    * cohort period index (q15) feeds but never assembles. Daily periods
    * are the fixture-discriminating choice: weekly cohorts collapse this
    * corpus to a single cohort (every user's first event lands in week 0,
    * probed), while days split it 134/16 across two cohorts and 59 cells,
    * so the cohort arithmetic is actually exercised. Offset-0 cells are
    * the cohort sizes by construction; `retention_pct` is a terminal
    * BIGINT/BIGINT division. The matrix is periods²-bounded —
    * dimension-sized however large the fact stream.
    */
  def retentionTriangle(spark: SparkSession, dir: String): DataFrame =
    Behavior.retentionMatrix(
      Tables(spark, dir).events, "user_id", "ts",
      epochStart = "2024-01-01", periodDays = 1)
      .orderBy("cohort_period", "period_offset")

  /** q204 — FORWARD as-of join
    * ([[graft.operators.AsOfJoin.asofJoinForward]]): every error event
    * attributed to the user's NEXT purchase at-or-after it — the
    * time-to-conversion direction the backward join cannot express.
    * Equal-timestamp purchases are pinned by event_id ascending (the
    * smallest wins), mirrored in the oracle's min-over-min recomputation;
    * errors with no later purchase keep a null attribution (left-join
    * guarantee). Same one-shuffle union+window shape as q174, frame
    * looking forward.
    */
  def nextPurchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("_p_ts"),
        col("event_id").as("_p_id"),
        round(col("value") * 100, 0).cast("long").as("_p_cents"))
    graft.operators.AsOfJoin.asofJoinForward(
      errors, purchases,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "_p_ts",
      rightPayload = Seq("_p_id", "_p_ts", "_p_cents"),
      rightOrdCols = Seq("_p_id"))
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("asof._p_id").as("next_purchase_id"),
        col("asof._p_ts").as("next_purchase_ts"),
        (unix_micros(col("asof._p_ts")) - unix_micros(col("ts")))
          .as("us_to_purchase"),
        col("asof._p_cents").as("purchase_cents"))
      .orderBy("event_id")
  }

  /** q205 — BATCH session windows: native `session_window(ts, gap)` in a
    * batch groupBy — the batch twin of q157's streaming session
    * aggregation, certified against a DuckDB gap-islands recomputation.
    * Boundary semantics pinned on both engines: a gap of EXACTLY 6 hours
    * starts a new session (Spark merges only on strict overlap, so the
    * oracle's new-session flag is `diff >= gap`, not `>`). Emitted per
    * session: first/last event timestamps, event count, and the exact
    * integer-µs span. One shuffle on user_id; session assembly is
    * per-key ordered merging inside the aggregate.
    */
  def batchSessionWindows(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(spark, dir)
      .select(
        col("user_id"),
        col("session_start"),
        col("session_end"),
        col("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("span_us"))
      .orderBy("user_id", "session_start")

  /** The ONE 6-hour session definition (native `session_window` in batch
    * groupBy) shared by q205 and q211 — a gap-rule change lands in both
    * certifications or neither.
    */
  private def sessionFrame(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("_sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select("user_id", "session_start", "session_end", "n_events")

  /** q206 — exact 10% trimmed mean per event type, ranked by
    * [[Analytics.groupedOrderedRank]]: drop the bottom and top `n div 10`
    * values by exact rank (ties pinned by event_id), then average the
    * middle exactly — integer cents sum over BIGINT count, one terminal
    * double division. The robust-mean complement of q183's MAD (which
    * flags rows; this SUMMARIZES robustly), with the trim targets computed
    * by the same integer-division formula on both engines (a double
    * `0.1·n` reintroduces the q194 ceil hazard). The rank pass is the
    * two-level ranged shape — no fact-sized sort under the 5-value
    * event_type window (PlanAuditSpec's guard enforces it).
    */
  def trimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val ranked = rankedCentsByType(spark, dir)
    val trim = expr("n div 10")
    ranked
      .where(col("rn") > trim && col("rn") <= col("n") - trim)
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_total"),
        count(lit(1)).as("n_kept"),
        sum(col("cents")).as("trimmed_sum_cents"))
      .withColumn("trimmed_mean_cents",
        col("trimmed_sum_cents") / col("n_kept"))
      .orderBy("event_type")
  }

  /** q207 — rolling 7-day DISTINCT active users per day
    * ([[graft.operators.Behavior.rollingDistinctUsers]]): the rolling
    * COUNT DISTINCT no native window expresses, decomposed into per-user
    * coverage islands → ±1 interval deltas → a running sum over the
    * CALENDAR dimension, so the only ordered global pass touches
    * days-since-epoch rows (31 here; thousands for years of data at
    * 100 TB) while every fact-sized stage shuffles on user or day keys.
    * The oracle is the brute-force day×activity stab
    * (`count(DISTINCT) .. BETWEEN day−6 AND day`) — quadratic for DuckDB
    * at sf0.01, which is exactly the shape the operator exists to avoid.
    * All-integer output.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    Behavior.rollingDistinctUsers(
      Tables(spark, dir).events, "user_id", "ts",
      epochStart = "2024-01-01", windowDays = 7)
      .orderBy("day")

  /** q215 — funnel conversion latency
    * ([[graft.operators.Behavior.funnelUserTimes]]): for every user who
    * COMPLETED q201's signup→view→click→purchase funnel, the exact
    * integer-µs time from first signup to the converting purchase, then
    * count / min / exact dyadic quartiles / max — the "how fast do they
    * convert" question the step counts can't answer, sharing the exact
    * reach semantics q201 certifies (same operator core). Quartiles on
    * integer µs interpolate at exact 0.25-multiples (the q87/q189
    * discipline), so the doubles hash-match. The latency frame is
    * user-dimension-sized; the final aggregate is one row.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val times = Behavior.funnelUserTimes(
      Tables(spark, dir).events, "user_id", "ts", "event_type",
      steps = Seq("signup", "view", "click", "purchase"))
    times.where(col("_s3").isNotNull)
      .select((unix_micros(col("_s3")) - unix_micros(col("_s0")))
        .as("us_to_convert"))
      .agg(
        count(lit(1)).as("n_converted"),
        min(col("us_to_convert")).as("min_us"),
        percentile(col("us_to_convert"), lit(0.25)).as("q1_us"),
        percentile(col("us_to_convert"), lit(0.5)).as("med_us"),
        percentile(col("us_to_convert"), lit(0.75)).as("q3_us"),
        max(col("us_to_convert")).as("max_us"))
  }

  /** q216 — 2-D skyline ([[Analytics.skyline2D]]): the Pareto frontier of
    * lineitems maximizing quantity while minimizing price — the classic
    * "no other line ships more for less" OLAP operator Spark has no
    * native form of. The frontier math runs entirely on the
    * (qty, price) pair aggregate: min price per quantity level, one
    * suffix-min pass over the 50-value QUANTITY DIMENSION, broadcast
    * frontier filter — the fact table is scanned once and never sorted.
    * All-integer dominance; frontier points carry their multiplicity.
    */
  def priceQuantitySkyline(spark: SparkSession, dir: String): DataFrame =
    Analytics.skyline2D(
      Tables(spark, dir).lineitem
        .select(col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents")),
      xCol = "qty", yCol = "price_cents")
      .orderBy("qty")

  /** q217 — penny-exact PRORATION (largest-remainder / Hamilton
    * apportionment): each order's total allocated across its lineitems
    * proportional to quantity, in integer cents that sum EXACTLY to the
    * order total — the allocation problem every financial rollup hits
    * (floor division under-allocates; naive rounding over- or
    * under-shoots; float shares don't reconcile at all). Base share
    * `target·qty div Σqty` per line, then the leftover
    * `target − Σbase < n_lines` pennies go to the largest remainders
    * (`target·qty mod Σqty` desc, line number pinning ties). The
    * allocation unit is the (order, line number) pair — quantities
    * pre-aggregate per line, which both defines the business grain AND
    * makes the penny ranking a TOTAL order (the scaled fixture carries
    * duplicate line numbers within an order; without the pre-aggregate
    * the tie-break is incomplete and the penny lands nondeterministically
    * — caught at sf1, 9,735/6M rows). Every window partitions by the
    * high-cardinality order key — one order-key shuffle, all arithmetic
    * BIGINT, reconciliation certified by the hash match itself.
    */
  def pennyProration(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val ord = Tables(spark, dir).orders
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("_target"))
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val wRank = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("_rem").desc, col("l_linenumber").asc)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("_sumqty", sum(col("qty")).over(wOrd))
      .withColumn("_base", expr("(_target * qty) div _sumqty"))
      .withColumn("_rem", expr("(_target * qty) % _sumqty"))
      .withColumn("_leftover", col("_target") - sum(col("_base")).over(wOrd))
      .withColumn("_rn", row_number().over(wRank).cast("long"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("_base") +
          when(col("_rn") <= col("_leftover"), 1L).otherwise(0L))
          .as("alloc_cents"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q218 — exact WEIGHTED median ([[Analytics.groupedOrderedPrefixSum]]):
    * per return flag, the smallest price whose cumulative QUANTITY weight
    * reaches half the total — the weighted percentile Spark has no native
    * form of, computed without sorting anything fact-sized: weights
    * pre-aggregate per (flag, price), the cumulative pass is the
    * two-level ranged prefix sum over that value-dimension frame, and
    * the median pick is `min(price) where 2·cum ≥ total` — integer
    * cross-multiplication, no halves, no interpolation to pin.
    */
  def weightedMedianPrice(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    Analytics.groupedOrderedPrefixSum(
      pairs, groupCols = Seq("l_returnflag"),
      sortCols = Seq(col("price_cents").asc),
      valueCol = "w", cumCol = "cum_w", totalCol = "total_qty", buckets = 32)
      .where(col("cum_w") * 2 >= col("total_qty"))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("total_qty")).as("total_qty"),
        min(col("price_cents")).as("weighted_median_cents"))
      .orderBy("l_returnflag")
  }

  /** q219 — exact Gini coefficient of customer revenue per market
    * segment: `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` over revenues ranked
    * ascending (ties pinned by custkey) — every product and sum in the
    * numerator/denominator assembled in EXACT decimal(38,0) (both the
    * per-term i·xᵢ and its sum overflow BIGINT at a 10⁸-customer scale)
    * and parsed to double through the q187 VARCHAR convention, so the one
    * terminal division is bit-identical across engines. Ranks come from
    * [[Analytics.groupedOrderedRank]] (5-segment dimension — the
    * two-level pass, no fact-sized segment sort); revenue is the exact
    * cents sum per ordering customer.
    */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev"))
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ranked = Analytics.groupedOrderedRank(
      rev.select(col("c_mktsegment"), col("c_custkey"), col("rev")),
      groupCols = Seq("c_mktsegment"),
      sortCols = Seq(col("rev").asc, col("c_custkey").asc),
      rankCol = "i", countCol = "n", buckets = 32)
    ranked
      .groupBy(col("c_mktsegment"))
      .agg(
        max(col("n")).as("n_customers"),
        sum(col("rev").cast(d38)).as("_sx"),
        sum(col("i").cast(d38) * col("rev").cast(d38)).as("_six"))
      .select(
        col("c_mktsegment"),
        col("n_customers"),
        (
          (lit(2).cast(d38) * col("_six") -
            (col("n_customers") + 1).cast(d38) * col("_sx"))
            .cast("string").cast("double") /
          (col("n_customers").cast(d38) * col("_sx"))
            .cast("string").cast("double")
        ).as("gini"))
      .orderBy("c_mktsegment")
  }

  /** q220 — year-over-year RANK SHIFT: customers ranked by exact revenue
    * within 1996 and 1997 (dense ranks would hide ties; row_number ties
    * pinned by custkey), inner-joined across the years, biggest climbers
    * first — the "most improved" leaderboard BI loves, with every rank
    * and delta an exact integer. Ranks per year ride
    * [[Analytics.groupedOrderedRank]] (2-value year dimension over the
    * customer-aggregate frame — the two-level pass, honest at a 10⁸
    * customer dimension); top-20 by (delta desc, custkey) is a bounded
    * TakeOrdered.
    */
  def rankShiftReport(spark: SparkSession, dir: String): DataFrame = {
    val byYear = Tables(spark, dir).orders
      .where(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev"))
    val ranked = Analytics.groupedOrderedRank(
      byYear, groupCols = Seq("yr"),
      sortCols = Seq(col("rev").desc, col("o_custkey").asc),
      rankCol = "rnk", countCol = "n", buckets = 32)
    val r96 = ranked.where(col("yr") === 1996)
      .select(col("o_custkey"), col("rnk").as("rank_1996"))
    val r97 = ranked.where(col("yr") === 1997)
      .select(col("o_custkey"), col("rnk").as("rank_1997"))
    r96.join(r97, "o_custkey")
      .select(col("o_custkey"), col("rank_1996"), col("rank_1997"),
        (col("rank_1996") - col("rank_1997")).as("rank_gain"))
      .orderBy(col("rank_gain").desc, col("o_custkey").asc)
      .limit(20)
  }

  /** q222 — activity SPIKE detection with an all-integer verdict: a day
    * is a spike when its EVENT count exceeds the trailing 7-day average
    * by more than 2.5% — tested as `280·n > 41·sum7`
    * (`7n/sum7 > 41/40` cross-multiplied), so no float ratio ever
    * exists on either engine (the q176/q184 exact-verdict discipline
    * applied to time-series monitoring). Event counts, not distinct
    * users, are the discriminating series: every user is active every
    * day in this corpus, so a user-count spike can never fire. The
    * 2.5% margin is the q213 cut-date discipline applied to a
    * threshold: BOTH verdict branches fire at EVERY gate scale
    * (probed spike/quiet days over the 23 full-window days: 8/15 at
    * sf0.001, 7/16 at sf0.01, 4/19 at sf0.1 and at the 20k-user sf1
    * fixture — the round-13 5% margin was all-quiet past sf0.1
    * because relative Poisson noise shrinks ~√100× at 100× volume,
    * leaving the True branch untested exactly where it matters). The
    * trailing frame is a RANGE over day VALUES (calendar-honest: an
    * empty day is absent, not skipped over), and a day with fewer than
    * 7 trailing observations emits a null verdict instead of comparing
    * against a partial window. The trailing window runs over the DAY
    * DIMENSION (30 rows here, thousands at years of data).
    */
  def activitySpikes(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day")).rangeBetween(-7, -1)
    daily
      .withColumn("_sum7", sum(col("n_events")).over(w))
      .withColumn("_n7", count(col("n_events")).over(w))
      .select(
        col("day"), col("n_events"),
        when(col("_n7") === 7, col("_sum7")).as("trailing7_sum"),
        when(col("_n7") === 7,
          col("n_events") * 280 > col("_sum7") * 41).as("is_spike"))
      .orderBy("day")
  }

  /** q208 — exact Mann–Whitney rank-sum (U) statistic comparing the
    * purchase vs click value distributions, ALL-INTEGER: tie-averaged
    * ranks are carried doubled (`2·avgrank = 2·(smaller+1) + ties − 1`,
    * always integral), so `two_r1 = 2·ΣR₁` and
    * `two_u1 = two_r1 − n₁(n₁+1)` are exact BIGINTs and the
    * location-shift verdict is an integer comparison against
    * `2·E[U] = n₁·n₂` — no float enters the statistic on either engine
    * (the q176/q187 exact-statistics discipline applied to a
    * nonparametric test). Scale shape: one map-side-combined per-value
    * aggregate (value-dimension-bounded), a prefix sum over the ORDERED
    * VALUE DIMENSION (aggregate-sized, guard-legal), one scalar fold —
    * the fact table is never sorted.
    */
  def rankSumTest(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables(spark, dir).events
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val perValue = v.groupBy(col("cents"))
      .agg(
        count(lit(1)).as("_c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("_cp"))
    val wVal = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perValue
      .withColumn("_smaller", coalesce(sum(col("_c")).over(wVal), lit(0L)))
    ranked.agg(
        sum(col("_cp")).as("n_purchase"),
        sum(col("_c") - col("_cp")).as("n_click"),
        sum(col("_cp") * (lit(2L) * (col("_smaller") + 1L) + col("_c") - 1L))
          .as("two_r1"))
      .select(
        col("n_purchase"), col("n_click"),
        col("two_r1"),
        (col("two_r1") - col("n_purchase") * (col("n_purchase") + 1L))
          .as("two_u1"),
        (col("n_purchase") * col("n_click")).as("two_mean_u"))
      .withColumn("purchase_shifted_high",
        col("two_u1") > col("two_mean_u"))
  }

  /** q209 — exact equi-depth (quantile) histogram per event type: bin
    * `(rn−1)·8 div n` from [[Analytics.groupedOrderedRank]]'s exact ranks
    * (ties pinned by event_id), so every bin holds n div 8 ± 1 rows by
    * construction and the CONTENT is the bin boundaries — exact min/max
    * cents per bin, the equi-depth complement of q182's equi-width bins.
    * Identical integer bin formula on both engines; no quantile
    * interpolation anywhere (bins come from ranks, not cut points). The
    * rank pass is the two-level ranged shape — no fact-sized sort under
    * the 5-value event_type window.
    */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame =
    rankedCentsByType(spark, dir)
      .withColumn("bin", expr("((rn - 1) * 8) div n"))
      .groupBy(col("event_type"), col("bin"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy("event_type", "bin")

  /** The ONE exact per-type cents ranking (groupedOrderedRank, ties pinned
    * by event_id, 32 range buckets) shared by q206 and q209.
    */
  private def rankedCentsByType(spark: SparkSession, dir: String): DataFrame =
    Analytics.groupedOrderedRank(
      Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
      groupCols = Seq("event_type"),
      sortCols = Seq(col("cents").asc, col("event_id").asc),
      rankCol = "rn", countCol = "n", buckets = 32)

  /** The q173/q174 change stream: every non-purchase event is an observed
    * "engagement state" for its user — the SCD2 fixture where no-op
    * suppression is load-bearing (8,019 changes → 6,066 versions at
    * sf0.01, probed: ~25% of changes restate the previous state).
    */
  private def engagementChanges(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))

  /** q173 — SCD Type 2 dimension build ([[graft.dml.Scd.scd2Build]]):
    * the user-engagement change stream versioned into half-open validity
    * intervals with no-op suppression, 1-based version ordinals, and an
    * `is_current` flag — the warehouse-classic history table the
    * reference's latest-wins views throw away. Two window passes over ONE
    * key shuffle; per-key state is a single look-behind row, so the build
    * streams at any scale. Ordering pinned by (ts, event_id) so
    * same-timestamp changes cannot reorder across engines.
    */
  def scdDimensionBuild(spark: SparkSession, dir: String): DataFrame =
    graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir),
      keyCol = "user_id", tsCol = "ts", attrCol = "state",
      tieBreak = Seq("event_id"))
      .orderBy("user_id", "version")

  /** q198 — INCREMENTAL SCD2 maintenance ([[graft.dml.Scd.scd2Apply]]):
    * the engagement dimension is built from changes BEFORE Jan 21 only,
    * then the final ten days fold in as a delta — close the moved keys'
    * current versions, append the new ones, renumber nothing — and the
    * result must equal [[scdDimensionBuild]]'s full rebuild EXACTLY, so
    * this row shares q173's oracle VERBATIM (the q175 fold ≡ rebuild
    * pattern applied to the versioned dimension; reference context: the
    * `_is_current` maintenance contract, reference medallion/
    * bronze.py:106-114). No-op suppression crossing the batch boundary is
    * load-bearing: delta rows restating a key's current state must open
    * no version, or the apply fragments history the rebuild never had.
    * At 100 TB the daily fold touches the delta and the current-version
    * slice, never the full change history.
    */
  def scdIncrementalApply(spark: SparkSession, dir: String): DataFrame = {
    val changes = engagementChanges(spark, dir)
    val cut = lit("2024-01-21 00:00:00").cast("timestamp_ntz")
    val base = graft.dml.Scd.scd2Build(
      changes.where(col("ts") < cut),
      keyCol = "user_id", tsCol = "ts", attrCol = "state",
      tieBreak = Seq("event_id"))
    graft.dml.Scd.scd2Apply(
      base, changes.where(col("ts") >= cut),
      keyCol = "user_id", tsCol = "ts", attrCol = "state",
      tieBreak = Seq("event_id"))
      .orderBy("user_id", "version")
  }

  /** q174 — point-in-time dimension join
    * ([[graft.dml.Scd.pointInTimeJoin]]): every purchase event picks the
    * engagement-state version that was valid AT PURCHASE TIME — the
    * attribution a latest-wins join silently gets wrong for every fact
    * that predates the key's newest version. Runs as the as-of
    * union+window pass (one key shuffle, no interval-overlap explosion),
    * with the half-open upper bound CHECKED against `effective_to`; the
    * oracle is DuckDB's native `ASOF LEFT JOIN` over the recomputed
    * version table, so both the interval tiling and the join semantics
    * are certified. Purchases before a user's first observed state keep
    * null attribution (left semantics).
    */
  def purchaseStateAttribution(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir), "user_id", "ts", "state", Seq("event_id"))
    val facts = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    graft.dml.Scd.pointInTimeJoin(facts, dim, "user_id", "ts", "state")
      .orderBy("event_id")
  }

  /** q175 — incremental materialized-aggregate refresh
    * ([[graft.dml.Mutations.foldAdditiveAggregate]]): the yearly
    * revenue-by-status gold aggregate over orders BEFORE 2001 is
    * persisted to parquet, and the 2001 delta folds into the READ-BACK
    * state — counts and decimal sums are commutative monoids, so
    * refresh ≡ full rebuild EXACTLY, certified because the oracle
    * recomputes from the whole fact table from scratch. The gold-tier
    * twin of the q127/q130/q142 index-refresh certifications: at 100 TB
    * the daily refresh touches the delta and an aggregate-sized state,
    * never the base facts. Both date predicates are raw timestamp
    * ranges → `PushedFilters`.
    */
  def incrementalGoldRefresh(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val cut = lit("2001-01-01").cast("timestamp_ntz")
    def partial(df: DataFrame): DataFrame = df.groupBy(
        year(col("o_orderdate")).cast("long").as("order_year"),
        col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("revenue"))
    val tmp = scratchDir("graft_q175_")
    partial(o.where(col("o_orderdate") < cut)).write.parquet(s"$tmp/state")
    graft.dml.Mutations.foldAdditiveAggregate(
        spark.read.parquet(s"$tmp/state"),
        partial(o.where(col("o_orderdate") >= cut)),
        keys = Seq("order_year", "o_orderstatus"),
        measureCols = Seq("n_orders", "revenue"))
      .select(col("order_year"), col("o_orderstatus"), col("n_orders"),
        col("revenue").cast("decimal(38,4)").cast("double").as("revenue"))
      .orderBy("order_year", "o_orderstatus")
  }

  /** q176 — exact-integer z-score outliers
    * ([[Analytics.exactOutliers]]): purchase/event values at k = 3 sample
    * standard deviations from their event-type mean, decided by the
    * cross-multiplied integer test `(n·x−Σx)²(n−1) > k²n(nΣx²−(Σx)²)` —
    * NO float in the verdict, so the outlier set is bit-identical across
    * engines and partitionings (the oracle recomputes the same integers
    * in HUGEINT). Values enter as cents (`round(value·100)` — exact for
    * 2-decimal money). Probed at sf0.01: 188 outliers across the five
    * event types, all 'high' sides populated (the value distribution is
    * right-tailed).
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame =
    Analytics.exactOutliers(
      Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("value_cents")),
      idCols = Seq("event_id"), keyCols = Seq("event_type"),
      valueCol = "value_cents", k = 3)
      .orderBy("event_id")

  /** q177 — first-order Markov transition matrix over per-user event
    * sequences: one lag window per user (ordered by (ts, event_id) —
    * pinned), then a (prev, next) count aggregate; transition
    * probabilities are exact BIGINT/BIGINT divisions taken once at the
    * end (the shared-denominator window reuses the prev_type
    * partitioning). The user-behavior profile behind funnel design —
    * q118's funnel certifies one chosen path; this certifies the whole
    * 5×5 transition structure. One key shuffle + one pair shuffle,
    * fact-sized nothing retained.
    */
  def eventTransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev_type"))
    Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_transition",
        col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(wPrev).cast("double"))
      .orderBy("prev_type", "next_type")
  }

  /** q178 — top-N + OTHER rollup: revenue by nation, top 5 named, the
    * tail collapsed into one 'OTHER' row — the report shape every BI
    * layer re-implements. The ranking window runs over the ALREADY
    * AGGREGATED nation frame (25 rows — the unpartitioned window is
    * bounded by the dimension's cardinality, never the facts), and the
    * fact-side work is one join-aggregate with both dims broadcast.
    * `group_rank` = min rank inside each output group keeps 'OTHER'
    * ordered last without a second scan.
    */
  def topNationsOtherRollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("rev"))
    rev
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("rev").desc, col("n_name"))).cast("long"))
      .groupBy(when(col("rk") <= 5, col("n_name")).otherwise(lit("OTHER"))
        .as("nation_group"))
      .agg(
        sum(col("n_orders")).as("n_orders"),
        sum(col("rev")).cast("decimal(38,4)").cast("double").as("revenue"),
        min(col("rk")).as("group_rank"))
      .orderBy("group_rank")
  }

  /** q179 — explicit GROUPING SETS: the asymmetric margin family
    * {(year, flag), (year), (flag)} — per-year-per-flag detail plus BOTH
    * one-dimensional margins and NO grand total, which neither ROLLUP
    * (q161: no (flag) margin) nor CUBE (q166: forced grand total) can
    * express. Same single-scan shape as its siblings: Spark expands the
    * three sets BELOW the partial aggregate, `grouping_id` disambiguates
    * margin NULLs from data NULLs.
    */
  def shippingGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_returnflag"), col("l_extendedprice"))
      .groupingSets(
        Seq(Seq(col("ship_year"), col("l_returnflag")),
          Seq(col("ship_year")), Seq(col("l_returnflag"))),
        col("ship_year"), col("l_returnflag"))
      .agg(
        grouping_id().cast("long").as("level"),
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy(col("level"), col("ship_year"), col("l_returnflag"))

  /** q180 — RFM customer segmentation: the marketing-warehouse classic.
    * One fact aggregation to per-customer (recency vs the fixed reference
    * day after the data's last order, frequency, exact-decimal monetary),
    * then quintile scores via `ntile(5)` and a pinned CASE ladder to named
    * segments. The ntile windows run over the AGGREGATED customer frame
    * (q178's convention: bounded by dimension cardinality; at 10⁹
    * customers the quintile boundaries would come from percentile
    * thresholds instead — the scores, not the mechanism, are the
    * contract). Ties pinned by o_custkey so quintile assignment is
    * deterministic on both engines.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit("2001-08-02").cast("date"),
          max(col("o_orderdate")).cast("date")).cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(12,2)")).as("_mon"))
    def quint(order: Seq[org.apache.spark.sql.Column]) =
      ntile(5).over(Window.orderBy(order: _*)).cast("long")
    base
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("_mon").cast("decimal(38,4)").cast("double").as("monetary"),
        quint(Seq(col("recency_days").desc, col("o_custkey").asc)).as("r_score"),
        quint(Seq(col("frequency").asc, col("o_custkey").asc)).as("f_score"),
        quint(Seq(col("_mon").asc, col("o_custkey").asc)).as("m_score"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          lit("champion"))
          .when(col("f_score") >= 4, lit("loyal"))
          .when(col("m_score") >= 4, lit("big_spender"))
          .when(col("r_score") <= 2 && col("f_score") >= 3, lit("at_risk"))
          .when(col("r_score") <= 2, lit("hibernating"))
          .otherwise(lit("regular")))
      .orderBy("o_custkey")
  }

  /** q181 — market-basket co-occurrence with lift: part pairs co-ordered
    * in the same order, support counts, and
    * `lift = N·sup(a,b) / (n(a)·n(b))` — association-rule mining's core
    * statistic, exact because every factor is a BIGINT count and the one
    * division happens in double at the end. The self-join is per-ORDER
    * (baskets hold ≤13 distinct parts — probed), so candidate work is
    * Σ basket² — basket-bounded, never corpus-quadratic; part frequencies
    * attach by broadcast (part dimension) and the order total by the
    * ScalarJoin constant-key broadcast. Support ≥ 2 keeps the certified
    * output at the interesting rules (3,445 pairs at sf0.01, max 5).
    */
  def marketBasketLift(spark: SparkSession, dir: String): DataFrame = {
    // four consumers (two pair sides, frequencies, order total) — eager
    // persist so the scan+distinct shuffle runs once, not four times
    val items = graft.core.Caching.eager(
      Tables(spark, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey")).distinct())
    val nOrders = items.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("_n_orders"))
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("_n"))
    val pairs = items.alias("a")
      .join(items.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
    graft.core.ScalarJoin.withScalars(
      pairs
        .join(broadcast(freq.select(col("l_partkey").as("part_a"), col("_n").as("_na"))),
          Seq("part_a"))
        .join(broadcast(freq.select(col("l_partkey").as("part_b"), col("_n").as("_nb"))),
          Seq("part_b")),
      nOrders)
      .select(col("part_a"), col("part_b"), col("support"),
        ((col("support") * col("_n_orders")).cast("double") /
          (col("_na") * col("_nb")).cast("double")).as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** q182 — fixed-width histogram with share-of-total: order totals in
    * 50k-wide bins — one aggregation (the bin id is a map-side floor
    * division, IEEE-identical across engines) plus the scalar total
    * broadcast for the share; the share itself is the exact
    * BIGINT/BIGINT double. The equi-width companion to q87's exact
    * dyadic percentiles (equi-depth).
    */
  def orderTotalHistogram(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables(spark, dir).orders
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bin_id"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_orders"))
    graft.core.ScalarJoin.withScalars(
      binned,
      Tables(spark, dir).orders.agg(count(lit(1)).as("_total")))
      .select(col("bin_id"),
        (col("bin_id") * 50000L).as("bin_lo"),
        ((col("bin_id") + 1) * 50000L).as("bin_hi"),
        col("n_orders"),
        (col("n_orders").cast("double") / col("_total").cast("double")).as("share"))
      .orderBy("bin_id")
  }

  /** q183 — robust (MAD) outlier detection: the median-based complement
    * to q176's mean/σ test — immune to the very outliers it hunts
    * (a single extreme value drags a mean but not a median). Per event
    * type: median of cents values, then the median absolute deviation,
    * then flag |x − med| > 3·MAD. Cross-engine exactness: cents are
    * integers, so every median/MAD is an exact multiple of 0.5 —
    * exactly representable doubles with bit-stable interpolation (the
    * q20 PERCENTILE_CONT parity), and the comparison has no rounding.
    * Two aggregation passes + a broadcast stats join; NOTE exact medians
    * sort per group — at true scale the swap-in is approx_percentile
    * with the same downstream shape, and q197 CERTIFIES that swap-in
    * (sketch rank-error bounds on both statistics plus a bounded
    * flag-set difference). Probed at sf0.01: 1,154 outliers,
    * all high-side (MAD is small on the tight body of a right-tailed
    * distribution, so the robust test flags far MORE than q176's 188 —
    * the two tests certify genuinely different verdicts on one column).
    *
    * `exactMedians` is the strategy flag: true (the contract row — the
    * DuckDB oracle computes exact medians) buffers each group's value
    * multiset, which is fine at fixture scale and ALLOWLISTED in
    * PlanAuditSpec's exact-percentile guard; false swaps both statistics
    * to `approx_percentile`'s bounded mergeable sketch — the 100 TB
    * deployment path, whose error envelope on this exact query shape
    * q197 certifies (rank bounds on both statistics + a bounded flag-set
    * symmetric difference).
    */
  def madOutliers(
      spark: SparkSession, dir: String, exactMedians: Boolean = true): DataFrame = {
    def med(c: org.apache.spark.sql.Column) =
      if (exactMedians) percentile(c, lit(0.5))
      else approx_percentile(c, lit(0.5), lit(10000)).cast("double")
    val v = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
    val medDf = v.groupBy(col("event_type"))
      .agg(med(col("value_cents")).as("_med"))
    // two consumers (MAD aggregate + the final join) — eager persist so
    // the events scan and the median join run once (the q181 discipline)
    val dev = graft.core.Caching.eager(
      v.join(broadcast(medDf), Seq("event_type"))
        .withColumn("_absdev", abs(col("value_cents") - col("_med"))))
    val mad = dev.groupBy(col("event_type"))
      .agg(med(col("_absdev")).as("_mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .where(col("_absdev") > lit(3.0) * col("_mad"))
      .select(col("event_id"), col("event_type"), col("value_cents"),
        when(col("value_cents").cast("double") > col("_med"), lit("high"))
          .otherwise(lit("low")).as("side"))
      .orderBy("event_id")
  }

  /** q197 — the approx-MAD swap-in CERTIFIED (q183's documented 100 TB
    * path, executed): MAD outlier detection with BOTH statistics from
    * `approx_percentile` sketches (mergeable, bounded buffers — no
    * per-group value-multiset materialization), certified against the
    * exact path three ways per event type:
    *   - `med_rank_ok` / `mad_rank_ok` — the q189 sketch contract: the
    *     approx median's RANK in the value (resp. absolute-deviation)
    *     distribution is within `n/accuracy` (+1 interpolation slack) of
    *     the n/2 target;
    *   - `flags_match_ok` — the flag-set SYMMETRIC DIFFERENCE between the
    *     approx and exact verdicts is ≤ max(5, 0.5%·n): only rows whose
    *     deviation falls in the narrow band between the two thresholds
    *     can flip, an empirical acceptance band for this corpus at
    *     accuracy 10⁴ (probed at sf0.01; integer cross-multiplied —
    *     `200·symdiff ≤ max(1000, n)` — no float in the verdict).
    * `n_flags_exact` hash-matches the DuckDB exact recomputation; the
    * booleans are Spark-verified, oracle-asserted TRUE (the q189
    * convention — DuckDB cannot replay Spark's sketch). The approx
    * chain inside this query IS the production shape: two sketch
    * aggregations + broadcast joins, no exact-median group sort.
    */
  def madOutliersApproxCert(spark: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val v = Tables(spark, dir).events
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val stats = v.groupBy(col("event_type"))
      .agg(
        percentile(col("cents"), lit(0.5)).as("_med_e"),
        approx_percentile(col("cents"), lit(0.5), lit(acc)).as("_med_a"))
    // two consumers (MAD sketches + the final verdict scan) — the q183
    // eager-persist discipline
    val dev = graft.core.Caching.eager(
      v.join(broadcast(stats), Seq("event_type"))
        .withColumn("_ade", abs(col("cents").cast("double") - col("_med_e")))
        .withColumn("_ada", abs(col("cents") - col("_med_a"))))
    val mads = dev.groupBy(col("event_type"))
      .agg(
        percentile(col("_ade"), lit(0.5)).as("_mad_e"),
        approx_percentile(col("_ada"), lit(0.5), lit(acc)).as("_mad_a"))
    val cert = dev.join(broadcast(mads), Seq("event_type"))
      .withColumn("_fe", col("_ade") > lit(3.0) * col("_mad_e"))
      .withColumn("_fa", col("_ada") > lit(3) * col("_mad_a"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("_fe"), 1L).otherwise(0L)).as("n_flags_exact"),
        sum(when(col("_fe") =!= col("_fa"), 1L).otherwise(0L)).as("_symdiff"),
        sum(when(col("cents") <= col("_med_a"), 1L).otherwise(0L)).as("_le_med"),
        sum(when(col("cents") < col("_med_a"), 1L).otherwise(0L)).as("_lt_med"),
        sum(when(col("_ada") <= col("_mad_a"), 1L).otherwise(0L)).as("_le_mad"),
        sum(when(col("_ada") < col("_mad_a"), 1L).otherwise(0L)).as("_lt_mad"))
    def rankOk(le: Column, lt: Column, n: Column): Column =
      (le.cast("double") >=
        lit(0.5) * n.cast("double") - n.cast("double") / acc - 1) &&
      (lt.cast("double") <=
        lit(0.5) * n.cast("double") + n.cast("double") / acc + 1)
    cert.select(
        col("event_type"),
        col("n_events"),
        col("n_flags_exact"),
        rankOk(col("_le_med"), col("_lt_med"), col("n_events")).as("med_rank_ok"),
        rankOk(col("_le_mad"), col("_lt_mad"), col("n_events")).as("mad_rank_ok"),
        (col("_symdiff") * 200 <= greatest(lit(1000L), col("n_events")))
          .as("flags_match_ok"))
      .orderBy("event_type")
  }

  /** q184 — ABC (Pareto) classification over part revenue: rank parts by
    * exact-decimal revenue, cumulative share thresholds at 80% / 95%
    * decided by EXACT decimal cross-multiplication (`cum·5 ≤ total·4`,
    * `cum·20 ≤ total·19` — no float share ever computed), class A/B/C per
    * part. The running total comes from [[Analytics.orderedPrefixSum]] —
    * the two-level ranged prefix sum, NOT a single-partition window, so
    * the classification scales to a 10⁸-part dimension; ties pinned by
    * part key.
    */
  def abcClassification(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir).lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("revenue"))
    val withCum = Analytics.orderedPrefixSum(
      rev, Seq(col("revenue").desc, col("l_partkey").asc),
      valueCol = "revenue", cumCol = "cum_revenue", buckets = 16)
    graft.core.ScalarJoin.withScalars(
      withCum,
      rev.agg(sum(col("revenue")).as("_total")))
      .select(col("l_partkey"),
        col("revenue").cast("decimal(38,4)").cast("double").as("revenue"),
        col("cum_revenue").cast("decimal(38,4)").cast("double").as("cum_revenue"),
        // decimal(18,2) keeps the ×20 cross-multiplication inside both
        // engines' exact-decimal width (DuckDB errors past width 38
        // instead of silently widening)
        when(col("cum_revenue").cast("decimal(18,2)") * 5 <=
            col("_total").cast("decimal(18,2)") * 4, lit("A"))
          .when(col("cum_revenue").cast("decimal(18,2)") * 20 <=
            col("_total").cast("decimal(18,2)") * 19, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
      .orderBy("l_partkey")
  }

  /** q185 — semi-structured property extraction + rollup: the events
    * table's JSON `props` column parsed in place (`get_json_object` —
    * codegen'd path traversal, no UDF) and aggregated per event type.
    * The q43 JSONB-boundary certification covers serialize/deserialize;
    * this covers the ANALYTICS-over-JSON path every event warehouse
    * needs: extraction is map-side, the aggregate is one shuffle, and at
    * 100 TB the right move is materializing the extracted column at
    * bronze (this query IS that projection).
    */
  def propsJsonRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")

  /** q186 — gaps-and-islands: each user's LONGEST consecutive-active-day
    * streak — the canonical `date − row_number()` island key (consecutive
    * days share a constant difference), grouped to streaks, then one
    * dedup-latest-style window picks the longest (ties → earliest start,
    * pinned). Complements q14, which reports the GAPS between activity;
    * this reports the islands. Two windows + one aggregate, all
    * partitioned by user — state is one row per (user, island).
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables(spark, dir).events
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val islands = days
      .withColumn("_grp", date_sub(col("day"),
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day")))))
      .groupBy(col("user_id"), col("_grp"))
      .agg(
        count(lit(1)).as("streak_days"),
        min(col("day")).as("streak_start"),
        max(col("day")).as("streak_end"))
    islands
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("streak_days").desc, col("streak_start").asc)))
      .where(col("_rn") === 1)
      .select(col("user_id"), col("streak_days"),
        col("streak_start"), col("streak_end"))
      .orderBy("user_id")
  }

  /** q187 — exact-sum Pearson correlation: `corr()` is a float fold and
    * therefore partition-order-dependent; this computes the five
    * sufficient statistics (Σx, Σy, Σx², Σxy, Σy²) as EXACT decimals
    * (quantity is integral, price enters as cents), assembles
    * `n·Σxy − Σx·Σy` and the two variance terms still in decimal(38,0),
    * and only then converts the three exact integers to double for the
    * final sqrt/divide — identical rounding on both engines (DuckDB via
    * the VARCHAR parse, the q166 convention), so the correlation is
    * bit-stable at ANY partitioning. One map-side-combined aggregate
    * per flag; the moment-sketch shape every distributed correlation
    * needs anyway.
    */
  def exactCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables(spark, dir).lineitem.select(
      col("l_returnflag"),
      col("l_quantity").cast("decimal(19,0)").as("x"),
      round(col("l_extendedprice") * 100, 0).cast("decimal(19,0)").as("y"))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast(d38).as("n"),
        sum(col("x")).cast(d38).as("sx"),
        sum(col("y")).cast(d38).as("sy"),
        sum(col("x") * col("x")).cast(d38).as("sxx"),
        sum(col("x") * col("y")).cast(d38).as("sxy"),
        sum(col("y") * col("y")).cast(d38).as("syy"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("n_items"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("pearson_r"))
      .orderBy("l_returnflag")
  }

  /** q189 — approx-percentile ERROR-BOUND certification: at 100 TB exact
    * percentiles (a per-group sort) give way to `approx_percentile`
    * (GK sketch, mergeable, one pass) — this query certifies that swap is
    * safe by computing BOTH and checking the sketch's rank-error contract
    * with an exact integer rank count. Quartiles only (p ∈ {.25,.5,.75}):
    * on integer cents every interpolated exact quartile is
    * `lo + {0,.25,.5,.75}·(hi−lo)` — dyadic fractions, exactly
    * representable, so the exact values hash bit-for-bit regardless of
    * either engine's interpolation formula. The `approx_ok` flag is
    * Spark-computed (rank of the sketch's answer within n/accuracy ± 1 of
    * the target rank) and the oracle emits literal TRUE — a sketch
    * violating its bound fails the row. Probed at sf0.01: all 15
    * (type × quartile) rows certify.
    */
  def approxPercentileCertification(spark: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val v = Tables(spark, dir).events
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val stats = v.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("_n"),
        percentile(col("cents"), array(lit(0.25), lit(0.5), lit(0.75))).as("_ex"),
        approx_percentile(col("cents"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)).as("_ap"))
      .select(col("event_type"), col("_n"),
        posexplode(arrays_zip(col("_ex"), col("_ap"))))
      .select(col("event_type"), col("_n"),
        (element_at(array(lit(0.25), lit(0.5), lit(0.75)), col("pos") + 1))
          .as("pctile"),
        col("col._ex").as("exact_value"),
        col("col._ap").as("_approx"))
    val ranks = stats.alias("s")
      .join(v.alias("f"), col("s.event_type") === col("f.event_type"))
      .groupBy(col("s.event_type").as("event_type"), col("s.pctile").as("pctile"),
        col("s._n").as("_n"), col("s.exact_value").as("exact_value"),
        col("s._approx").as("_approx"))
      .agg(
        sum(when(col("f.cents") <= col("s._approx"), 1L).otherwise(0L)).as("_le"),
        sum(when(col("f.cents") < col("s._approx"), 1L).otherwise(0L)).as("_lt"))
    ranks
      .select(col("event_type"), col("pctile"), col("exact_value"),
        // target rank p·n; sketch contract: within n/accuracy (+1 slack
        // for the floor/interpolation convention)
        ((col("_le").cast("double") >=
            col("pctile") * col("_n").cast("double") - col("_n").cast("double") / acc - 1) &&
          (col("_lt").cast("double") <=
            col("pctile") * col("_n").cast("double") + col("_n").cast("double") / acc + 1))
          .as("approx_ok"))
      .orderBy("event_type", "pctile")
  }

  /** q190 — STREAMING point-in-time enrichment
    * ([[graft.streaming.EventStream.pointInTimeEnrich]]): q174's
    * attribution run through the stream path — purchase events replayed
    * in three event-time-ordered drops, each micro-batch stream-static-
    * joined (stateless; dimension re-broadcast per batch) against the
    * batch-built SCD2 engagement dimension. The converged sink must equal
    * the batch point-in-time join EXACTLY, so q190 shares q174's oracle
    * verbatim — the certification that in-stream enrichment and the
    * batch backfill produce the same table, which is the property that
    * lets a pipeline mix both.
    */
  def streamingPitEnrichment(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val dim = graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir), "user_id", "ts", "state", Seq("event_id"))
    val purchases = Tables(spark, dir).events
      .where(col("event_type") === "purchase")
    val drops = timeOrderedEventDrops(spark, purchases, k = 3,
      sentinelTypes = Seq("purchase"))
    val tmp = runSequencedDrops(spark, drops, "graft_q190_") { (stream, t) =>
      EventStream.pointInTimeEnrich(
        stream.select(col("event_id"), col("user_id"), col("ts"), col("value")),
        dim)
        .writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .outputMode("append")
        .format("parquet")
        .option("path", s"$t/enriched")
        .start()
    }
    spark.read.parquet(s"$tmp/enriched")
      .where(col("user_id") =!= -1L)
      .orderBy("event_id")
  }

  /** q210 — STREAMING SCD2 maintenance ([[graft.dml.Scd.scd2Apply]]
    * through the stream path): the engagement change stream replayed in
    * three event-time-ordered drops; each micro-batch folds into a
    * PARQUET-PERSISTED dimension — `scd2Build` on the first batch,
    * `scd2Apply` on every later one, always reading the PREVIOUS
    * batch's durable state (the q142/q175 read-back discipline). The
    * converged dimension must equal the from-scratch batch rebuild
    * EXACTLY, so q210 shares q173's oracle VERBATIM — q198 certified
    * fold ≡ rebuild at ONE split point; this run certifies it through
    * the streaming machinery with per-batch durability. State writes are
    * VERSIONED BY BATCH ID (each batch reads the latest version strictly
    * below its own id and overwrites its own), so a foreachBatch retry
    * recomputes an identical version instead of double-applying —
    * exactly-once by idempotent replacement. Batch boundaries are
    * microsecond-range cuts, so same-timestamp changes never straddle
    * batches and the apply contract (no delta predates its key's current
    * version) holds by construction.
    */
  def streamingScdMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val changesEv = Tables(spark, dir).events
      .where(col("event_type") =!= "purchase")
    val drops = timeOrderedEventDrops(spark, changesEv, k = 3,
      sentinelTypes = Seq("signup"))
    val tmp = runSequencedDrops(spark, drops, "graft_q210_") { (stream, t) =>
      val stateDir = s"$t/dimstate"
      new java.io.File(stateDir).mkdirs()
      stream.writeStream
        .option("checkpointLocation", s"$t/checkpoint")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            val sp = batch.sparkSession
            val delta = batch
              .where(col("user_id") =!= -1L && col("event_type") =!= "purchase")
              .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type").as("state"))
            val prev = new java.io.File(stateDir).list().toSeq
              .filter(_.startsWith("v")).map(_.drop(1).toLong)
              .filter(_ < batchId).sorted.lastOption
            (prev, delta.isEmpty) match {
              case (None, true) => // no state yet and nothing to fold
              case (None, false) =>
                graft.dml.Scd
                  .scd2Build(delta, "user_id", "ts", "state", Seq("event_id"))
                  .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
              case (Some(p), _) =>
                graft.dml.Scd
                  .scd2Apply(sp.read.parquet(s"$stateDir/v$p"), delta,
                    "user_id", "ts", "state", Seq("event_id"))
                  .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
            }
        }
        .start()
    }
    val last = new java.io.File(s"$tmp/dimstate").list().toSeq
      .filter(_.startsWith("v")).map(_.drop(1).toLong).max
    spark.read.parquet(s"$tmp/dimstate/v$last")
      .orderBy("user_id", "version")
  }

  /** q211 — keyed interval-OVERLAP join
    * ([[graft.operators.RangeJoin.overlapJoin]]): the SCD2 engagement
    * intervals crossed with the 6-hour session windows per user — which
    * engagement states was each session conducted under, with the EXACT
    * µs overlap per (version, session) pair. Interval×interval is the
    * temporal-alignment operator point-in-interval (q174) and
    * point-in-time (q162) cannot express; the keyed form is an EQUI join
    * on user_id with the overlap test residual — one key shuffle, never
    * a nested loop, per-key cost |versions_k|·|sessions_k| (both
    * dimension-bounded per user). Sessions are half-open at
    * `last event + 1 µs`; open (current) versions overlap everything
    * after their start. All-integer overlap lengths.
    */
  def stateSessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir), "user_id", "ts", "state", Seq("event_id"))
      .select(col("user_id"), col("version"), col("state"),
        col("effective_from"), col("effective_to"))
    val sessions = sessionFrame(spark, dir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        timestamp_micros(unix_micros(col("session_end")) + 1)
          .cast("timestamp_ntz").as("_send_excl"))
    graft.operators.RangeJoin.overlapJoin(
      dim, sessions, keys = Seq("user_id"),
      lStart = "effective_from", lEnd = "effective_to",
      rStart = "session_start", rEnd = "_send_excl")
      .select(
        col("user_id"), col("version"), col("state"),
        col("session_start"), col("n_events"),
        (unix_micros(col("overlap_end")) - unix_micros(col("overlap_start")))
          .as("overlap_us"))
      .orderBy("user_id", "version", "session_start")
  }

  /** q212 — per-type feature scaling ([[Analytics.featureScale]]):
    * min-max and robust (median/IQR) normalization of event value cents,
    * the standard feature-preparation step before model training — with
    * the exact-statistics discipline making the scaled DOUBLES
    * hash-safe: integer min/max, dyadic-fraction quartiles on integer
    * cents (exact 0.25-multiples), so every output is one IEEE division
    * of two exact numbers, bit-identical across engines and
    * partitionings. Stats broadcast; scaling is map-side on the fact
    * scan. Degenerate groups yield null, never ±Inf/NaN.
    */
  def featureScaling(spark: SparkSession, dir: String): DataFrame =
    Analytics.featureScale(
      Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
      keyCols = Seq("event_type"), valueCol = "cents")
      .select(col("event_id"), col("event_type"), col("cents"),
        col("minmax_scaled"), col("robust_scaled"))
      .orderBy("event_id")

  /** q213 — dimension SNAPSHOT DIFF: the SCD2 engagement dimension
    * evaluated as-of Jan 2 and as-of Jan 20, full-outer-joined per key
    * and classified ADDED / CHANGED / UNCHANGED — "what moved between two
    * dates", the audit question version history exists to answer and a
    * latest-wins table cannot (REMOVED is structurally impossible for an
    * SCD2 build — versions close, keys never vanish — and the oracle
    * would expose one if the operator ever fabricated it). Each as-of
    * snapshot is a map-side interval filter over the SAME eager-persisted
    * dimension build (two consumers, one build — the q183 discipline);
    * the diff is one key join over user-dimension-sized frames. Jan 2 is
    * the discriminating first date: 23 ADDED / 94 CHANGED / 33 UNCHANGED
    * at sf0.01 (probed) — a later date has every user already present
    * and the ADDED branch untested.
    */
  def dimensionSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.core.Caching.eager(graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir), "user_id", "ts", "state", Seq("event_id")))
    def asOf(d: String) = dim
      .where(col("effective_from") <= lit(d).cast("timestamp_ntz") &&
        (col("effective_to").isNull ||
          col("effective_to") > lit(d).cast("timestamp_ntz")))
      .select(col("user_id"), col("state"))
    val before = asOf("2024-01-02 00:00:00").withColumnRenamed("state", "state_before")
    val after = asOf("2024-01-20 00:00:00").withColumnRenamed("state", "state_after")
    before.join(after, Seq("user_id"), "full_outer")
      .select(
        col("user_id"), col("state_before"), col("state_after"),
        when(col("state_before").isNull, "ADDED")
          .when(col("state_after").isNull, "REMOVED")
          .when(col("state_before") =!= col("state_after"), "CHANGED")
          .otherwise("UNCHANGED").as("op"))
      .orderBy("user_id")
  }

  /** q191 — time-in-state (dwell) report over the SCD2 dimension: for
    * every CLOSED version, dwell = `effective_to − effective_from` in
    * exact integer microseconds, rolled up per state — the duration
    * analytics an SCD2 history exists to answer (how long do users sit
    * in each engagement state?) and the reason latest-wins tables can't.
    * Average dwell is the terminal exact-BIGINT/BIGINT double division.
    * One aggregate over the (already key-shuffled) dimension build.
    */
  def stateDwellReport(spark: SparkSession, dir: String): DataFrame =
    graft.dml.Scd.scd2Build(
      engagementChanges(spark, dir), "user_id", "ts", "state", Seq("event_id"))
      .where(col("effective_to").isNotNull)
      .select(col("state"),
        (unix_micros(col("effective_to")) - unix_micros(col("effective_from")))
          .as("dwell_us"))
      .groupBy(col("state"))
      .agg(
        count(lit(1)).as("n_closed_versions"),
        sum(col("dwell_us")).as("total_dwell_us"))
      .withColumn("avg_dwell_us",
        col("total_dwell_us").cast("double") /
          col("n_closed_versions").cast("double"))
      .orderBy("state")

  /** q192 — pivot∘unpivot roundtrip: q11's wide status×priority revenue
    * frame melted back to long form with `unpivot` (Spark 3.4+'s native
    * melt — one Expand node, no join, no shuffle beyond the pivot's own)
    * and certified equal to the DIRECT long-form aggregate the oracle
    * computes — the identity that proves the wide↔long pair is lossless
    * (absent cells surface as nulls and are dropped, matching the direct
    * aggregate's key set). Pivot (q11) and unpivot are inverse report
    * transforms; a warehouse needs both directions.
    */
  def pivotRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val wide = Analytics.pivotTable(
      Tables(spark, dir).orders,
      rowKeys = Seq("o_orderstatus"),
      pivotCol = "o_orderpriority",
      pivotValues = priorities,
      agg = sum(col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(38,2)").cast("double"))
    wide.unpivot(
        Array(col("o_orderstatus")),
        priorities.map(col).toArray,
        "o_orderpriority", "total_price")
      .where(col("total_price").isNotNull)
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** q193 — ordered string aggregation (LISTAGG/string_agg): nations per
    * region as a comma-joined, name-ordered list. Spark has no ordered
    * aggregate, so the deterministic composition is
    * `array_join(array_sort(collect_list(...)))` — the sort happens
    * INSIDE each group's collected array (25 names max — dimension-
    * bounded), never as a global sort; collect_list's arrival
    * nondeterminism is neutralized before the join. Certified against
    * DuckDB's native `string_agg(x, ',' ORDER BY x)`.
    */
  def regionNationList(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")
  }

  /** q194 — exact DISCRETE quantiles (the value AT rank ⌈p·n⌉, never an
    * interpolated one — the convention regulators and SLA reports want,
    * complementing q20/q189's CONT family). Rank targets are computed in
    * INTEGER division (`⌈p·n⌉ = (p_num·n + p_den−1) div p_den`): the
    * naive `ceil(0.9 · n)` puts an inexact double 0.9 next to an exact
    * integer and ceils the wrong way whenever 9n/10 is whole — both
    * engines use the same integer formula, so the hazard never exists.
    * Ranks come from [[Analytics.groupedOrderedRank]] — the two-level
    * ranged pass (ties pinned by event_id), NOT a window partitioned by
    * the low-cardinality `event_type` alone: that shape sorts ~1/|types|
    * of the whole fact table in ONE task and is the single-partition-
    * window scale-killer this operator family exists to avoid
    * (PlanAuditSpec's sort-shape guard fails it). Rank-filter against
    * the three targets is map-side.
    */
  def discreteQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Analytics.groupedOrderedRank(
      Tables(spark, dir).events
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("value_cents")),
      groupCols = Seq("event_type"),
      sortCols = Seq(col("value_cents").asc, col("event_id").asc),
      rankCol = "rn", countCol = "n", buckets = 32)
    // no join at all: each row emits the labels whose integer rank target
    // it hits (`div`, not `/` — Column./ on longs is DOUBLE division) —
    // a 3-row rank-target join would plan as a nested loop (no equi-keys)
    val labels = array(
      when(expr("rn = (n + 1) div 2"), lit("p50")),
      when(expr("rn = (9 * n + 9) div 10"), lit("p90")),
      when(expr("rn = (99 * n + 99) div 100"), lit("p99")))
    ranked
      .withColumn("pctile", explode(filter(labels, x => x.isNotNull)))
      .select(col("event_type"), col("pctile"), col("value_cents"))
      .orderBy("event_type", "pctile")
  }

  /** q195 — deterministic MODE (most frequent value) per group: value
    * frequencies, then one dedup-latest-style window picking max count
    * with ties to the SMALLEST value — the tie rule that makes mode
    * well-defined cross-engine (DuckDB's native `mode()` leaves ties
    * unspecified, so the oracle pins the same count-desc/value-asc rank
    * explicitly). Two shuffles: (group, value) counts, then the
    * per-group pick.
    */
  def valueMode(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
      .groupBy(col("event_type"), col("value_cents"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("n_occurrences").desc, col("value_cents").asc)))
      .where(col("_rn") === 1)
      .select(col("event_type"), col("value_cents").as("mode_cents"),
        col("n_occurrences"))
      .orderBy("event_type")

  /** q196 — year-over-year growth: yearly revenue per order priority with
    * each year's delta and growth rate against the SAME priority one year
    * earlier — the report every finance warehouse runs. Computed with a
    * lag window over the (priority, year) AGGREGATE (25 × 7 rows —
    * dimension-bounded, the q178 convention; q13's lag certifies the
    * row-adjacent form, this certifies the calendar-offset form where a
    * MISSING year must yield null growth, not the previous row's):
    * `lag` over years only matches year−1 via an explicit guard. Growth
    * is the terminal exact-decimal-difference / exact-decimal division in
    * double.
    */
  def yearOverYearGrowth(spark: SparkSession, dir: String): DataFrame = {
    val yearly = Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("rev"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("order_year"))
    yearly
      .withColumn("_prev_year", lag(col("order_year"), 1).over(w))
      .withColumn("_prev_rev", lag(col("rev"), 1).over(w))
      .select(col("o_orderpriority"), col("order_year"),
        col("rev").cast("decimal(38,4)").cast("double").as("revenue"),
        // a gap year breaks the chain: growth only vs year−1 exactly
        when(col("_prev_year") === col("order_year") - 1,
          (col("rev") - col("_prev_rev")).cast("decimal(38,4)").cast("double"))
          .as("yoy_delta"),
        when(col("_prev_year") === col("order_year") - 1,
          (col("rev") - col("_prev_rev")).cast("decimal(38,4)").cast("double") /
            col("_prev_rev").cast("decimal(38,4)").cast("double"))
          .as("yoy_growth"))
      .orderBy("o_orderpriority", "order_year")
  }

  /** q188 — contingency table with per-cell χ² contributions: event type
    * × day-of-week observed counts, expected counts under independence
    * (`row_total·col_total/N` — exact BIGINTs, one double division), and
    * each cell's `(o−e)²/e`. Emitting PER-CELL contributions instead of
    * the χ² total is deliberate: every cell's arithmetic derives from
    * exact integers through identical IEEE ops (bit-stable), while a
    * 35-way float SUM would reintroduce the fold-order dependence this
    * query family exists to avoid — the caller sums the column knowing
    * its own tolerance. Margins attach by broadcast; one fact shuffle.
    */
  def eventDowContingency(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).events
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("observed")).as("_rt"))
    val colTot = cells.groupBy(col("dow")).agg(sum(col("observed")).as("_ct"))
    val expected = (col("_rt") * col("_ct")).cast("double") / col("_n").cast("double")
    graft.core.ScalarJoin.withScalars(
      cells
        .join(broadcast(rowTot), Seq("event_type"))
        .join(broadcast(colTot), Seq("dow")),
      Tables(spark, dir).events.agg(count(lit(1)).as("_n")))
      .select(col("event_type"), col("dow"), col("observed"),
        expected.as("expected"),
        // square by multiplication, not pow(): IEEE × is exactly
        // specified; libm pow is not guaranteed last-ulp-identical
        (((col("observed").cast("double") - expected) *
          (col("observed").cast("double") - expected)) / expected)
          .as("chi_contrib"))
      .orderBy("event_type", "dow")
  }

  /** q169 — running DISTINCT count over a window: per user, how many
    * distinct event types have been seen up to each event. Spark has no
    * native `count(DISTINCT) OVER`, so this is the composition that
    * scales: a first-occurrence flag (`row_number() == 1` over
    * (user, type) by arrival) followed by a running sum of flags over
    * (user) by arrival — two window passes, each a single ordered scan,
    * with per-key state O(1) instead of the per-row distinct SET a naive
    * implementation would carry. Arrival order is pinned by
    * (ts, event_id) so ties cannot reorder across engines; the oracle is
    * DuckDB's NATIVE `count(DISTINCT …) OVER` with the identical ROWS
    * frame — the equality certifies the flag+sum rewrite.
    */
  def runningDistinctTypes(spark: SparkSession, dir: String): DataFrame = {
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L).as("_new"))
      .select(col("event_id"), col("user_id"),
        sum(col("_new")).over(wRun).as("n_distinct_types"))
      .orderBy("event_id")
  }

  /** q170 — multiset (bag) set operators EXCEPT ALL / INTERSECT ALL:
    * q167's cohort algebra with multiplicity preserved — a customer with
    * 3 orders in 1995 and 1 in 2001 contributes 2 `surplus` rows and 1
    * `matched` row, the per-occurrence accounting DISTINCT set ops erase
    * (probed at sf0.01: 1,437 surplus vs 489 churned-distinct, 849
    * matched vs 685 retained-distinct — multiplicity discriminates on
    * both branches). Catalyst plans both as a count-pair aggregation on
    * the key + a generate of `min/max`-adjusted replication — one shuffle
    * per operand, never a row-by-row walk; the same pushed timestamp
    * ranges as q167 prune the scans.
    */
  def orderMultiplicitySetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    def keys(y: Int) = o.where(
        col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp_ntz"))
      .select("o_custkey")
    keys(1995).exceptAll(keys(2001)).withColumn("op", lit("surplus"))
      .unionByName(keys(1995).intersectAll(keys(2001)).withColumn("op", lit("matched")))
      .groupBy("op", "o_custkey").agg(count(lit(1)).as("multiplicity"))
      .orderBy("op", "o_custkey")
  }

  /** q143 — cluster-scoped SemDeDup ([[Similarity.semDedup]]): the
    * embedding space is partitioned by the q39 seed centroids (vectors
    * 1..4) and τ = 0.45-similar pairs are pruned WITHIN clusters only —
    * the paper's actual k-means-scoped shape, complementing q68's
    * LSH-bucketed transitive-closure variant (different scoping, different
    * keep rule, per-dup dropper attribution). Probed at sf0.01: 9 vectors
    * dropped across the 4 clusters; a cluster-blind pairwise prune at the
    * same τ drops 14 — the cluster scoping is load-bearing.
    */
  def semDedupClustered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.semDedup(emb, "vec_id", "embedding", seedCentroids(emb), tau = 0.45)
      .orderBy(col("vec_id"))
  }

  /** q144 — int8-quantized retrieval ([[Quantize.quantizedTopK]]): the
    * corpus is calibrated per-dimension (min/max), encoded to int8 codes,
    * and vec_id 0's top-15 neighbors are ranked by the EXACT integer dot
    * product of the codes, with the certified float cosine fetched for
    * the 15 winners only (k-row broadcast join back — the two-stage
    * memory-bound retriever). Integer coarse scores need no fold-order
    * pinning at all; the oracle recomputes calibration, encode, and
    * scoring from scratch.
    */
  def quantizedRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Quantize.quantizedTopK(emb, "vec_id", "embedding",
      query = queryVector(spark, dir),
      params = Quantize.collectParams(emb, "embedding"),
      k = 15, excludeId = Some(0L))
  }

  /** q151 — binary (1-bit) retrieval ([[Quantize.binaryTopK]]): sign-bit
    * signatures (64 dims → two 32-bit words), Hamming-distance coarse
    * top-50 (XOR + popcount — integer, order-free), exact cosine re-rank
    * to top-10. The bottom tier of the quantization ladder below q144's
    * int8: probed at sf0.01, the cascade's answer differs from BOTH the
    * exact top-10 (three ids pruned by the binary coarse stage) and the
    * Hamming-only top-10 — both stages load-bearing.
    */
  def binaryRetrieval(spark: SparkSession, dir: String): DataFrame =
    Quantize.binaryTopK(Tables(spark, dir).embeddings, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 10, coarseK = 50, excludeId = Some(0L))

  /** q145 — hybrid retrieval via reciprocal-rank fusion
    * ([[Retrieval.rrfFuse]]): the BM25 top-20 for {dup, merge} and the
    * exact cosine top-20 of vec_id 0 fused at rrfK = 60 into a top-10.
    * Probed at sf0.01: the fused list contains docs surfaced by only ONE
    * retriever on each side plus both-retriever docs ranked first — both
    * sublists and the 1/(60+rank) weighting are load-bearing. Rank-based
    * fusion (not score-based) is the point: BM25 scores and cosines are
    * not commensurable.
    */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val lex = Retrieval.bm25TopK(t.documents, "doc_id", "text",
      terms = Seq("dup", "merge"), k = 20)
      .select(col("doc_id"), col("bm25_rank").as("rank"))
    val sem = Similarity.bruteForceTopK(t.embeddings, "vec_id", "embedding",
      query = queryVector(spark, dir), k = 20, excludeId = Some(0L))
      .select(col("vec_id").as("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cosine_sim").desc, col("vec_id"))).cast("long").as("rank"))
    Retrieval.rrfFuse(Seq(lex, sem), "doc_id", k = 10)
  }

  /** q146 — quantization calibration drift ([[Quantize.calibrationDrift]]):
    * the int8 calibration from the standing corpus (vec_id % 4 ≠ 1) folded
    * with the delta day (% 4 = 1) — min/max are mergeable, so the refresh
    * never re-scans the base — and every dimension reports whether its
    * range moved. drifted = 1 means that dimension's existing codes are
    * invalid and need a (map-only, full-corpus) re-encode; the report is
    * what lets a daily loop SKIP that touch when nothing drifted. The
    * oracle computes old from the base slice and new from the full corpus
    * from scratch, certifying merge ≡ rebuild. Raw min/max only — exact by
    * construction; at sf0.01 both drift classes are populated.
    */
  def calibrationDriftReport(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val base = emb.where(col("vec_id") % 4 =!= 1)
    val delta = emb.where(col("vec_id") % 4 === 1)
    Quantize.calibrationDrift(
      Quantize.quantizationParams(base, "embedding"), delta, "embedding")
      .orderBy("dim")
  }

  /** q148 — IVF-SQ8 retrieval ([[Similarity.ivfSq8TopK]]): the q39 seed
    * centroids prune to the 2 probed lists, the probed vectors score by
    * the exact integer dot of their int8 codes (full-corpus calibration,
    * as q144) — the FAISS composite shape from certified parts. Probed at
    * sf0.01: the top-15 differs from BOTH q144 (no IVF pruning there —
    * ids from unprobed lists appear in q144's answer) and q39 (float
    * cosine there), so both composed stages are load-bearing.
    */
  def ivfSq8Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    Similarity.ivfSq8TopK(emb, "vec_id", "embedding",
      centroids = seedCentroids(emb),
      params = Quantize.collectParams(emb, "embedding"),
      query = queryVector(spark, dir), k = 15, nProbe = 2,
      excludeId = Some(0L))
  }

  /** q149 — chunk-embedding mean-pooling ([[Similarity.meanPool]]):
    * vec_id div 10 groups the corpus into 10-chunk documents; each group's
    * pooled vector is the fixed-point per-dimension mean (the certified
    * k-means arithmetic), emitted in long format so EVERY pooled component
    * is hash-certified directly. 3,200 rows at sf0.01 (50 groups × 64
    * dims); the oracle recomputes the scaled-decimal mean from scratch.
    */
  def pooledChunkEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Similarity.meanPool(
      Tables(spark, dir).embeddings
        .select(expr("vec_id div 10").as("group_id"), col("embedding")),
      "group_id", "embedding")
      .orderBy(col("group_id"), col("dim"))

  /** q150 — retrieval over POOLED document vectors: the chunk→doc RAG
    * query path. q149's fixed-point pooled components reassemble into
    * per-group vectors (a bounded d-struct collect per group) and the
    * exact cosine top-10 for vec_id 0's query runs over the POOLED space
    * — 10× fewer vectors than the chunk space, which is the pooling
    * trade a deployment makes. Group 0 (which contains the query chunk)
    * is excluded; the oracle recomputes pooling, reassembly, and the
    * ranking from scratch. Certifies the pooled vectors' downstream use,
    * not just their values (q149).
    */
  def pooledRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val pooled = Similarity.meanPool(
      emb.select(expr("vec_id div 10").as("group_id"), col("embedding")),
      "group_id", "embedding")
    val docs = pooled
      .groupBy("group_id")
      .agg(sort_array(collect_list(struct(col("dim"), col("pooled")))).as("ds"))
      .select(col("group_id"), expr("transform(ds, s -> s.pooled)").as("vec"))
    Similarity.bruteForceTopK(docs, "group_id", "vec",
      query = queryVector(spark, dir), k = 10, excludeId = Some(0L))
  }

  /** q118 — quality-aware canonical selection over the q52 clusters
    * ([[Dedup.canonicalByQuality]]): per near-dup cluster, the
    * highest-quality member (ties by lowest id) — the keep-the-best-copy
    * alternative to q53's min-id canonical.
    */
  def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      numHashes = 16, numBands = 4, shingleN = 1, minJaccard = 0.5)
    Dedup.canonicalByQuality(d, "doc_id", "text", Dedup.duplicateClusters(pairs))
      .orderBy(col("cluster_id"))
  }

  /** q224 — exact price OCTILES per return flag
    * ([[Analytics.exactPercentilesByValue]] certified directly on a fact
    * table): the 1/8..7/8 order statistics of lineitem price cents,
    * computed with NO per-group value multiset — the fact frame collapses
    * to the (flag, price) value dimension map-side-combined, the
    * cumulative pass runs over that aggregate, and each octile is a
    * rank-picked conditional min inside one final aggregate. Eighths are
    * the exactness choice: interpolation fractions are dyadic, so every
    * interpolated value is an exact double on both engines (the
    * q87/q189 discipline) with no formula-association ulp to pin. This is
    * the 100 TB replacement for `percentile()`'s O(group) buffer that
    * PlanAuditSpec's exact-percentile guard enforces — certified here on
    * the biggest fact table rather than only on doc-length profiles.
    */
  def priceOctiles(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables(spark, dir).lineitem
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"))
    Analytics.exactPercentilesByValue(
        v, Seq("l_returnflag"), "price_cents",
        (1 to 7).map(i => (s"p$i" + "8", i / 8.0)))
      .select(
        col("l_returnflag"), col("n_rows"),
        col("min_value").as("min_cents"), col("max_value").as("max_cents"),
        col("p18"), col("p28"), col("p38"), col("p48"),
        col("p58"), col("p68"), col("p78"))
      .orderBy("l_returnflag")
  }

  /** q225 — dyadic-kernel EWMA over daily order revenue: the 8-day
    * half-life-1 exponential smoother `s_t = Σ_{k=0..7} rev_{t−k}·2^{7−k}
    * / 255·…` — kept EXACT by keeping everything integral: revenue is
    * exact cents, the kernel weights are the integers `2^(7−k)`
    * (bit-shifts, no float pow — pow is the documented cross-engine
    * hazard), the weighted sum runs in decimal(38,0) (a 10⁸-order day's
    * cents × 128 clears BIGINT), and the one terminal division by the
    * kernel mass 255 goes through the q187 VARCHAR convention so both
    * engines divide the same exact numerator. Missing calendar days
    * contribute ZERO (the join is on day VALUES, calendar-honest) but the
    * kernel mass stays 255 — a quiet day genuinely decays the average.
    * Days with fewer than 8 predecessors emit null (the q222 partial-
    * window discipline). Scale shape: one fact aggregate to the day
    * dimension, then an 8-wide day-dimension self-join — never a
    * fact-sized window.
    */
  def ewmaDailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = graft.core.Caching.eager(
      Tables(spark, dir).orders
        .groupBy(datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long").as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_cents")))
    // the 8-tap kernel: offset k carries integer weight 2^(7−k) — a
    // map-side literal explode (8 structs per day row), NOT a cross join:
    // the same replication with no join operator at all (a broadcast cross
    // join would plan BroadcastNestedLoopJoin and trip the plan audit)
    val taps = array((0 until 8).map(k =>
      struct(lit(k.toLong).as("k"), lit(1L << (7 - k)).as("wt"))): _*)
    val smoothed = daily.select(col("day").as("t"))
      .select(col("t"), explode(taps).as("_tap"))
      .select(col("t"), col("_tap.k").as("k"), col("_tap.wt").as("wt"))
      .join(daily, col("t") - col("k") === col("day"), "left")
      .groupBy(col("t").as("day"))
      .agg(
        sum(when(col("rev_cents").isNotNull, 1L).otherwise(0L)).as("_nd"),
        sum(coalesce(col("rev_cents"), lit(0L)).cast(d38) * col("wt").cast(d38))
          .as("_wsum"))
    // full-kernel days only: t − 7 must not predate the first revenue day
    graft.core.ScalarJoin.withScalars(
        smoothed, daily.agg(min(col("day")).as("_min_day")))
      .select(
        col("day"),
        when(col("day") - 7 >= col("_min_day"),
          col("_wsum").cast("string").cast("double") / 255.0)
          .as("ewma_cents"),
        when(col("day") - 7 >= col("_min_day"), col("_nd")).as("n_active_days"))
      .orderBy("day")
  }

  /** q237 — CORRELATED scalar subqueries through `spark.sql`, certifying
    * Catalyst DECORRELATION: orders whose value exceeds 1.5× their
    * customer's average, with the correlated `count(*)` and `sum` both in
    * the SELECT list AND cross-multiplied in the WHERE
    * (`cents·2·n > 3·total` — no float average). The SQL-text surface
    * matters: a user migrating warehouse SQL writes exactly this shape,
    * and Catalyst must rewrite the per-row subqueries into ONE aggregate
    * + key joins — never a per-row re-execution (the plan lands in
    * PlanAuditSpec's cartesian/nested-loop sweep like every query). The
    * oracle runs the same text modulo the view name.
    */
  def correlatedSubqueryScreen(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders
      .selectExpr("o_orderkey", "o_custkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .createOrReplaceTempView("q237_orders")
    spark.sql(
      """SELECT o.o_orderkey, o.cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM q237_orders i
        |   WHERE i.o_custkey = o.o_custkey) AS n_cust_orders,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM q237_orders i
        |   WHERE i.o_custkey = o.o_custkey) AS cust_total_cents
        |FROM q237_orders o
        |WHERE o.cents * 2 * (SELECT count(*) FROM q237_orders i
        |                     WHERE i.o_custkey = o.o_custkey)
        |    > 3 * (SELECT sum(cents) FROM q237_orders i
        |           WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** q236 — the `Dataset.observe` / `Observation` METRICS API certified:
    * pipeline-health counters (row count, exact cents sum, min/max)
    * collected as a side effect of a pass the job runs ANYWAY — the
    * monitoring path a production pipeline attaches to every stage
    * instead of paying a second scan per metric. The observed values ride
    * the `CollectMetrics` node inside the pass's own plan; the oracle
    * recomputes the same aggregates declaratively, so the green row
    * certifies the monitoring API reports EXACTLY what a dedicated
    * aggregation would (a silently-wrong health metric is worse than
    * none). The action is one count over the observed frame — metrics
    * cost nothing extra at any scale.
    */
  def observedMetricsReport(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val obs = org.apache.spark.sql.Observation("q236")
    val observed = o.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(col("cents")).as("total_cents"),
      min(col("cents")).as("min_cents"),
      max(col("cents")).as("max_cents"))
    observed.count() // the host pass; obs.get blocks until it completes
    val m = obs.get
    import spark.implicits._
    Seq((
      m("n_rows").asInstanceOf[Long],
      m("total_cents").asInstanceOf[Long],
      m("min_cents").asInstanceOf[Long],
      m("max_cents").asInstanceOf[Long]))
      .toDF("n_rows", "total_cents", "min_cents", "max_cents")
  }

  /** q234 — NEW vs RETURNING daily purchasers
    * ([[graft.operators.Behavior.newVsReturning]]): per day, the distinct
    * purchasing users split by whether this is their first-ever purchase
    * day — the acquisition curve. Scoped to PURCHASE events because they
    * are sparse per user and spread first-times across the month (probed:
    * 56/41/24/11/… new per day — a real decay curve); the full event
    * stream has every user active daily, which would park the n_new
    * branch at zero after day one (the q222 discriminating-series
    * lesson). Two aggregates + a map-side classification; exact counts.
    */
  def newVsReturningPurchasers(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Behavior.newVsReturning(
        Tables(spark, dir).events.where(col("event_type") === "purchase"),
        "user_id", "ts")
      .orderBy("day")

  /** q235 — sequential event DEBOUNCE
    * ([[graft.operators.Behavior.debounce]], 6-hour gap): per user, keep
    * an event iff it is ≥ 6 h after the last KEPT one — the
    * alerting-rate-limit semantics whose suppression window RE-ANCHORS at
    * each kept event, an inherently sequential per-key fold no window
    * frame expresses (the batch twin of the stream's
    * flatMapGroupsWithState shape, certified here through the typed
    * `flatMapGroups` path — the one operator class where the per-key
    * iterator IS the idiomatic engine form). The oracle cannot fold, so
    * it walks PRECOMPUTED successor pointers (`nxt(e) = first event ≥
    * e.t + gap`, a non-recursive argmin) with a pure pointer-chasing
    * recursion — aggregates stay out of the recursive term. Probed: 6,444
    * of 10,000 events kept at sf0.01, the same ~64% at the 1M-event
    * scale — the suppression branch is real everywhere.
    */
  def debouncedEvents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Behavior.debounce(
        Tables(spark, dir).events, "user_id", "ts", "event_id",
        gapMicros = 6L * 3600 * 1000000)
      .select(col("event_id"), col("user_id"), col("ts"))
      .orderBy("event_id")

  /** q233 — QUANTILE NORMALIZATION of per-segment order revenue onto the
    * global revenue distribution ([[Analytics.quantileNormalize]]): each
    * order's revenue is replaced by the global order statistic at its
    * segment-relative rank position — the distribution-alignment
    * transform (sources/batches disagreeing on shape, not just scale)
    * that q212's affine scalings cannot express. All-integer: two-level
    * ranks, a rounded integer-division target position, and the global
    * inverse CDF probed through the chunked interval join — no global
    * sort, no float rank arithmetic, BIGINT cents in and out.
    */
  def quantileNormalizedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val v = t.orders
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    Analytics.quantileNormalize(v, Seq("c_mktsegment"), "cents",
        tieCols = Seq(col("o_orderkey").asc), normCol = "norm_cents")
      .select(col("o_orderkey"), col("c_mktsegment"), col("cents"),
        col("norm_cents"))
      .orderBy("o_orderkey")
  }

  /** q230 — REFERENTIAL-INTEGRITY orphan audit: per foreign-key relation,
    * how many child rows (and distinct child keys) reference a missing
    * parent — the load-order smoke test every warehouse runs mid-backfill.
    * Two relations make both branches real: `lineitem → orders(partial)`
    * audits against a simulated partially-loaded parent (orders with
    * `o_orderkey % 3 = 0` not yet landed — the mid-backfill state this
    * audit exists for), and `orders → customer` audits the real, complete
    * relation (zero orphans — the negative branch is the fixture's actual
    * integrity). Shape: one left-anti join per relation (parent side
    * ids-only), exact counts, two-row report.
    */
  def orphanAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    def audit(rel: String, child: DataFrame, key: String, parent: DataFrame,
        pkey: String): DataFrame = {
      val orphans = child.select(col(key))
        .join(parent.select(col(pkey).as(key)), Seq(key), "left_anti")
      graft.core.ScalarJoin.withScalars(
        orphans.agg(
          count(lit(1)).as("n_orphan_rows"),
          countDistinct(col(key)).as("n_orphan_keys")),
        child.agg(count(lit(1)).as("n_child_rows")))
        .select(lit(rel).as("relation"), col("n_child_rows"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    }
    audit("lineitem->orders_partial", t.lineitem, "l_orderkey",
        t.orders.where(col("o_orderkey") % 3 =!= 0), "o_orderkey")
      .unionByName(audit("orders->customer", t.orders, "o_custkey",
        t.customer, "c_custkey"))
      .orderBy("relation")
  }

  /** q231 — FISCAL-calendar rollup: revenue by fiscal year/quarter with
    * the fiscal year starting February 1 (the off-by-one-month calendar
    * arithmetic every finance deck needs and every naive `quarter()`
    * gets wrong): `fq = ((month − 2 + 12) mod 12) div 3 + 1`, and the
    * fiscal year is labeled by the year of its opening February. All
    * integer date arithmetic; revenue is the exact cents sum. One
    * aggregation, dimension-sized output.
    */
  def fiscalQuarterRollup(spark: SparkSession, dir: String): DataFrame = {
    val m = month(col("o_orderdate"))
    Tables(spark, dir).orders
      .select(
        when(m >= 2, year(col("o_orderdate")))
          .otherwise(year(col("o_orderdate")) - 1).cast("long").as("fiscal_year"),
        expr("CAST(((month(o_orderdate) - 2 + 12) % 12) div 3 + 1 AS BIGINT)")
          .as("fiscal_quarter"),
        round(col("o_totalprice") * 100, 0).cast("long").as("_cents"))
      .groupBy(col("fiscal_year"), col("fiscal_quarter"))
      .agg(count(lit(1)).as("n_orders"), sum(col("_cents")).as("revenue_cents"))
      .orderBy("fiscal_year", "fiscal_quarter")
  }

  /** q232 — order-total RECONCILIATION report: every order's header total
    * vs the total recomputed from its lines
    * (`Σ round(extendedprice·(1+tax)·(1−discount)·100)`), bucketed by
    * relative error in EXACT integer cross-multiplications
    * (`|Δ|·100 ≤ total` = within 1%, `|Δ|·10 ≤ total` = within 10% — no
    * float ratio). The per-line product is one fixed-association IEEE
    * multiply chain, identical on both engines, rounded to cents once.
    *
    * ROW-GATED buckets (the q213 cut-date / q222 margin discipline): the
    * synthetic fixture's header totals reconcile with nothing (probed:
    * 0 exact at every scale), so a deterministic subset of headers —
    * `o_orderkey % 7 = 0` with lines present — is RESTATED to the
    * recomputed line total, simulating the warehouse slice that DOES
    * reconcile. Every bucket is then an output ROW that exists only if
    * its branch fired: exact (the seeded seventh), within_1pct /
    * within_10pct / beyond_10pct (the fixture's honest drift), and
    * header_without_lines (TPC-H orders without lineitems). Probed
    * non-vacuous at sf0.01 AND the 20k-order scale before shipping.
    */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val recomputed = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) + col("l_tax")) *
        (lit(1.0) - col("l_discount")) * 100, 0).cast("long")).as("_rec"))
    val o = t.orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("_hdr"))
    o.join(recomputed, col("o_orderkey") === col("l_orderkey"), "full")
      .withColumn("_tot",
        when(col("o_orderkey") % 7 === 0 && col("_rec").isNotNull, col("_rec"))
          .otherwise(col("_hdr")))
      .withColumn("verdict",
        when(col("_tot").isNull, "lines_without_header")
          .when(col("_rec").isNull, "header_without_lines")
          .when(col("_rec") === col("_tot"), "exact")
          .when(abs(col("_rec") - col("_tot")) * 100 <= col("_tot"), "within_1pct")
          .when(abs(col("_rec") - col("_tot")) * 10 <= col("_tot"), "within_10pct")
          .otherwise("beyond_10pct"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("verdict")
  }

  /** q229 — NEAREST as-of join ([[graft.operators.AsOfJoin
    * .asofJoinNearest]]): each purchase matched to the closest (in time)
    * sampled error event of the same user, whichever side it falls on —
    * completing the as-of family (q173/q190 backward, q204 forward). The
    * `event_id % 5` error sampling makes every branch real at every
    * probed scale (sf0.01: 229 no-error users' purchases null, 508
    * backward-only, 506 forward-only, 360 backward-wins, 378
    * forward-wins; all five populated at the 20k-user fixture too). ONE
    * union + ONE per-key sort serves both direction frames — never two
    * joins. Distance ties resolve backward; the distance is exact
    * integer µs.
    */
  def nearestErrorContext(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev
      .where(col("event_type") === "error" && col("event_id") % 5 === 0)
      .select(col("user_id"), col("ts").as("_e_ts"), col("event_id").as("_e_id"))
    graft.operators.AsOfJoin.asofJoinNearest(
      purchases, errors,
      keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "_e_ts",
      rightPayload = Seq("_e_id", "_e_ts"), rightOrdCols = Seq("_e_id"))
      .select(
        col("event_id"), col("user_id"), col("ts"),
        col("asof._e_id").as("nearest_error_id"),
        col("asof._e_ts").as("nearest_error_ts"),
        col("asof_side"),
        abs(unix_micros(col("asof._e_ts")) - unix_micros(col("ts")))
          .as("us_apart"))
      .orderBy("event_id")
  }

  /** q226 — exact edit-distance-≤1 name dedup
    * ([[Dedup.editDistanceOneDuplicates]], FastSS deletion-neighborhood
    * blocking): every customer-name pair within one character edit — the
    * typo-join over short keys that completes the dedup family (MinHash =
    * token-set near-dups, SimHash = fingerprint near-dups, this = exact
    * edit-radius pairs; shingle methods cannot see a one-digit change).
    * Names are CANONICALIZED first — one distinct-name aggregate keeping
    * the minimum custkey as representative — because exact duplicates
    * belong to exact dedup, not a typo join: the scaled fixture carries
    * each name ~10×, and feeding copies through would square every
    * bucket into millions of distance-0 pairs that certify nothing new
    * (probed: 26.9M pairs raw vs 319k canonical at the 20k-name scale).
    * The synthetic `Customer#NNNNNNNNN` names make the positive branch
    * real at every scale (ids differing in one digit are distance-1
    * pairs). The oracle reruns the SAME canonicalization +
    * deletion-neighborhood candidates + levenshtein verification in SQL —
    * both engines' `levenshtein` is the standard unit-cost distance.
    */
  def editDistanceNameDedup(spark: SparkSession, dir: String): DataFrame = {
    val canon = Tables(spark, dir).customer
      .groupBy(col("c_name"))
      .agg(min(col("c_custkey")).as("rep_key"))
    Dedup.editDistanceOneDuplicates(canon, "rep_key", "c_name")
      .orderBy("id_a", "id_b")
  }

  /** q227 — WINSORIZED revenue statistics per market segment: order
    * totals clipped to the segment's dyadic [p⅛, p⅞] band
    * ([[Analytics.exactPercentilesByValue]] again — no value multiset),
    * then the winsorized mean — the outlier-robust mean a BI deck
    * actually reports. Exactness: the dyadic octiles of integer cents are
    * exact multiples of 1/8, so clipping happens on 8×-scaled INTEGERS
    * (`clip8 = least(greatest(8x, 8·lo), 8·hi)` — 8·lo/8·hi are
    * exactly-integral doubles, the long casts lossless, all BIGINT), the
    * clipped sum is exact, and the mean is ONE double division of two
    * exact integers (÷ 8n). n_clipped_low/high are exact counts — the
    * "how much did we clip" audit columns.
    */
  def winsorizedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // two consumers (the percentile stats pass + the clipping pass) — the
    // q181/q183 eager-persist discipline, so the orders⋈customer join and
    // the fact scan run once
    val v = graft.core.Caching.eager(t.orders
      .join(t.customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents")))
    val stats = Analytics.exactPercentilesByValue(
      v, Seq("c_mktsegment"), "cents", Seq("_plo" -> 0.125, "_phi" -> 0.875))
    v.join(broadcast(stats.select(
        col("c_mktsegment"),
        // dyadic octiles of integers are exact eighths: 8·p is an exact
        // integer-valued double, so the long cast is lossless
        (col("_plo") * 8).cast("long").as("_lo8"),
        (col("_phi") * 8).cast("long").as("_hi8"))),
      Seq("c_mktsegment"))
      .select(col("c_mktsegment"),
        least(greatest(col("cents") * 8, col("_lo8")), col("_hi8")).as("_c8"),
        (col("cents") * 8 < col("_lo8")).as("_low"),
        (col("cents") * 8 > col("_hi8")).as("_high"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("_low"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("_high"), 1L).otherwise(0L)).as("n_clipped_high"),
        (sum(col("_c8")).cast("double") /
          (count(lit(1)) * 8).cast("double")).as("winsorized_mean_cents"))
      .orderBy("c_mktsegment")
  }

  /** q228 — COLUMN-LEVEL drift between two order snapshots (q213's
    * entity-level diff refined to the column grain): among orders present
    * in both the day-≤cut and full snapshots, how many changed each
    * column — the schema-drift audit a warehouse reconciliation runs
    * before blaming a pipeline. One equi-join on the key, the per-column
    * null-safe inequality flags summed map-side, then the wide row
    * unpivots through a literal stack (column names are code literals —
    * the injection-safe stack discipline). Counts are exact BIGINTs.
    */
  def columnDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
    val cut = to_date(lit("1996-01-02"))
    val before = o.where(col("o_orderdate") <= cut)
      .select(col("o_orderkey"), col("o_orderstatus").as("_s1"),
        col("o_totalprice").as("_p1"), col("o_orderpriority").as("_pr1"),
        col("o_custkey").as("_c1"))
    // the "after" snapshot restates every order with refreshed attributes:
    // status recomputed from the shipped fraction is simulated by the full
    // table — persisting keys carry the full table's (possibly equal)
    // values, so each column's drift count discriminates independently
    val after = o
      .select(col("o_orderkey"), col("o_orderstatus").as("_s2"),
        (col("o_totalprice") + when(col("o_orderkey") % 7 === 0, 1.0)
          .otherwise(0.0)).as("_p2"),
        col("o_orderpriority").as("_pr2"),
        when(col("o_orderkey") % 5 === 0, lit(0L))
          .otherwise(col("o_custkey")).as("_c2"))
    before.join(after, Seq("o_orderkey"))
      .agg(
        count(lit(1)).as("_n"),
        sum(when(!(col("_s1") <=> col("_s2")), 1L).otherwise(0L)).as("_ds"),
        sum(when(!(col("_p1") <=> col("_p2")), 1L).otherwise(0L)).as("_dp"),
        sum(when(!(col("_pr1") <=> col("_pr2")), 1L).otherwise(0L)).as("_dpr"),
        sum(when(!(col("_c1") <=> col("_c2")), 1L).otherwise(0L)).as("_dc"))
      .select(expr(
        """stack(4,
          |  'o_orderstatus',   _ds,
          |  'o_totalprice',    _dp,
          |  'o_orderpriority', _dpr,
          |  'o_custkey',       _dc) AS (column_name, n_changed)""".stripMargin),
        col("_n").as("n_common"))
      .orderBy("column_name")
  }

  /** q238 — cross-document repeated-substring dedup
    * ([[Dedup.sharedSpans]]): every maximal token span of ≥ 8 tokens
    * shared verbatim between two documents — the substring-granular pass
    * production training-data pipelines run ALONGSIDE document-level dedup
    * (document near-dup scores the wrapper; this finds the wrapped span:
    * quoted boilerplate, licence blocks, copied paragraphs). Anchored
    * 8-gram Sha60 index → skew-capped hash self-join → diagonal
    * gaps-and-islands; the oracle reruns the identical gram hash, cap,
    * and island recursion in SQL. Probed non-vacuous before shipping
    * (the q171 rule): 25 spans (11–93 tokens) at sf0.01, 256 at sf0.1.
    */
  def sharedSpanReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup.sharedSpans(d, "doc_id", "text", minSpanTokens = 8, maxBucketSize = 50)
      .orderBy("id_a", "id_b", "pos_a", "pos_b")
  }

  /** q239 — the reference's FULL subquery surface through `spark.sql`
    * (sql/query_builder.py:330-358 emits EXISTS / NOT EXISTS / IN /
    * NOT IN; q237 certified the scalar shape): one customer screen whose
    * WHERE carries all four, so Catalyst must rewrite every one into a
    * semi/anti join — never a per-row subquery loop. The NOT IN subquery
    * guards `o_custkey IS NOT NULL` explicitly: the classic null trap
    * (one NULL makes standard NOT IN return nothing) is also what forces
    * a NULL-AWARE anti join at plan time, and the scale-honest form a
    * warehouse user should write is the guarded one. Every branch is
    * load-bearing at every scale (probed rejected-counts at sf0.001/
    * 0.01/0.1: EXISTS 2/49/542, NOT EXISTS ~half, IN 18/203/1986,
    * NOT IN most; 1/18/149 rows survive all four). PlanAuditSpec pins
    * the plan: ≥2 LeftSemi + ≥2 LeftAnti joins, zero subquery
    * re-execution nodes, and the global cartesian/nested-loop sweep
    * covers it like every query.
    */
  def subqueryRewriteScreen(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("q239_customer")
    t.orders.createOrReplaceTempView("q239_orders")
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment
        |FROM q239_customer c
        |WHERE EXISTS (SELECT 1 FROM q239_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'O')
        |  AND NOT EXISTS (SELECT 1 FROM q239_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT'
        |                    AND o.o_orderstatus = 'F')
        |  AND c.c_custkey IN (SELECT o_custkey FROM q239_orders
        |                      WHERE o_orderpriority = '1-URGENT')
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM q239_orders
        |                          WHERE o_orderstatus = 'P'
        |                            AND o_custkey IS NOT NULL)
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** q240 — n-gram LM quality scoring ([[Curation.bigramSurprisal]]):
    * per-document bigram surprisal against corpus counts, the
    * perplexity-style filter the curation tier lacked. Exact integer
    * count algebra end to end — the per-gram ⌊log₂⌋ is
    * `length(bin(den div num)) − 1`, no libm transcendental (ln is not
    * bit-stable across engines; the BM25 rational-idf precedent) — and
    * ONE double division per doc at output. Both verdict branches fire
    * at every scale (probed: 260 high / 240 typical at sf0.01, 2400 /
    * 2600 at sf0.1).
    */
  def bigramSurprisalReport(spark: SparkSession, dir: String): DataFrame =
    Curation.bigramSurprisal(Tables(spark, dir).documents, "doc_id", "text")
      .orderBy("doc_id")

  /** q241 — per-document shared-span COVERAGE
    * ([[Dedup.sharedSpanCoverage]]): the duplication fraction a curation
    * gate thresholds after q238 finds the spans — token intervals from
    * both pair sides, merged by the sort + running-max island pass, exact
    * integer union length, ONE double division per doc. No banded verdict
    * column: the fixture's duplication is full-document copies (probed:
    * 24 full / 23 over-90% / 453 untouched at sf0.01, 251/226/4523 at
    * sf0.1 — a 50% band would never separate them), so the continuous
    * fraction IS the load-bearing output and thresholds stay with the
    * caller.
    */
  def sharedSpanCoverageReport(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanCoverage(Tables(spark, dir).documents, "doc_id", "text",
        minSpanTokens = 8, maxBucketSize = 50)
      .orderBy("doc_id")

  /** q242 — substring-granular dedup REWRITE ([[Dedup.removeSharedSpans]]):
    * the removal step after q238's detection — every token a span marks as
    * duplicated from a lower-id document is stripped, the minimum-id copy
    * survives intact, and the rewritten corpus keeps each document's
    * unique remainder (empty text when nothing is unique, the q99
    * convention). The oracle re-runs the span CTEs, expands covered
    * positions, anti-joins, and reassembles with an ordered string_agg.
    */
  def spanRemovalRewrite(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeSharedSpans(Tables(spark, dir).documents, "doc_id", "text",
        minSpanTokens = 8, maxBucketSize = 50)
      .orderBy("doc_id")

  /** q243 — INCREMENTAL shared spans ([[Dedup.sharedSpansIncremental]]):
    * delta documents (doc_id % 10 = 0, the established delta convention)
    * probed against the standing corpus's positioned gram index — the
    * daily-ingest form of q238 where the corpus never self-joins and the
    * boilerplate cap is applied on the corpus side before any join.
    * Probed non-vacuous: 6 spans (25–93 tokens) at sf0.01, 47 at sf0.1.
    */
  def incrementalSharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    Dedup.sharedSpansIncremental(
        d.where(col("doc_id") % 10 =!= 0), d.where(col("doc_id") % 10 === 0),
        "doc_id", "text", minSpanTokens = 8, maxBucketSize = 50)
      .orderBy("delta_id", "corpus_id", "delta_pos", "corpus_pos")
  }

  /** q244 — REAL audio decode ([[graft.multimodal.Multimodal
    * .decodeWav]]): WAV PCM clips synthesized from the closed-form
    * [[graft.multimodal.Multimodal.patternSample]] sawtooth, encoded AND
    * re-parsed through `javax.sound.sampled` (a header/codec bug cannot
    * cancel out), waveform statistics as exact integers (Σs, Σ|s|, Σs²,
    * min/max) plus the decoded sample rate — which the oracle names as
    * the literal 16000, so a mis-parsed header fails the row. RMS is the
    * one terminal float op (÷ then √, both IEEE-correctly-rounded). The
    * audio sibling of q199/q223: blobs never shuffle, one decoder batch
    * per partition, PCM is lossless so every statistic is exact.
    */
  def audioDecodeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.wavMediaFromDocuments(Tables(spark, dir).documents)
    Multimodal.audioWaveformStats(media)
      .withColumn("rms",
        sqrt(col("sum_sq").cast("double") / col("n_samples").cast("double")))
      .orderBy("media_id")
  }

  /** q253 — SPAN ADMISSION through the stream
    * ([[graft.streaming.DocStream.spanAdmissionVerdicts]]): every arriving
    * document gets a substring-duplication verdict against the standing
    * corpus gram index at arrival time — the admission-gate composition of
    * the q249 probe (document-level MinHash admission is q97/q121; this
    * catches the boilerplate-wrapped verbatim copies that gate misses).
    * The index is built + cached ONCE outside the stream and released
    * after; per-batch work is delta-sized (StreamingLeakSpec's invariant
    * family). Verdict = integer cross-multiply at 50% covered — both
    * branches fire at every scale (probed: 8/42, 6/44, 46/454, 460/4540
    * rejected/admitted at sf0.001/0.01/0.1/sf1). The oracle computes
    * coverage as COUNT(DISTINCT covered position) — independent of the
    * Spark side's running-max interval union.
    */
  def streamingSpanAdmission(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val arriving = d.where(col("doc_id") % 10 === 0)
    val gramIndex = Dedup.spanGramIndex(corpus, "doc_id", "text",
      minSpanTokens = 8, maxBucketSize = 50)
    val tmp =
      try runDroppedStream(spark, arriving, files = 4, perTrigger = 2,
        "graft_q253_") { (stream, t) =>
        stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            if (!batch.isEmpty)
              graft.streaming.DocStream
                .spanAdmissionVerdicts(batch.toDF(), gramIndex,
                  maxCoveredPct = 50)
                .write.mode("append").parquet(s"$t/verdicts")
            ()
          }
          .option("checkpointLocation", s"$t/checkpoint")
          .start()
      } finally gramIndex.unpersist()
    spark.read.parquet(s"$tmp/verdicts").orderBy("doc_id")
  }

  /** q254 — span-index FOLD ≡ REBUILD through the oracle
    * ([[graft.operators.Dedup.refreshSpanIndex]]): the corpus is folded
    * into the span-index state in two generations (docs `% 10 ∈ 1–4`,
    * then `% 10 ∈ 5–9`), each generation eagerly materialized and the
    * superseded one released — the q121 refresh-loop discipline — and the
    * folded index is probed with the `% 10 = 0` delta. Because the fold
    * carries the TRUE bucket-count sidecar, the folded index equals the
    * from-scratch rebuild over the whole corpus EXACTLY, so this query
    * shares q243's oracle VERBATIM: the incremental maintenance path and
    * the one-shot path are pinned to one answer (SpanIndexSpec pins the
    * index-level set equality as well).
    */
  def spanIndexFold(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val partA = d.where(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 4)
    val partB = d.where(col("doc_id") % 10 >= 5)
    val delta = d.where(col("doc_id") % 10 === 0)
    val st0 = Dedup.spanIndexState(partA, "doc_id", "text",
      minSpanTokens = 8, maxBucketSize = 50)
    val st1 = Dedup.refreshSpanIndex(st0, partB, "doc_id", "text")
    // materialize the new generation, then release the old (the fold
    // keeps at most two generations live — the refresh-loop envelope)
    val idx = graft.core.Caching.eager(st1.index)
    st0.index.unpersist()
    st0.counts.unpersist()
    Dedup.sharedSpansIncrementalFromIndex(idx, delta, "doc_id", "text")
      .orderBy("delta_id", "corpus_id", "delta_pos", "corpus_pos")
  }

  /** q257 — the COMPOSED streaming span lifecycle: admission AND fold in
    * ONE stream. q253 certifies the probe against a static index and q254
    * certifies the fold in batch; this query runs the real crawler loop —
    * per micro-batch: [[graft.streaming.DocStream.spanAdmissionVerdicts]]
    * against the CURRENT standing [[graft.operators.Dedup.SpanIndexState]],
    * then the ADMITTED docs folded in via [[graft.operators.Dedup
    * .refreshSpanIndex]] with the eager-new / release-old generation swap
    * (the q121 `refreshEmbeddingIndex` discipline applied to the span
    * family). Sequenced drops make micro-batch membership part of the
    * fixture: batch 1 is the `% 10 = 5` crawl, batch 2 the `% 10 = 0`
    * crawl PLUS a verbatim re-fetch of every batch-1 document under its
    * negated id — re-fetches of batch-1 ADMITTED docs are rejected ONLY
    * IF the fold genuinely happened (probed: 49/43/461/4610 of batch-2's
    * verdicts flip on the fold at sf0.001/0.01/0.1/1; refetch-rejected
    * 50/50/500/5000 — every branch live at every scale). The oracle recomputes
    * the two-stage cascade from scratch (stage-2 index REBUILT over
    * corpus ∪ admitted₁ — fold ≡ rebuild is q254's certified invariant),
    * with coverage as COUNT(DISTINCT position) and the verdict as the
    * integer cross-multiply. StreamingLeakSpec pins the persisted set to
    * EXACTLY the two-generation envelope (old ∪ new during the swap, the
    * new generation alone after every batch).
    */
  def streamingSpanLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocStream
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)
    val batch1 = d.where(col("doc_id") % 10 === 5).select("doc_id", "text")
    val refetch = batch1.withColumn("doc_id", -col("doc_id"))
    val batch2 = d.where(col("doc_id") % 10 === 0).select("doc_id", "text")
      .unionByName(refetch)
    // the standing state — index + TRUE bucket-count sidecar — is built
    // ONCE before the stream; each micro-batch probes it and folds the
    // batch's admitted docs into the next generation
    val state = new java.util.concurrent.atomic.AtomicReference(
      Dedup.spanIndexState(corpus, "doc_id", "text",
        minSpanTokens = 8, maxBucketSize = 50))
    // foreachBatch is at-least-once: a retried micro-batch must not re-fold
    // the same admitted docs (refreshSpanIndex's ids-are-new contract) —
    // the verdict write is already idempotent (overwrite-by-batchId); this
    // makes the FOLD idempotent too by skipping batch ids already applied
    val lastFolded = new java.util.concurrent.atomic.AtomicLong(-1L)
    val tmp =
      try runSequencedDrops(spark, Seq(batch1, batch2), "graft_q257_") { (stream, t) =>
        stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            if (!batch.isEmpty && batchId > lastFolded.get()) {
              val cur = state.get()
              val out = s"$t/verdicts/batch=$batchId"
              DocStream.spanAdmissionVerdicts(batch.toDF(), cur.index,
                  maxCoveredPct = 50)
                .write.mode("overwrite").parquet(out)
              // fold THE BATCH'S admitted docs (ids fresh by fixture
              // construction — refreshSpanIndex's ids-are-new contract),
              // reading the verdicts back from the sink rather than
              // re-probing: the probe runs once per batch
              val admitted = batch.toDF().join(
                spark.read.parquet(out).where(col("admitted"))
                  .select("doc_id"),
                Seq("doc_id"), "left_semi")
              val next =
                Dedup.refreshSpanIndex(cur, admitted, "doc_id", "text")
              // eager-new, THEN release-old: at most two generations of
              // (index, counts) are ever live — the swap envelope
              val folded = Dedup.SpanIndexState(
                graft.core.Caching.eager(next.index),
                graft.core.Caching.eager(next.counts))
              cur.index.unpersist(); cur.counts.unpersist()
              state.set(folded)
              lastFolded.set(batchId)
            }
            ()
          }
          .option("checkpointLocation", s"$t/checkpoint")
          .start()
      } finally {
        val fin = state.get()
        fin.index.unpersist(); fin.counts.unpersist()
      }
    spark.read.parquet(s"$tmp/verdicts").drop("batch").orderBy("doc_id")
  }

  /** q259 — IMAGE perceptual near-dup ([[graft.multimodal.Multimodal
    * .imageDHash]] + [[graft.operators.Dedup.fingerprintNearDuplicates]]):
    * re-encoded (PNG→BMP) and 2×-resized copies of one image hash
    * IDENTICALLY through the real decode → pool → difference-hash path,
    * perturbed near-copies land within the Hamming threshold, planted
    * "cousins" are guaranteed candidates whose distances concentrate past
    * the threshold (probed 7–25; a small sf1 tail lands at ≤ 8 and is
    * reported as a pair by BOTH engines — candidacy, not rejection, is
    * the invariant), and non-image
    * blobs yield null hashes that are silently excluded — every branch
    * live at every scale (probed pairs/d0/mid/cand-rejected:
    * 24/21/3/8 at sf0.001, 294/243/51/124 at sf0.1, 2971/2355/616/1628 at
    * sf1). The oracle replays pixel→cells→bits→bands→cap→Hamming from the
    * id arithmetic alone (the closed-form cell pattern), INCLUDING the
    * 4×16-bit banding and the bucket cap, so recall past the pigeonhole
    * guarantee is certified as the documented LSH contract rather than
    * idealized away. Blobs never shuffle: only the 8-byte hash enters the
    * join.
    */
  def imagePerceptualDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.dhashMediaFromDocuments(Tables(spark, dir).documents)
    Dedup.fingerprintNearDuplicates(
        Multimodal.imageDHashes(media), "media_id", "dhash",
        maxHamming = 8, maxBucketSize = 200)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** q261 — INCREMENTAL image near-dup: the crawl-time form of q259
    * ([[graft.operators.Dedup.fingerprintIncrementalDuplicates]]). The
    * standing corpus is the ORIGINAL images; the delta is every
    * re-crawled copy (the negative-id variants: BMP re-encode, 2×
    * resize, perturbation, cousin, plus the non-image garbage rows whose
    * null hashes must be excluded). Delta blocks probe the capped
    * (quarter → corpus fingerprint) index — the corpus never self-joins,
    * the [[graft.operators.Dedup.simhashIncrementalDuplicates]] shape on
    * the pixel tier. Output (delta_id, corpus_id, hamming) certifies
    * which arriving images duplicate standing content; both verdict
    * classes and the candidate-rejected tail live at every scale
    * (probed pairs/d0/mid/rejected: 12/11/1/2 at sf0.001, 147/130/17/33
    * at sf0.1, 1485/1280/205/465 at sf1; 12/147/1485 of 14/171/1734
    * arriving images verdict as duplicates).
    */
  def imageIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.dhashMediaFromDocuments(Tables(spark, dir).documents)
    val corpus = Multimodal.imageDHashes(media.where(col("media_id") >= 0))
    val delta = Multimodal.imageDHashes(media.where(col("media_id") < 0))
    Dedup.fingerprintIncrementalDuplicates(corpus, delta, "media_id", "dhash",
        maxHamming = 8, maxBucketSize = 200)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("delta_id", "corpus_id")
  }

  /** q262 — STREAMING image admission: per micro-batch, every arriving
    * image blob is decoded, dHashed, and probed against the STANDING
    * capped corpus index ([[graft.operators.Dedup
    * .fingerprintCorpusIndex]], built + cached ONCE outside the stream —
    * the q253 discipline on the pixel tier) for an at-arrival duplicate
    * verdict: (media_id, decodable, is_duplicate). Undecodable blobs
    * arrive too and must survive as (false, null) rows; per-batch work
    * is delta-sized and each blob is decoded EXACTLY ONCE per trigger:
    * the batch's hash frame is persisted for its two consumers (the index
    * probe and the verdict join) and released before the batch returns —
    * the only per-trigger persist, pinned to that window by
    * StreamingLeakSpec. Verdicts write overwrite-by-batchId (idempotent
    * under foreachBatch's at-least-once retries).
    */
  /** The streaming-admission body shared by the image (q262) and audio
    * (q267) tiers — ONE copy of the discipline StreamingLeakSpec pins:
    * standing capped corpus index built+cached by the caller OUTSIDE the
    * stream; per micro-batch the arriving blobs are fingerprinted ONCE
    * (the frame feeds both the index probe and the verdict join, so it is
    * persisted — delta-sized, materialized eagerly; a lazy persist would
    * let both consumers inline the cold decode — and released before the
    * batch returns), and verdicts write overwrite-by-batchId (foreachBatch
    * is at-least-once; a retried batch appending a second copy would
    * double rows).
    */
  private def runFingerprintAdmission(
      spark: SparkSession,
      index: DataFrame,
      arriving: DataFrame,
      fingerprints: DataFrame => DataFrame,
      fpCol: String,
      prefix: String): DataFrame = {
    val tmp =
      try runDroppedStream(spark, arriving, files = 4, perTrigger = 2,
        prefix) { (stream, t) =>
        stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            if (!batch.isEmpty) {
              val fps = fingerprints(batch.toDF())
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                fps.count()
                val dups = Dedup
                  .fingerprintsAgainstIndex(index, fps, "media_id", fpCol,
                    maxHamming = 8)
                  .select(col("delta_id").as("media_id"))
                  .distinct()
                  .withColumn("_dup", lit(true))
                fps.join(dups, Seq("media_id"), "left")
                  .select(
                    col("media_id"),
                    col(fpCol).isNotNull.as("decodable"),
                    when(col(fpCol).isNull, lit(null).cast("boolean"))
                      .otherwise(coalesce(col("_dup"), lit(false)))
                      .as("is_duplicate"))
                  .write.mode("overwrite").parquet(s"$t/verdicts/batch=$batchId")
              } finally fps.unpersist()
            }
            ()
          }
          .option("checkpointLocation", s"$t/checkpoint")
          .start()
      } finally index.unpersist()
    spark.read.parquet(s"$tmp/verdicts").drop("batch").orderBy("media_id")
  }

  def streamingImageAdmission(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.dhashMediaFromDocuments(Tables(spark, dir).documents)
    val index = graft.core.Caching.eager(
      Dedup.fingerprintCorpusIndex(
        Multimodal.imageDHashes(media.where(col("media_id") >= 0)),
        "media_id", "dhash", maxBucketSize = 200))
    runFingerprintAdmission(spark, index, media.where(col("media_id") < 0),
      Multimodal.imageDHashes, "dhash", "graft_q262_")
  }

  /** q263 — fingerprint bucket-cap DIAGNOSTICS
    * ([[graft.operators.Dedup.fingerprintCapReport]]): the q251 "no
    * silent caps" rule applied to the image-fingerprint tier. The
    * quarter-block banding saturates as corpora grow (16-bit band values
    * → at billions of images every value is over any workable cap and
    * capped recall collapses silently), so the drop mass must be
    * observable. Certified at cap 4, where the fixture makes BOTH
    * branches deterministic at every scale: an even-d family puts 5
    * members (original + 4 decodable copies) into its shared band-0/2
    * values (over the cap), an odd-d family 4 (at the cap, kept).
    */
  def imageFingerprintCapScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.dhashMediaFromDocuments(Tables(spark, dir).documents)
    Dedup.fingerprintCapReport(
      Multimodal.imageDHashes(media), "media_id", "dhash", maxBucketSize = 4)
  }

  /** q264 — AUDIO perceptual near-dup ([[graft.multimodal.Multimodal
    * .audioFingerprint]] + [[graft.operators.Dedup
    * .fingerprintNearDuplicates]]): gain-scaled re-encodes of one clip
    * fingerprint IDENTICALLY through the real WAV decode → window-pool →
    * difference-bit path (uniform gain cancels in the cross-multiplied
    * comparisons — the volume-normalized-duplicate contract), near-copies
    * land within the Hamming threshold, far cousins are guaranteed
    * candidates whose distances concentrate past it, and non-WAV blobs
    * fingerprint to null and are excluded. Probed
    * pairs/d0/mid/cand-rejected: 25/12/13/7 at sf0.001, 310/147/163/313
    * at sf0.1 — every branch live at every scale. The oracle replays
    * waveform→windows→bits→bands→cap→Hamming from the closed-form
    * |sawtooth| (slope keyed by id), i.e. it independently verifies the
    * WINDOW POOLING arithmetic over actual sample values, not just an
    * id-derived pattern. Text, image, and audio near-dup now share one
    * banded join implementation.
    */
  def audioPerceptualDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.audioFpMediaFromDocuments(Tables(spark, dir).documents)
    Dedup.fingerprintNearDuplicates(
        Multimodal.audioFingerprints(media), "media_id", "afp",
        maxHamming = 8, maxBucketSize = 200)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** q268 — 128-bit IMAGE perceptual near-dup ([[graft.multimodal
    * .Multimodal.imageDHash128]] + [[graft.operators.Dedup
    * .fingerprint128NearDuplicates]]): the band-saturation mitigation's
    * image-tier producer certified end to end — real decode → 9×16 grid
    * pool → 128 difference bits in two longs → 4×32-bit banding. The
    * q259 construction doubled vertically: BMP re-encodes and 2× nearest
    * resizes hash bit-identically, perturbed near-copies stay within the
    * threshold with bands 0/2 clean (guaranteed candidates), cousins'
    * distances concentrate past it, non-image blobs yield null halves
    * and are excluded. Probed+certified pairs/d0/mid/cand-rejected:
    * 24/21/3/8 at sf0.001+0.01, 264/198/66/88 at sf0.1,
    * 2653/2040/613/877 at sf1. The oracle replays pixel → cells → bits →
    * 32-bit bands → cap → Hamming from the id arithmetic, including the
    * banding and cap.
    */
  def imagePerceptualDedup128(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.dhash128MediaFromDocuments(Tables(spark, dir).documents)
    Dedup.fingerprint128NearDuplicates(
        Multimodal.imageDHashes128(media), "media_id", "dhash_hi", "dhash_lo",
        maxHamming = 8, maxBucketSize = 200)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** q267 — STREAMING audio admission: the q262 discipline on the audio
    * tier. The standing capped corpus index ([[graft.operators.Dedup
    * .fingerprintCorpusIndex]] over the ORIGINAL clips' gain-invariant
    * fingerprints) is built + cached ONCE outside the stream; per
    * micro-batch, every arriving audio blob is decoded ONCE (the batch's
    * fingerprint frame is persisted for its two consumers — index probe
    * and verdict join — and released before the batch returns), probed,
    * and written as an at-arrival verdict (media_id, decodable,
    * is_duplicate), overwrite-by-batchId (idempotent under
    * at-least-once retries). Undecodable blobs (the odd-family text
    * rows) survive as (false, null); gain re-encodes and near-copies
    * verdict true, far cousins past the threshold false — probed
    * true/false/null: 12/2/2 at sf0.001+sf0.01, 144/24/24 at sf0.1,
    * 1454/240/242 at sf1: every branch live at every scale.
    */
  def streamingAudioAdmission(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.audioFpMediaFromDocuments(Tables(spark, dir).documents)
    val index = graft.core.Caching.eager(
      Dedup.fingerprintCorpusIndex(
        Multimodal.audioFingerprints(media.where(col("media_id") >= 0)),
        "media_id", "afp", maxBucketSize = 200))
    runFingerprintAdmission(spark, index, media.where(col("media_id") < 0),
      Multimodal.audioFingerprints, "afp", "graft_q267_")
  }

  /** q266 — VIDEO perceptual near-dup ([[graft.multimodal.Multimodal
    * .videoClipSignature]] + [[graft.operators.Dedup
    * .fingerprintNearDuplicates]]): per-frame dHash pooled to a
    * clip-level 64-bit signature by strict per-bit MAJORITY over the
    * clip's frames, then joined through the same fingerprint family as
    * text/image/audio. The certification only this repo can run:
    * the SAME closed-form content planted as BOTH a raw BI_RGB AVI
    * (q252 encoder) and MJPEG-in-AVI (q260 encoder) MUST collide at
    * Hamming 0 — two entirely different codec paths (exact DIB pixel
    * pooling vs per-frame javax.imageio JPEG decode) converging on one
    * identity (probed cc pairs 4/4, 45/45, 457/457 families at
    * sf0.001/0.1/1, plus a second raw↔MJPEG cousin pair per even
    * family). The near-copy variant also carries ONE heavily-altered
    * minority frame the majority vote must discard (first-frame or
    * OR-pooling would push it past the threshold — the vote is
    * load-bearing, certified by the oracle's replay of it). Non-AVI
    * blobs signature to null and are excluded. Probed
    * pairs/d0/mid/cand-rejected: 14/6/8/18 at sf0.001+sf0.01,
    * 171/69/102/369 at sf0.1, 1917/701/1216/13925 at sf1 — every branch
    * live at every scale. The oracle replays levels → per-frame bits →
    * majority → bands → cap → Hamming from the closed form; blobs never
    * shuffle (only the 8-byte signature enters the join).
    */
  def videoClipDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.clipMediaFromDocuments(Tables(spark, dir).documents)
    Dedup.fingerprintNearDuplicates(
        Multimodal.videoClipSignatures(media), "media_id", "vsig",
        maxHamming = 8, maxBucketSize = 200)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** q265 — fingerprint band-SATURATION mitigation
    * ([[graft.operators.Dedup.fingerprint128NearDuplicates]] vs
    * [[graft.operators.Dedup.fingerprintNearDuplicates]]): the fix for
    * the failure mode q263 only diagnoses. On a fixture whose shared
    * 16-bit band values deterministically exceed the cap, the 4×16-bit
    * path's capped recall COLLAPSES (every saturated family's planted
    * pair is lost) while the 4×32-bit path over a 128-bit fingerprint
    * finds every pair — same pigeonhole guarantee (≤ 3 dirty bits ⇒ a
    * clean band), band values 2^16× more selective, so birthday
    * saturation is deferred from ~millions to ~trillions of rows.
    *
    * Fixture (closed form over `doc_id`, every value replayed by the
    * oracle): each family `d` (`d % 53 = 11`) is 8 pseudo-random 16-bit
    * quarters via the xor-multiply mix (the [[graft.multimodal
    * .Multimodal.dhashLevel]] form, probed collision-free) — quarters
    * 0–3 are the 64-bit fingerprint, 4–7 the extension word. The twin
    * `-(8d+1)` flips ONE bit (quarter 1 / 128-bit band 0); flood members
    * `-(8d+r)` share quarters 0/2/3 with the original but carry ≥8-bit
    * q1 codeword offsets and distinct extension words. Even-`d` families
    * get 5 flood members — every 64-bit band the pair shares holds 7 >
    * cap 4 and the pair is LOST; odd-`d` control families get 2 — their
    * shared buckets hold 4 ≤ cap and the pair survives both paths. The
    * 128-bit path recovers every pair through its clean, 2-member
    * extension-word bands. Probed found64/found128 (= odd/all families):
    * 5/10 at sf0.001+sf0.01, 48/95 at sf0.1, 472/944 at sf1;
    * candidate-rejected 25/25 at sf0.01 — every branch live at every
    * scale. The oracle replays mix → quarters → bands → global bucket
    * counts → cap → Hamming from scratch.
    */
  def fingerprintBandSaturationScreen(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables(spark, dir).documents
      .where(col("doc_id") % 53 === 11 && col("doc_id") > 0)
      .selectExpr("doc_id as d")
      .selectExpr("d", "explode(sequence(0, case when d % 2 = 0 then 6 else 3 end)) as role")
      .selectExpr("d", "case when role = 0 then d else -(8*d + role) end as mid", "role")
      .selectExpr("d", "mid", "role", "explode(sequence(0, 7)) as k")
      .selectExpr("mid", "role", "k",
        "case when k >= 4 and role >= 2 then 8*d + role else d end as seed")
      .selectExpr("mid", "role", "k",
        "(seed * 2654435761 + k * 40503) % 2147483647 as x1")
      .selectExpr("mid", "role", "k", "(x1 ^ (x1 div 65536)) as x2")
      .selectExpr("mid", "role", "k", "(x2 * 2246822519) % 2147483629 as x3")
      .selectExpr("mid", "role", "k", "((x3 ^ (x3 div 8192)) % 65536) as bv")
      .selectExpr("mid", "k",
        """case when k = 1 and role = 1 then bv ^ 1
                when k = 1 and role >= 2 then bv ^ (case role when 2 then 255
                  when 3 then 65280 when 4 then 65535 when 5 then 3855
                  else 61680 end)
                else bv end as qv""")
      .groupBy("mid")
      .agg(
        expr("bit_or(case when k < 4 then shiftleft(qv, 16 * k) else 0L end)").as("fp_lo"),
        expr("bit_or(case when k >= 4 then shiftleft(qv, 16 * (k - 4)) else 0L end)").as("fp_hi"))
    val p64 = Dedup.fingerprintNearDuplicates(
        fps.select(col("mid"), col("fp_lo").as("fp64")), "mid", "fp64",
        maxHamming = 3, maxBucketSize = 4)
      .selectExpr("'fp64' as path", "id_a", "id_b", "cast(hamming as bigint) as hamming")
    val p128 = Dedup.fingerprint128NearDuplicates(
        fps, "mid", "fp_hi", "fp_lo", maxHamming = 3, maxBucketSize = 4)
      .selectExpr("'fp128' as path", "id_a", "id_b", "cast(hamming as bigint) as hamming")
    p64.unionByName(p128).orderBy("path", "id_a", "id_b")
  }

  /** q256 — INTRA-document repetition report
    * ([[graft.operators.Dedup.selfRepetitionReport]]): maximal spans
    * repeated WITHIN one document, with coverage — the self-repetition
    * half of the span family (q238 is cross-document). 4-token grams,
    * within-doc bucket cap 20; repetition is rare in the fixture by
    * construction (probed: 2 / 2 / 9 / 90 repeating docs at
    * sf0.001/0.01/0.1/sf1), so the report keeps every document and both
    * branches — zero and nonzero repetition — fire at every scale. The
    * oracle computes coverage as COUNT(DISTINCT position), independent
    * of the Spark-side interval union.
    */
  def selfRepetitionScreen(spark: SparkSession, dir: String): DataFrame =
    Dedup.selfRepetitionReport(Tables(spark, dir).documents, "doc_id", "text",
        minSpanTokens = 4, maxOccurrences = 20)
      .orderBy("doc_id")

  /** q252 — REAL video decode ([[graft.multimodal.Multimodal.decodeAvi]]):
    * uncompressed AVI containers (RIFF + BI_RGB DIB frames — the RIFF
    * sibling of q244's WAV) synthesized from the closed-form per-channel
    * pattern, encoded AND re-parsed by independent hand-written RIFF
    * walkers (the decoder reads geometry/rate from strf/strh, not from
    * assumptions shared with the encoder), pixel statistics as exact
    * integers (Σr, Σg, Σb, channel min/max) plus frame count, geometry,
    * and fps — all named by the oracle in closed form, fps as the literal
    * 10 so a mis-parsed header fails the row. Every `doc_id % 17 = 0`
    * video row carries NON-AVI bytes and must survive with null stats
    * (the undecodable-blob contract). Completes the media tier: PNG/JPEG
    * (q223/q199), WAV (q244), AVI here — blobs never shuffle.
    */
  def videoDecodeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.aviMediaFromDocuments(Tables(spark, dir).documents)
    Multimodal.videoPixelStats(media).orderBy("media_id")
  }

  /** q255 — REAL frame sampling ([[graft.multimodal.Multimodal
    * .aviFrameSamples]]): every 2nd frame of every fixture AVI fans out to
    * a (media_id, frame_idx, Σr, Σg, Σb) row — q61's sampling shape
    * driven by the real container parse instead of the stub codec, with
    * each sampled frame's channel sums named by the oracle in closed
    * form. Undecodable blobs (the `% 17 = 0` rows) fan out to nothing —
    * the stats pass (q252) is where they are preserved; this certifies
    * the fan-out emits fixed-width stats, never frame bytes.
    */
  def aviFrameSampleReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.aviMediaFromDocuments(Tables(spark, dir).documents)
    Multimodal.aviFrameSamples(media, every = 2)
      .orderBy("media_id", "frame_idx")
  }

  /** q260 — COMPRESSED video: MJPEG-in-AVI ([[graft.multimodal.Multimodal
    * .mjpegPatternDeviation]]). The q252 RIFF walk composed with the
    * q199/q223 javax.imageio JPEG decode — the first compressed video
    * tier: geometry/fps/frame count from the container headers, every
    * '00dc' JPEG blob frame-decoded and certified against the closed-form
    * pattern with the q223 bounded-deviation verdict. Three families,
    * every branch live at every scale: `% 17 = 0` rows carry non-AVI
    * bytes (decode_ok false, stats null — truncated/undecodable
    * containers fail closed), `% 13 = 0` rows are 0/255 checkerboards
    * over-compressed at quality 0.25 (within_bound FALSE — probed
    * exhaustively: min deviation 34 vs the 16 bound), the rest are
    * wrap-free solid ramps at 0.95 (within_bound true — probed max
    * deviation 1 over the complete reachable (color, dims) space;
    * MjpegBoundSpec pins both sides of the bound).
    */
  def mjpegVideoScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mjpegMediaFromDocuments(Tables(spark, dir).documents)
    Multimodal.mjpegPatternDeviation(media, maxAbsErr = 16).orderBy("media_id")
  }

  /** q245 — EXISTS / IN as PROJECTED booleans through `spark.sql`
    * (completing the subquery-surface triptych: q237 scalar, q239 WHERE,
    * this one SELECT-list): Catalyst must plan each flag as an
    * ExistenceJoin — a semi-join that ATTACHES a boolean instead of
    * filtering — never a per-row subquery. Every flag is true AND false
    * somewhere at every scale (probed: has_big 142/8 at sf0.001,
    * 14238/762 at sf0.1). PlanAuditSpec pins ≥3 ExistenceJoin nodes.
    */
  def existenceFlagScreen(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("q245_customer")
    t.orders.createOrReplaceTempView("q245_orders")
    spark.sql(
      """SELECT c.c_custkey,
        |  EXISTS (SELECT 1 FROM q245_orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_orderstatus = 'O') AS has_open,
        |  EXISTS (SELECT 1 FROM q245_orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_orderpriority = '1-URGENT') AS has_urgent,
        |  c.c_custkey IN (SELECT o_custkey FROM q245_orders
        |                  WHERE o_totalprice > 350000) AS has_big
        |FROM q245_customer c
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** q246 — PIVOT through SQL TEXT (`spark.sql` PIVOT clause): the q11
    * DataFrame pivot certified on the syntax a migrating warehouse user
    * actually writes. Exact integer cents; the oracle is the manual
    * CASE-per-column aggregation (the relational definition PIVOT
    * desugars to), so the clause's column naming and null-for-absent
    * semantics are pinned cross-engine.
    */
  def sqlTextPivot(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders
      .selectExpr("o_orderpriority", "o_orderstatus",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .createOrReplaceTempView("q246_orders")
    spark.sql(
      """SELECT * FROM q246_orders
        |PIVOT (
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |  FOR o_orderstatus IN ('O' AS open, 'F' AS filled, 'P' AS pending))
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** q250 — WITH RECURSIVE through SQL TEXT (Spark 4.1 native recursive
    * CTE): the q27 supplier→nation→region reachability walk written as the
    * LITERAL recursive SQL a migrating warehouse user runs today
    * (reference `sql/query_builder.py:361-387`,
    * `logs/data_lineage.py:378-435`) — the last uncovered SQL-text
    * surface. Catalyst plans the recursion as a `UnionLoop` node
    * (PlanAuditSpec pins it); the depth cap is the textual
    * `WHERE depth < 5` guard, and MIN(depth) per (seed, node) equals
    * [[graft.lineage.Lineage.reachable]] on every node ≠ seed row of ANY
    * graph — a shortest path never revisits a node, so the level-join
    * traversal's path-array guard prunes only longer walks. The one semantic
    * divergence is a cycle THROUGH a seed (the rCTE walks back to it, the
    * path guard blocks re-entry); RecursiveSqlSpec pins both the
    * agreement and that exact divergence on a cyclic graph. This fixture
    * graph is acyclic, so here all three recursion engines (Spark rCTE,
    * the level-join traversal, DuckDB's rCTE oracle — shared verbatim
    * with q27) are pinned to one answer.
    */
  def sqlTextRecursiveTraversal(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.supplier.createOrReplaceTempView("q250_supplier")
    t.nation.createOrReplaceTempView("q250_nation")
    spark.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT 'supplier/' || CAST(s_suppkey AS STRING) AS src,
        |         'nation/' || CAST(s_nationkey AS STRING) AS dst
        |  FROM q250_supplier
        |  UNION ALL
        |  SELECT 'nation/' || CAST(n_nationkey AS STRING),
        |         'region/' || CAST(n_regionkey AS STRING)
        |  FROM q250_nation),
        |walk AS (
        |  SELECT 'supplier/' || CAST(s_suppkey AS STRING) AS seed,
        |         'supplier/' || CAST(s_suppkey AS STRING) AS node,
        |         0 AS depth
        |  FROM q250_supplier
        |  UNION ALL
        |  SELECT w.seed, e.dst, w.depth + 1
        |  FROM walk w JOIN edges e ON w.node = e.src
        |  WHERE w.depth < 5)
        |SELECT seed, node, MIN(depth) AS depth FROM walk WHERE depth > 0
        |GROUP BY seed, node ORDER BY seed, node""".stripMargin)
  }

  /** q258 — the UNION-DISTINCT recursive CTE MIGRATION CONTRACT. The
    * reference's `recursive_cte_builder` parameterizes
    * `union_type: UNION | UNION ALL` (sql/query_builder.py:365); q250
    * certifies the UNION ALL form natively, but Spark 4.1 REJECTS the
    * UNION-distinct form outright (`UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`
    * — RecursiveSqlSpec pins the exact error), and UNION-distinct is
    * precisely the form a migrating user writes for cyclic graphs because
    * it terminates at the dedup fixpoint with NO depth cap. This query
    * certifies the documented rewrite: Spark runs `UNION ALL` + depth cap
    * + outer `SELECT DISTINCT`, the DuckDB oracle runs the user's
    * original no-cap `UNION` fixpoint VERBATIM — two different texts,
    * three recursion semantics (UnionLoop, DuckDB fixpoint-by-dedup, and
    * the cap bound) pinned to one answer on a graph WITH real cycles
    * (functional edges `n -> (7n+3) mod 16` over event users: 4/16/16/16
    * seeds sit on a cycle at sf0.001/0.01/0.1/1). The rewrite is exact
    * because the walked graph is out-degree ≤ 1: a forward orbit on 16
    * nodes visits every reachable node within 15 steps, so cap 20 is
    * PROVABLY past the fixpoint — and bounded out-degree is itself part
    * of the documented contract (on a high-out-degree cyclic graph the
    * UNION ALL rewrite's path count explodes where UNION's dedup would
    * not; such graphs must use the path-guarded [[graft.lineage.Lineage]]
    * traversal instead).
    */
  def sqlTextRecursiveFixpoint(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // The rCTE loop body re-evaluates the `edges` CTE subtree on EVERY
    // iteration — UnionLoop inlines non-recursive CTEs into the step plan,
    // so the certified text's 20 capped iterations each re-scan the events
    // relation and re-run the DISTINCT aggregate over it (plan-verified:
    // the LogicalRelation + Aggregate sit inside the loop in
    // plans/r19/q258_*_before.txt). Every CTE of the text is a function of
    // `user_id` alone, so bind the view to the eagerly cached DISTINCT
    // user_id projection instead of the raw relation: per-iteration work
    // drops from |events| rows re-scanned+aggregated to |distinct users|
    // cached rows (100k -> 1.5k at sf0.1), while the certified SQL text —
    // the migration-contract surface — stays byte-identical and the
    // result is unchanged (edges/seeds are DISTINCT projections of
    // user_id, invariant under pre-deduplication of their input).
    graft.core.Caching.eager(t.events.select(col("user_id")).distinct())
      .createOrReplaceTempView("q258_events")
    spark.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT user_id % 16 AS src, (user_id % 16 * 7 + 3) % 16 AS dst
        |  FROM q258_events),
        |seeds AS (
        |  SELECT DISTINCT user_id % 16 AS seed FROM q258_events WHERE user_id % 3 = 0),
        |walk AS (
        |  SELECT seed, seed AS node, 0 AS depth FROM seeds
        |  UNION ALL
        |  SELECT w.seed, e.dst, w.depth + 1
        |  FROM walk w JOIN edges e ON w.node = e.src
        |  WHERE w.depth < 20)
        |SELECT DISTINCT seed, node FROM walk ORDER BY seed, node""".stripMargin)
  }

  /** q251 — span bucket-cap DIAGNOSTICS
    * ([[graft.operators.Dedup.sharedSpanCapReport]], the "no silent caps"
    * rule): the span family drops grams whose hash bucket exceeds the cap,
    * and this makes the drop observable — distinct grams, the max bucket,
    * how many grams the cap removed, their occurrence mass, and the
    * distinct documents a dropped gram touches (the reach inside which a
    * span can split). Cap = 2 here so every branch is NON-VACUOUS at every
    * scale (probed: fixture max bucket 3–4, dropped grams 84 / 71 / 420
    * at sf0.001 / 0.01 / 0.1 — at the span family's default cap 50 the
    * fixture drops nothing, which would certify nothing).
    */
  def spanCapReport(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanCapReport(Tables(spark, dir).documents, "doc_id", "text",
      minSpanTokens = 8, maxBucketSize = 2)

  /** q247 — UNPIVOT through SQL TEXT: the inverse reshape of q246 on the
    * clause a migrating user writes (q192 certifies the DataFrame melt).
    * The wide per-priority frame is built with deterministic conditional
    * aggregates, then `UNPIVOT (cents FOR status IN ...)` melts it back
    * to (priority, status, cents) rows; the oracle is the UNION ALL the
    * clause desugars to, with UNPIVOT's default null-row exclusion
    * mirrored by `WHERE cents IS NOT NULL`.
    */
  def sqlTextUnpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "O",
          round(col("o_totalprice") * 100, 0).cast("long"))).as("open_cents"),
        sum(when(col("o_orderstatus") === "F",
          round(col("o_totalprice") * 100, 0).cast("long"))).as("filled_cents"),
        sum(when(col("o_orderstatus") === "P",
          round(col("o_totalprice") * 100, 0).cast("long"))).as("pending_cents"))
      .createOrReplaceTempView("q247_wide")
    spark.sql(
      """SELECT o_orderpriority, status, cents FROM q247_wide
        |UNPIVOT (cents FOR status IN (
        |  open_cents AS `O`, filled_cents AS `F`, pending_cents AS `P`))
        |ORDER BY o_orderpriority, status""".stripMargin)
  }

  /** q249 — shared spans THROUGH THE STREAM: q243's delta→corpus span
    * probe run per micro-batch over arriving documents, certified against
    * the SAME oracle as the batch form — span detection distributes
    * exactly over the delta (each arriving doc's spans are independent of
    * its batch-mates), so stream ≡ batch row for row. The crawler-ingest
    * shape: flag text reuse at arrival time, not in a nightly sweep.
    *
    * The standing corpus gram index ([[graft.operators.Dedup
    * .spanGramIndex]]) is built and cached ONCE, OUTSIDE the stream — the
    * q121 `DocStream.corpusIndex` discipline — and every micro-batch pays
    * only delta-sized work probing it ([[graft.operators.Dedup
    * .sharedSpansIncrementalFromIndex]] persists nothing per call); the
    * index is released when the stream ends. StreamingLeakSpec pins this:
    * the persisted-RDD set must not grow across micro-batches.
    */
  def streamingSharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val arriving = d.where(col("doc_id") % 10 === 0)
    val gramIndex = Dedup.spanGramIndex(corpus, "doc_id", "text",
      minSpanTokens = 8, maxBucketSize = 50)
    val tmp =
      try runDroppedStream(spark, arriving, files = 4, perTrigger = 2,
        "graft_q249_") { (stream, t) =>
        stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            if (!batch.isEmpty)
              Dedup.sharedSpansIncrementalFromIndex(gramIndex, batch,
                  "doc_id", "text")
                .write.mode("append").parquet(s"$t/spans")
            ()
          }
          .option("checkpointLocation", s"$t/checkpoint")
          .start()
      } finally gramIndex.unpersist()
    spark.read.parquet(s"$tmp/spans")
      .orderBy("delta_id", "corpus_id", "delta_pos", "corpus_pos")
  }

  /** q248 — JOIN-STRATEGY HINTS through SQL text: `/*+ MERGE(n) */`
    * forces a sort-merge join on a dimension small enough that the
    * optimizer would otherwise ALWAYS broadcast it — so the hint is
    * load-bearing by construction (the plan audit asserts SortMergeJoin
    * where the unhinted twin plans BroadcastHashJoin). Results are
    * strategy-invariant; the oracle is the plain join. The hint surface
    * matters to a migrating user tuning a skewed production join the
    * optimizer mis-plans — this certifies Spark honors the text form.
    */
  def joinHintScreen(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer.createOrReplaceTempView("q248_customer")
    t.nation.createOrReplaceTempView("q248_nation")
    spark.sql(
      """SELECT /*+ MERGE(n) */ n.n_name,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS balance_cents
        |FROM q248_customer c JOIN q248_nation n
        |  ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
  }

}
