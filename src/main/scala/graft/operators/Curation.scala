package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sha60
import graft.functions.TextFunctions._

/** Corpus-curation operators for training-data pipelines: eval-set
  * contamination checks, repetition-based quality metrics, deterministic
  * sampling, sequence packing, and vocabulary statistics.
  *
  * These go beyond the warehouse reference (which has no text pipeline) but
  * follow the same engine rules: built-in expressions only (codegen-friendly,
  * no UDFs), hash-derived values based on [[Sha60]] so every operator is
  * certifiable by the driver's DuckDB oracle, and shuffle shapes that survive
  * 100 TB — inverted-index joins and per-stratum windows, never corpus×corpus.
  */
object Curation {

  /** Train/eval contamination check: for each eval document, the fraction of
    * its distinct word `shingleN`-grams that occur anywhere in the training
    * corpus — the standard benchmark-leakage test (n-gram overlap, as used
    * for eval decontamination in LLM training).
    *
    * Shape: the training side becomes a distinct n-gram vocabulary (explode +
    * distinct — one shuffle, the inverted-index build); the eval side joins
    * against it per n-gram and aggregates per document. Eval sets are small
    * relative to the corpus, so the join streams the vocabulary past the
    * eval grams without ever pairing documents. Documents with no n-gram
    * (fewer than `shingleN` tokens) are excluded — they have no overlap
    * defined.
    */
  def contamination(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2): DataFrame = {
    val trainVocab = train
      .select(explode(array_distinct(shingles(col(textCol), shingleN))).as("gram"))
      .distinct()
      .withColumn("hit", lit(1))
    val evalGrams = evalSet
      .select(
        col(idCol).as("doc_id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("gram"))
    evalGrams
      .join(trainVocab, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        count(col("hit")).as("n_contaminated"))
      .withColumn(
        "contamination_rate",
        col("n_contaminated").cast("double") / col("n_ngrams").cast("double"))
  }

  /** Decontamination ACTION — the other direction of [[contamination]]:
    * DROP training documents whose distinct word `shingleN`-grams overlap
    * the eval set's n-gram vocabulary at or above `maxOverlap` (the
    * detect→act pair, like q74's chunk profile → q99's boilerplate
    * removal). Documents too short to have an n-gram are kept — they cannot
    * leak an n-gram they don't contain.
    *
    * Shape: the eval side (small by construction) becomes the broadcast
    * vocabulary; the training side probes it per distinct gram, aggregates
    * an integer (hits, total) pair per document — ONE id-keyed shuffle with
    * map-side combine — and the corpus drops contaminated ids by anti-join.
    * Text rides only the final anti-join key-equi; the overlap rate is one
    * IEEE division of exact counts, engine-portable.
    */
  def decontaminate(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      maxOverlap: Double = 0.9): DataFrame = {
    val evalVocab = evalSet
      .select(explode(array_distinct(shingles(col(textCol), shingleN))).as("gram"))
      .distinct()
      .withColumn("hit", lit(1))
    val contaminatedIds = train
      .select(
        col(idCol).as("_d_id"),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("gram"))
      .join(broadcast(evalVocab), Seq("gram"), "left")
      .groupBy(col("_d_id"))
      .agg(count(lit(1)).as("_n"), count(col("hit")).as("_c"))
      .where(col("_c").cast("double") / col("_n").cast("double") >= maxOverlap)
      .select(col("_d_id"))
    train.join(contaminatedIds, train(idCol) === col("_d_id"), "left_anti")
  }

  /** Repetition-based quality metrics (the Gopher/MassiveText family of
    * rules): per document, the distinct-token ratio and the fraction of word
    * bigrams taken by the single most frequent bigram. Heavily repetitive
    * machine-generated text scores low/high respectively; `repetition_label`
    * applies the standard-style thresholds.
    *
    * Per-row higher-order functions only — embarrassingly parallel, column
    * pruning reads `text` alone. The top-bigram scan is O(d·n) per row in
    * the distinct-bigram count d, bounded by document length, not corpus
    * size.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(
      col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t"),
      shingles(col(textCol), 2).as("bg"))
    base
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(array_distinct(col("t"))).cast("double") /
          size(col("t")).cast("double")).as("distinct_token_ratio"),
        when(
          size(col("bg")) > 0,
          array_max(
            transform(
              array_distinct(col("bg")),
              x => size(filter(col("bg"), y => y === x)))).cast("double") /
            size(col("bg")).cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn(
        "repetition_label",
        // the top-bigram rule only fires on docs long enough that one
        // dominant bigram is signal, not small-sample noise (a 6-token doc
        // of distinct words already has top_bigram_frac = 0.2)
        when(
          col("distinct_token_ratio") < 0.3 ||
            (col("top_bigram_frac") > 0.18 && col("n_tokens") >= 20),
          "repetitive").otherwise("ok"))
  }

  /** Deterministic stratified sample: the `k` documents per stratum with the
    * smallest [[Sha60]] hash of their id (ties by id). Hash-rank sampling is
    * reproducible across runs, engines, and corpus growth — a document's
    * rank only changes if documents hashing lower enter its stratum — which
    * is what makes train/validation splits stable under incremental loads.
    *
    * One window per stratum; at scale the stratum is the partition key, so
    * skew follows stratum size — use a composite stratum (e.g. source×date)
    * when a single source dominates.
    */
  /** Deterministic train/val/test split assignment: bucket = Sha60(id) mod
    * 100, train < `trainPct` ≤ val < `trainPct + valPct` ≤ test. Hash-based,
    * so a document's split never changes as the corpus grows and any engine
    * reproduces it — the reproducibility contract a training pipeline needs
    * from its split step. Map-only.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    // domain-separated hash ("split:" prefix): the split decision must be
    // INDEPENDENT of weightedSourceSample's keep decision — with a shared
    // hash, h%100 = (h%1000)%100 and a weight of 50 would label every kept
    // document 'train', silently emptying val/test
    val bucket = pmod(
      Sha60.sha60(concat(lit("split:"), col(idCol).cast("string"))), lit(100L))
    df.withColumn(
      "split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-proof (cluster-aware) train/val/test split: the split bucket
    * hashes the document's near-dup CLUSTER id — its own id for
    * unclustered documents — so near-duplicate pairs can NEVER straddle
    * the split (the classic eval-contamination leak: a test document whose
    * near-twin sits in train). Unclustered documents get exactly the
    * [[hashSplit]] assignment (cluster id = own id), so adopting the
    * cluster-aware rule only moves documents that have duplicates.
    *
    * `labels` is a (doc_id, cluster_id) frame (e.g.
    * [[graft.operators.Dedup.duplicateClusters]] output) — duplicate-
    * membership sized, ≪ corpus; the left join on id is the only shuffle
    * and the split itself stays a map-side hash.
    */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      labels: DataFrame,
      trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val lab = labels.select(col("doc_id").as(idCol), col("cluster_id"))
    hashSplit(
      df.join(lab, Seq(idCol), "left")
        .withColumn("_split_key", coalesce(col("cluster_id"), col(idCol))),
      "_split_key", trainPct, valPct)
      .drop("_split_key", "cluster_id")
  }

  /** Soft dedup: duplicate-aware DOWNWEIGHTING instead of dropping. Every
    * document stays in the corpus with sampling weight `1 / cluster_size`
    * (1.0 when unclustered), so each near-duplicate cluster contributes one
    * document-equivalent of training mass in expectation — the
    * "keep-but-reweight" alternative to canonical-per-cluster dedup
    * ([[graft.operators.Dedup.dedupCorpus]]) for corpora where duplicates
    * carry signal (popularity, cross-source corroboration) that hard
    * dropping erases.
    *
    * Shape: cluster sizes aggregate over the duplicate-membership-sized
    * labels frame (pairs-derived — far smaller than the corpus), and the
    * corpus joins it by id; text never shuffles. The weight is ONE IEEE
    * division of exact integers — engine-portable.
    */
  def softDedupWeights(df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val lab = labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id").as(idCol), col("cluster_size"))
    df.join(lab, Seq(idCol), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight", lit(1.0) / col("cluster_size").cast("double"))
      .select(col(idCol), col("cluster_size"), col("weight"))
  }

  /** Multi-epoch scheduling by quality tier: high-quality documents repeat
    * across training epochs (quality ≥ 0.8 → 3 epochs, ≥ 0.5 → 2, else 1 —
    * the same tier boundaries the quality label uses), emitting one
    * (id, epoch_idx) row per scheduled appearance. The data-scheduler twin
    * of source-level mixing ([[weightedSourceSample]]): mixing decides WHAT
    * enters the corpus, this decides HOW OFTEN it is seen.
    *
    * Shape: map-only — per-row quality score (codegen'd expression) and a
    * `sequence` explode with fan-out bounded by the max epoch count, so a
    * 100 TB corpus schedules at scan speed with no shuffle anywhere.
    */
  def epochReplication(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val q = qualityScore(col(textCol))
    val n = when(q >= 0.8, lit(3L)).when(q >= 0.5, lit(2L)).otherwise(lit(1L))
    df.select(col(idCol), n.as("n_epochs"))
      .select(
        col(idCol),
        col("n_epochs"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch_idx"))
  }

  /** Deterministic curriculum ordering: the [[epochReplication]] schedule
    * with a seed-parameterized ORDER for every scheduled appearance —
    * the piece the epoch scheduler alone lacks (WHICH order within an
    * epoch). `order_key` = Sha60("cur:<seed>:<epoch>:<id>"), so the
    * permutation is reproducible run-to-run and engine-to-engine,
    * independent per epoch (no two epochs replay the same order), and
    * re-keyed wholesale by changing the seed.
    *
    * Deliberately MAP-ONLY: the key IS the order. A materialized global
    * position (`row_number` over an epoch) would shuffle the whole corpus
    * into one partition per epoch — 3 epochs = 3 tasks at 100 TB. Shard
    * loaders instead range-read by `(epoch_idx, order_key)`; any engine
    * reconstructs identical positions by sorting on the key (ties are
    * impossible per epoch: the preimage contains the unique id).
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seed: Long): DataFrame =
    epochReplication(df, idCol, textCol)
      .select(
        col(idCol),
        col("epoch_idx"),
        Sha60.sha60(concat(
          lit(s"cur:$seed:"),
          col("epoch_idx").cast("string"),
          lit(":"),
          col(idCol).cast("string"))).as("order_key"))

  /** Shard assignment for a [[curriculumOrder]] schedule: `shard` =
    * the top log₂(shardsPerEpoch) bits of the 60-bit `order_key` — a pure
    * range bucketing of the key space, computed MAP-ONLY. Because the key
    * is Sha60-uniform, the fixed boundaries split every epoch into
    * near-equal shards with no sampling pass and no range-exchange; and
    * because the key IS the curriculum order, shard k's keys all precede
    * shard k+1's — a loader replays the curriculum by walking shards in
    * order. `shardsPerEpoch` must be a power of two so the bucket
    * boundaries are exact bit prefixes.
    */
  def curriculumShards(scheduled: DataFrame, shardsPerEpoch: Int): DataFrame = {
    require(shardsPerEpoch > 0 && (shardsPerEpoch & (shardsPerEpoch - 1)) == 0,
      s"shardsPerEpoch must be a power of two, got $shardsPerEpoch")
    val bits = Integer.numberOfTrailingZeros(shardsPerEpoch)
    require(bits <= 60, s"shardsPerEpoch 2^$bits exceeds the 60-bit key space")
    scheduled.withColumn("shard",
      shiftright(col("order_key"), 60 - bits).cast("int"))
  }

  /** The write-side layout of [[writeCurriculumShards]], exposed for the
    * plan audit: ONE hash exchange on (epoch_idx, shard) co-locates each
    * shard, and a partition-local sort orders rows by `order_key` within
    * it — deliberately NO global range sort (a `row_number`/`orderBy` per
    * epoch would funnel 100 TB through one range exchange; the Sha60 key
    * already encodes the order, so a local sort suffices and every shard
    * file comes out internally ordered).
    */
  private[graft] def shardLayout(
      scheduled: DataFrame, shardsPerEpoch: Int): DataFrame =
    curriculumShards(scheduled, shardsPerEpoch)
      .repartition(col("epoch_idx"), col("shard"))
      .sortWithinPartitions(col("epoch_idx"), col("shard"), col("order_key"))

  /** Materialize a curriculum schedule as range-bucketed training shards:
    * `dir/epoch_idx=E/shard=S/` parquet files, each internally sorted by
    * `order_key` and capped at `maxRecordsPerFile` rows (the trainer's
    * unit of work). Tasks write their own (epoch, shard) groups
    * contiguously — the layout sort makes each group a contiguous run, so
    * the dynamic-partition writer holds one open file at a time. The q131
    * oracle certifies the read-back against the schedule recomputed from
    * scratch (per-shard counts, key ranges, and an order-insensitive key
    * digest); ShardSpec pins the file-level contracts (per-file cap,
    * per-file ordering, boundary formula, no range exchange in the plan).
    */
  def writeCurriculumShards(
      scheduled: DataFrame,
      dir: String,
      shardsPerEpoch: Int,
      maxRecordsPerFile: Int): Unit =
    shardLayout(scheduled, shardsPerEpoch)
      .write
      .partitionBy("epoch_idx", "shard")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .mode("overwrite")
      .parquet(dir)

  /** Deterministic per-source mixture sampling: keep a document iff
    * Sha60(id) mod `denom` falls under its source's weight share — the
    * data-mixing step that reweights corpus sources for training (e.g. keep
    * 100% of curated sources, 10% of crawl). Weights are per-mille by
    * default (`denom` = 1000); a missing source keeps nothing. Map-only
    * after a broadcast-sized weight join; reproducible across runs, engines,
    * and corpus growth.
    */
  def weightedSourceSample(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      weights: Map[String, Int],
      denom: Int = 1000): DataFrame = {
    require(denom > 0, s"denom must be positive, got $denom")
    require(weights.values.forall(w => w >= 0 && w <= denom),
      s"weights must be within [0, $denom]")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.sortBy(_._1).toDF("_w_source", "_w_keep")
    // "mix:" domain prefix — see hashSplit: keep and split decisions must
    // come from independent hashes
    val keepHash = Sha60.sha60(concat(lit("mix:"), col(idCol).cast("string")))
    df.join(
        org.apache.spark.sql.functions.broadcast(wdf),
        col(sourceCol) === col("_w_source"))
      .where(pmod(keepHash, lit(denom.toLong)) < col("_w_keep"))
      .drop("_w_source", "_w_keep")
  }

  /** Reproducibility manifest: per source, document/token counts and an
    * order-insensitive `content_digest` — the bit-XOR of every document's
    * Sha60 over `"<id>:<normalized text>"`. XOR commutes, so the digest is
    * independent of partitioning, shuffle order, and task scheduling, and
    * computes as ONE map-side-combined aggregation whose output is a
    * constant few rows at any corpus size. Two pipeline runs (or two
    * engines) produce equal digests iff each source's (id, content) set is
    * identical — the O(rows-scanned, constant-output) drift CHECK that
    * decides whether anything downstream needs reprocessing;
    * [[corpusDiff]] is the row-level investigation once a digest moves.
    * NULL text folds in as the `<null>` marker (distinct from empty text),
    * so a null↔'' flip moves the digest too.
    */
  def corpusManifest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(tokenCount(col(textCol)).cast("long")), lit(0L))
          .as("n_tokens"),
        call_function("bit_xor", Sha60.sha60(concat(
          col(idCol).cast("string"), lit(":"),
          coalesce(normalizeText(col(textCol)), lit("<null>")))))
          .as("content_digest"))

  /** Per-source length-DISTRIBUTION drift between two corpus snapshots —
    * the attestation layer between [[corpusManifest]] (did ANYTHING change?)
    * and [[corpusDiff]] (which rows changed?): did the SHAPE of a source
    * change enough to re-validate downstream mixtures and packing? A crawl
    * that re-fetches the same page count but starts truncating long pages
    * has an identical row count, a moved digest, and — this operator's
    * signal — a large distribution shift.
    *
    * Metric: total-variation distance between the two snapshots' token-count
    * histograms, bucketed by the bit length of the token count
    * (`length(bin(tokens))` — an INTEGER log2 bucket; no floating log whose
    * last-ulp could flip a bucket across engines). TVD is computed entirely
    * in exact integer arithmetic: with per-bucket counts n_b/m_b and totals
    * N/M, `tvd = Σ_b |m_b·N − n_b·M| / (2·N·M)` — the products are carried
    * as DECIMAL(38,0) so the arithmetic is exact far beyond Long range
    * (count products overflow Long around 3·10⁹ docs per source; a 100 TB
    * corpus is past that), the sum is order-insensitive, and the only
    * floating-point step is one final exactly-rounded division. The
    * `drifted` verdict never touches floats at all:
    * `num·1000 > thresholdPermille·den` in decimal.
    *
    * Scale shape: two corpus scans (map-side-combined histogram
    * aggregations with ≤ ~40 bucket rows per source), then joins over
    * histogram-sized data only — text is read once per snapshot and never
    * shuffled. A source present in only one snapshot reports `tvd = 1.0`,
    * `drifted = true` (total drift), not a division by zero.
    */
  def distributionDrift(
      older: DataFrame,
      newer: DataFrame,
      sourceCol: String,
      textCol: String,
      thresholdPermille: Int = 100): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def hist(df: DataFrame, n: String) =
      df.groupBy(
          col(sourceCol).as("source"),
          length(bin(tokenCount(col(textCol)).cast("long"))).as("_bucket"))
        .agg(count(lit(1)).as(n))
    // eager: the joined histogram feeds two consumers (the per-bucket
    // branch and the per-source totals) — uncached, each would re-run BOTH
    // corpus scans (plan-verified). Histogram-sized: ≤ ~40 rows per source.
    val h = graft.core.Caching.eager(
      hist(older, "_n_old")
        .join(hist(newer, "_n_new"), Seq("source", "_bucket"), "full_outer")
        .na.fill(0L, Seq("_n_old", "_n_new")))
    val tot = h.groupBy(col("source"))
      .agg(sum(col("_n_old")).as("_t_old"), sum(col("_n_new")).as("_t_new"))
    val zero = lit(0).cast(dec)
    val agg = h.join(tot, Seq("source"))
      .groupBy(col("source"))
      .agg(
        max(col("_t_old")).as("_t_old"),
        max(col("_t_new")).as("_t_new"),
        sum(abs(col("_n_new").cast(dec) * col("_t_old").cast(dec)
          - col("_n_old").cast(dec) * col("_t_new").cast(dec))).as("_num"))
    val den = col("_t_old").cast(dec) * col("_t_new").cast(dec) * lit(2).cast(dec)
    agg.select(
      col("source"),
      col("_t_old").as("n_old"),
      col("_t_new").as("n_new"),
      when(den === zero, lit(1.0))
        .otherwise(col("_num").cast("double") / den.cast("double")).as("tvd"),
      when(den === zero, lit(true))
        .otherwise(col("_num") * lit(1000) > lit(thresholdPermille).cast(dec) * den)
        .as("drifted"))
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as `added` (id only in `newer`), `removed` (id only in
    * `older`), `changed` (both, normalized content hash differs), or
    * `unchanged` — the crawl-to-crawl delta report that decides what
    * reprocessing a refresh actually needs. One full-outer join of two
    * hash projections; text never moves, only (id, 128-bit hash).
    */
  def corpusDiff(
      older: DataFrame,
      newer: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // presence via non-null tag columns, NOT hash nullability (the same
    // discipline as Mutations.upsert): a NULL-text row hashes to NULL and
    // would otherwise always classify as 'added'; <=> treats two NULL-text
    // versions of an id as unchanged
    def hashed(df: DataFrame, h: String, tag: String) = df.select(
      col(idCol).as("doc_id"),
      md5(normalizeText(col(textCol))).as(h),
      lit(true).as(tag))
    hashed(older, "_h_old", "_in_old")
      .join(hashed(newer, "_h_new", "_in_new"), Seq("doc_id"), "full_outer")
      .withColumn(
        "status",
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(col("_h_old") <=> col("_h_new"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"))
  }

  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val w = Window
      .partitionBy(col(strataCol))
      .orderBy(Sha60.sha60(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k)
  }

  /** Sequence packing: assign documents to fixed token-budget bins by their
    * running token offset within a stratum (documents ordered by id; a
    * document lands in the bin where it starts, the streaming-concat packing
    * used to batch LLM training sequences). Returns per-bin document and
    * token counts.
    *
    * One window + one groupBy per stratum. Deterministic: integer token
    * counts, integer cumulative sums, floor division.
    */
  def packSequences(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      textCol: String,
      tokenBudget: Int): DataFrame = {
    df.select(
        col(strataCol).as("stratum"),
        col(idCol).as("doc_id"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.partitionBy(col("stratum")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(
        "bin_id",
        floor((col("cum_tokens") - col("n_tokens")).cast("double") / tokenBudget.toDouble))
      .groupBy(col("stratum"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  /** Token document frequency: number of documents containing each distinct
    * token — the vocabulary statistic behind df-based filtering and stopword
    * derivation. Explode distinct tokens per document, one hash-shuffle
    * groupBy: the classic inverted-index aggregation.
    */
  def docFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(array_distinct(tokens(col(textCol)))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_count"))

  /** PII patterns (Java and RE2 compatible — the masking must behave
    * identically in Spark and any SQL engine auditing it).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Mask emails → phones → IPv4s in place (ordered so address-shaped
    * fragments inside already-masked spans cannot double-match). A pure
    * Column function, usable identically in batch and streaming plans.
    */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        PhonePattern, "[PHONE]"),
      Ipv4Pattern, "[IP]")

  /** PII scrub: count and mask emails, phone numbers, and IPv4 addresses.
    * Pure per-row regex work (codegen-friendly, no UDFs). Counts are taken
    * on the original text.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(PhonePattern), lit(0)))
        .cast("long").as("n_phones"),
      size(regexp_extract_all(col(textCol), lit(Ipv4Pattern), lit(0)))
        .cast("long").as("n_ips"),
      maskPii(col(textCol)).as("redacted_text"))

  /** End-to-end corpus curation — the composed flagship pipeline a training
    * corpus actually runs, in dependency order:
    *  1. quality gate (heuristic score + distinct-token ratio),
    *  2. PII masking,
    *  3. exact dedup (normalized content hash, minimum id wins),
    *  4. near-dup removal (MinHash+LSH pairs → connected components →
    *     canonical survivor per cluster).
    * Every stage is one of this module's / [[Dedup]]'s audited operators, so
    * the composition inherits their shuffle shapes: per-row gates, one
    * hash-shuffle dedup, band-bucket LSH, contracted label propagation —
    * nothing quadratic end to end.
    *
    * Caching contract: the exact-deduped intermediate (and the LSH shingle
    * pass inside [[Dedup.minhashNearDuplicates]]) is persisted EAGERLY at
    * construction ([[graft.core.Caching.eager]] — a lazily persisted
    * intermediate with multiple consumers gets its subtree recomputed per
    * AQE stage, measured 3–6× duplicated CPU) and stays persisted after the
    * returned frame is consumed. One pipeline per session is the expected
    * use; a session running many should `spark.catalog.clearCache()`
    * between them.
    */
  // The pipeline defaults, shared by the entry points below so no stage
  // can silently drift from what q65/q66 actually run.
  private val DefaultMinQuality = 0.5
  private val DefaultMinDistinctRatio = 0.3
  private val DefaultNumHashes = 16
  private val DefaultNumBands = 4
  private val DefaultShingleN = 1
  private val DefaultMinJaccard = 0.5

  /** The quality + distinct-ratio gate as a standalone frame — the exact
    * first stage of [[curateCorpus]].
    */
  private def qualityGate(
      docs: DataFrame,
      textCol: String,
      minQuality: Double = DefaultMinQuality,
      minDistinctRatio: Double = DefaultMinDistinctRatio): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    docs.where(
      qualityScore(t) >= minQuality &&
        (size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
          >= minDistinctRatio)
  }

  /** The PII-mask stage of [[curateCorpus]]. */
  private def maskStage(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, maskPii(col(textCol)))

  def curateCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = DefaultMinQuality,
      minDistinctRatio: Double = DefaultMinDistinctRatio,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      shingleN: Int = DefaultShingleN,
      minJaccard: Double = DefaultMinJaccard): DataFrame =
    curationStages(docs, idCol, textCol, minQuality, minDistinctRatio,
      numHashes, numBands, shingleN, minJaccard, persistGate = false)._3

  /** The curation funnel: input / post-gate / post-exact-dedup /
    * post-near-dup document counts — the per-stage attrition a production
    * pipeline monitors (a sudden gate-stage drop means upstream drift, a
    * near-dup spike means a crawler loop). One row.
    */
  def curationFunnel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = DefaultMinQuality,
      minDistinctRatio: Double = DefaultMinDistinctRatio,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      shingleN: Int = DefaultShingleN,
      minJaccard: Double = DefaultMinJaccard): DataFrame = {
    val (gated, exact, fin) = curationStages(docs, idCol, textCol, minQuality,
      minDistinctRatio, numHashes, numBands, shingleN, minJaccard,
      persistGate = true)
    // lazy scalar-aggregate joins, not driver-side counts: the funnel stays
    // a single distributed plan (inspectable by Explain / the plan audit),
    // and its four counts execute when the caller acts — three single-row
    // constant-key broadcast hash joins (ScalarJoin), the same O(n·1)
    // scalar-broadcast shape as q25, with no nested-loop operator
    graft.core.ScalarJoin.withScalars(
      docs.select(count(lit(1)).as("n_input")),
      gated.select(count(lit(1)).as("n_after_gate")),
      exact.select(count(lit(1)).as("n_after_exact")),
      fin.select(count(lit(1)).as("n_after_neardup")))
  }

  private def curationStages(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double,
      minDistinctRatio: Double,
      numHashes: Int,
      numBands: Int,
      shingleN: Int,
      minJaccard: Double,
      persistGate: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val gated0 = qualityGate(docs, textCol, minQuality, minDistinctRatio)
    // the gate is ~6 regex passes per row; persist it ONLY when a second
    // consumer exists (the funnel's gate count) — on the plain curateCorpus
    // path gated has one consumer and caching it would be pure cost
    val gated =
      if (persistGate) graft.core.Caching.eager(gated0)
      else gated0
    val masked = maskStage(gated, textCol)
    // the exact-deduped set feeds two consumers (the LSH signature build and
    // the final keep-set join) — persist it so the regex-heavy gate + mask +
    // hash-dedup upstream runs once, not once per consumer (measured 7 s →
    // ~4 s at sf0.1). Same persistence policy as the LSH shingle pass.
    val exact = graft.core.Caching.eager(Dedup.exactDedup(masked, idCol, textCol))
    val pairs = Dedup.minhashNearDuplicates(
      exact, idCol, textCol, numHashes, numBands, shingleN, minJaccard)
    (gated, exact, Dedup.dedupCorpus(exact, idCol, pairs))
  }

  /** Corpus-informedness score: per document, the mean document frequency of
    * its token instances — rare-gibberish documents score low, stopword soup
    * scores high. Two passes over the corpus: the [[docFrequency]] statistic,
    * then a token-level join back (at scale both sides shuffle on the token
    * key; the df table is vocabulary-sized, far smaller than the corpus).
    * Integer sums + one final division — deterministic.
    */
  def meanTokenDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val instances = df.select(
      col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    instances
      .join(docFrequency(df, textCol), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_token_instances"),
        sum(col("df_count")).as("sum_df"))
      .withColumn(
        "mean_token_df",
        col("sum_df").cast("double") / col("n_token_instances").cast("double"))
  }

  /** Corpus-wide word n-gram frequency (instance counts, not per-document
    * presence) — the statistic behind boilerplate detection and top-n-gram
    * corpus profiling.
    *
    * Shape: per-row shingle build → explode → ONE hash aggregation with
    * map-side partial combine; only (gram, partial count) rows shuffle. A
    * top-k consumer should `orderBy(count).limit(k)`, which Spark plans as
    * `TakeOrderedAndProject` — no global sort at any scale.
    */
  def ngramFrequency(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(shingles(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("gram_count"))

  /** Frequent n-grams with BOUNDED aggregation memory: every n-gram whose
    * instance count exceeds `1/k` of all gram instances, with its exact
    * count — the same answer as `ngramFrequency(...).where(count·k > total)`
    * but without ever holding the full gram vocabulary in aggregation state.
    *
    * Two scans, neither of which shuffles the vocabulary:
    *   1. a [[graft.functions.MisraGriesFreqItems]] sketch pass — each
    *      aggregation buffer holds at most ~2×`k` (gram, count) entries, so
    *      the partials that shuffle to the single reducer are KBs regardless
    *      of corpus size, and the result is a guaranteed SUPERSET (≤ k
    *      candidates) of the true heavy hitters plus the exact instance
    *      total;
    *   2. an exact recount of ONLY those candidates — the gram explode is
    *      filtered by a broadcast join against the ≤ k candidates before any
    *      shuffle, so just heavy-gram instances reach the count, and
    *      map-side partial aggregation collapses them to ≤ k rows per task.
    *
    * The sketch's one-sided error (underestimates by at most total/(k+1),
    * never overestimates) means no gram with true count > total/k can be
    * missing from the candidates, and the exact recount prunes any false
    * candidate — so the output is exact and engine-portable, while the
    * corpus-scale plan stays O(k) in state where [[ngramFrequency]] is
    * O(vocabulary). The threshold compares `count·k > total` in integers —
    * no division, no float drift.
    */
  def frequentNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    val sketch = df
      .select(shingles(col(textCol), n).as("_grams"))
      .agg(graft.functions.MisraGriesFreqItems
        .freqItems(col("_grams"), k).as("_mg"))
    heavyGramRecount(df, textCol, n, k, sketch)
  }

  /** The exact-recount half of [[frequentNgrams]], split out so the sketch
    * can come from elsewhere — e.g. a streaming complete-mode aggregation
    * ([[graft.streaming.DocStream]]'s frequent-grams monitor). `sketch` must
    * be a single-row frame with a `_mg struct(total, items)` column
    * satisfying the Misra–Gries superset guarantee over `df`'s grams; the
    * recount output is then exact regardless of HOW the sketch was
    * accumulated (batch vs micro-batches, any partitioning) — candidate
    * content may differ, the thresholded exact counts cannot.
    */
  private[graft] def heavyGramRecount(
      df: DataFrame,
      textCol: String,
      n: Int,
      k: Int,
      sketch: DataFrame): DataFrame = {
    // each candidate row carries the exact total, so one broadcast side
    // serves both the pre-shuffle filter and the final threshold
    val candidates = sketch.select(
      col("_mg.total").as("_total_grams"),
      explode(col("_mg.items")).as("gram"))
    df.select(explode(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(candidates), Seq("gram"))
      .groupBy(col("gram"), col("_total_grams"))
      .agg(count(lit(1)).as("gram_count"))
      .where(col("gram_count") * lit(k.toLong) > col("_total_grams"))
      .select(col("gram"), col("gram_count"))
  }

  /** Sliding context windows over the normalized token stream: windows of
    * `window` tokens advancing by `stride` (stride < window ⇒ overlapping
    * windows — the standard long-document preprocessing for embedding /
    * training-context generation). The last window may be shorter (it ends
    * at the document's end); a document of ≤ `window` tokens yields exactly
    * one window. Returns (doc_id, window_idx, n_tokens, window_text).
    *
    * Scale shape: map-only — tokenize, per-row window-count arithmetic, and
    * an index explode + slice; NO shuffle anywhere, so a 100 TB corpus
    * chunks at scan speed and the output can be written partition-local.
    * Window text length is bounded by `window`, so the fan-out (~len/stride
    * rows per doc) carries bounded-size rows.
    */
  def slidingWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val n = size(col("_toks"))
    val nw = when(n <= window, 1)
      .otherwise(expr(s"1 + ((size(_toks) - $window + $stride - 1) div $stride)").cast("int"))
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .withColumn("_wi", explode(sequence(lit(0), nw - 1)))
      .select(
        col("doc_id"),
        col("_wi").as("window_idx"),
        size(slice(col("_toks"), col("_wi") * stride + 1, lit(window))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("_toks"), col("_wi") * stride + 1, lit(window))).as("window_text"))
  }

  /** Consecutive `chunkSize`-token chunks of the normalized text (last one
    * partial) — the shared convention of [[chunkDedupStats]] and
    * [[removeBoilerplateChunks]]. Assembled per-row with `sequence`/`slice`
    * (codegen; ~tokens/chunkSize rows when exploded, not one per token);
    * bindOnce: the tokenizing split must not re-run per chunk (no CSE
    * inside HOF lambdas — see TextFunctions.bindOnce).
    */
  private def chunkArray(text: Column, chunkSize: Int): Column =
    graft.functions.TextFunctions.bindOnce(tokens(text)) { toks =>
      // (size-1) div chunkSize: Column./ is double division, so truncate the
      // non-negative quotient back to the integral chunk-index bound
      val lastChunk = ((size(toks) - lit(1)) / lit(chunkSize)).cast("int")
      transform(
        sequence(lit(0), lastChunk),
        k => concat_ws(" ", slice(toks, k * chunkSize + lit(1), lit(chunkSize))))
    }

  /** Chunk-level duplication profile (the RefinedWeb-style signal for
    * "mostly boilerplate copied elsewhere"): each document is cut into
    * consecutive `chunkSize`-token chunks (last one partial), a chunk counts
    * as DUPLICATED when its exact content occurs in more than one distinct
    * document, and each document reports its duplicated-chunk count and
    * fraction.
    *
    * Chunk text is reduced to md5 hashes BEFORE any shuffle — the
    * cross-document frequency and the join back to documents move ids and
    * 32-char hashes only, never chunk text. Within-document repetition does
    * not count as duplication: the frequency side is distinct (doc, chunk)
    * pairs.
    */
  def chunkDedupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int = 20): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val chunks = chunkArray(col(textCol), chunkSize)
    val perChunk = df
      .select(col(idCol).as("doc_id"), explode(chunks).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
    val freq = perChunk.distinct()
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_docs_with_chunk"))
    perChunk
      .join(freq, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with_chunk") > 1, 1L).otherwise(0L))
          .as("n_dup_chunks"))
      .withColumn(
        "dup_chunk_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Boilerplate-chunk REMOVAL — the curation action the [[chunkDedupStats]]
    * profile motivates (C4 drops repeated three-sentence spans, RefinedWeb /
    * Dolma drop duplicated lines; here the unit is the same `chunkSize`-token
    * chunk as q74): a chunk is BOILERPLATE when its exact content occurs in
    * more than `maxDocs` distinct documents, and each document's text is
    * rebuilt from its surviving chunks in original order (normalized
    * whitespace, the corpus-wide convention).
    *
    * Scale shape: discovery is ids+hashes only — the rows that shuffle carry
    * (doc_id, chunk_idx, md5); the boilerplate vocabulary (high-df chunks, a
    * small set by construction) semi-joins them to per-doc DROP positions,
    * whose collect_list is bounded by chunks-per-document (a per-doc bound,
    * not a bucket key — the skew class the LSH caps exist for cannot arise);
    * and the text attaches LAST, rebuilt per-row by an index-filter HOF from
    * a second scan of the source — chunk text itself never shuffles.
    *
    * Output: (doc_id, clean_text, n_chunks_kept, n_chunks_dropped); a fully
    * boilerplate document keeps its row with empty text, so the caller
    * decides whether to gate it out.
    */
  def removeBoilerplateChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int = 20,
      maxDocs: Int = 2): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(maxDocs >= 1, "maxDocs must be at least 1")
    val hashRows = df.select(
      col(idCol).as("doc_id"),
      posexplode(transform(chunkArray(col(textCol), chunkSize), c => md5(c))))
      .toDF("doc_id", "chunk_idx", "chunk_hash")
    val boilerplate = hashRows
      .select(col("doc_id"), col("chunk_hash"))
      .distinct()
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") > maxDocs)
      .select(col("chunk_hash"))
    val dropPositions = hashRows
      .join(boilerplate, Seq("chunk_hash"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("chunk_idx"))).as("drop_idx"))
    df.select(col(idCol).as("doc_id"), chunkArray(col(textCol), chunkSize).as("chunks"))
      .join(dropPositions, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        array_join(
          filter(col("chunks"), (c, i) =>
            !array_contains(coalesce(col("drop_idx"), array().cast("array<int>")), i)),
          " ").as("clean_text"),
        (size(col("chunks")) - coalesce(size(col("drop_idx")), lit(0)))
          .cast("long").as("n_chunks_kept"),
        coalesce(size(col("drop_idx")), lit(0)).cast("long").as("n_chunks_dropped"))
  }

  /** Per-document keyword extraction by tf/df score: a token's score is its
    * in-document term frequency divided by its corpus document frequency —
    * the same ordering tf·idf induces, but from two integers whose IEEE
    * division any engine reproduces bit-exactly (no logarithm, whose libm
    * rounding differs across engines). Top `k` tokens per document, ties
    * broken by token.
    *
    * Shape: one explode, a (doc, token) partial-combined count, a
    * vocabulary-sized df join (the small side at corpus scale), and a
    * per-document window whose `row_number <= k` filter plans as a map-side
    * partial WindowGroupLimit — the dominant document never fully sorts its
    * token list on one task.
    */
  def keywordExtract(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    val inst = df.select(
      col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    // df is derivable from tf (each tf row IS one distinct (doc, token)
    // pair), so the corpus is read and tokenized ONCE. The eager persist is
    // what actually enforces that: without it the optimizer column-prunes
    // the df branch differently (it drops the tf count), the two aggregate
    // subtrees stop being canonically equal, ReuseExchange never fires, and
    // the full text is scanned+tokenized twice (plan-verified). tf carries
    // ids+tokens only — far smaller than the text column — and has exactly
    // the two-consumers-one-action shape core.Caching is for.
    val tf = graft.core.Caching.eager(
      inst.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf")))
    val dfCounts = tf.groupBy(col("token")).agg(count(lit(1)).as("df_count"))
    val scored = tf
      .join(dfCounts, Seq("token"))
      .withColumn("score", col("tf").cast("double") / col("df_count").cast("double"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    scored
      .withColumn("keyword_rank", row_number().over(w).cast("long"))
      .where(col("keyword_rank") <= k)
      .select(col("doc_id"), col("keyword_rank"), col("token"),
        col("tf"), col("df_count"), col("score"))
  }

  /** DSIR-flavored target-affinity scoring for data selection: rank every
    * document by how much its vocabulary looks like a TARGET subset of the
    * corpus (Xie et al. 2023's importance-resampling idea, with the hashed
    * n-gram log-likelihood ratio replaced by an integral df-sum ratio —
    * BIGINT sums and ONE final division, so the score is bit-identical
    * across engines, where a per-token float log-sum would not be).
    *
    * A document's affinity is Σ df_target(token) / Σ df_all(token) over its
    * DISTINCT tokens: 1.0 means every token occurrence in the corpus came
    * from target documents; the corpus-wide base rate is |target|/|corpus|.
    * Sampling the top quantile (or hash-thresholding proportional to
    * affinity) reweights the corpus toward the target domain.
    *
    * Shape: one tokenize pass, eagerly persisted (ids+tokens only — the df
    * aggregate AND the per-doc rollup both consume it, the exact
    * two-consumers-one-action contract of [[graft.core.Caching]]); the df
    * side is vocabulary-sized; the rollup re-shuffles by doc id. No text
    * moves after the first projection.
    */
  def targetAffinity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column): DataFrame = {
    val inst = graft.core.Caching.eager(
      df.select(
        col(idCol).as("doc_id"),
        isTarget.as("is_target"),
        explode(array_distinct(tokens(col(textCol)))).as("token")))
    val dfc = inst
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df_all"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("df_target"))
    inst
      .join(dfc, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("df_target")).as("sum_df_target"),
        sum(col("df_all")).as("sum_df_all"))
      .withColumn(
        "affinity",
        col("sum_df_target").cast("double") / col("sum_df_all").cast("double"))
  }

  /** Per-source corpus health report: the dashboard aggregation a curation
    * pipeline runs after every ingest — document and token volume, exact
    * duplicate rate (1 − distinct normalized-content hashes / docs), quality
    * and emptiness counts. Every statistic is a count/integral sum (no
    * float accumulation across rows, whose summation order would break
    * cross-engine determinism); the two rates are single final divisions.
    *
    * Shape: ONE hash-shuffle on the source key; the duplicate rate rides
    * the same aggregation as a `countDistinct` over md5 hashes computed
    * map-side. At 100 TB this is a single pass over the corpus with
    * partial aggregation — the report never materializes per-document rows.
    */
  def corpusReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      minQuality: Double = 0.5): DataFrame =
    df.groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(tokenCount(col(textCol))), lit(0L)).as("total_tokens"),
        countDistinct(md5(normalizeText(col(textCol)))).as("n_distinct_contents"),
        count(when(qualityScore(col(textCol)) >= minQuality, 1)).as("n_quality_pass"),
        count(when(col(textCol).isNull || length(col(textCol)) === 0, 1)).as("n_empty"))
      .withColumn(
        "dup_rate",
        lit(1.0) - col("n_distinct_contents").cast("double") / col("n_docs").cast("double"))
      .withColumn(
        "quality_pass_rate",
        col("n_quality_pass").cast("double") / col("n_docs").cast("double"))

  /** Cross-source duplication matrix: for every unordered source pair, the
    * number of distinct normalized contents present in BOTH — the crawl
    * provenance diagnostic (mirror detection, aggregator identification)
    * behind per-source dedup priorities.
    *
    * Shape: one hash-shuffle groups (content-hash, source-set); the pair
    * explode is bounded by the source count (tiny), so no content ever
    * pairs with content — sources do. At 100 TB this is the exact-dedup
    * aggregation with a set-valued payload bounded by |sources|.
    */
  def crossSourceDuplication(
      df: DataFrame,
      textCol: String,
      sourceCol: String): DataFrame = {
    val pairCombos = graft.functions.TextFunctions.bindOnce(
      array_sort(col("_sources"))) { ss =>
      flatten(
        transform(
          ss,
          (a, i) =>
            transform(
              slice(ss, i + lit(2), size(ss) - i - lit(1)),
              b => struct(a.as("source_a"), b.as("source_b")))))
    }
    // NULL text is "no content", not shared content: Spark's groupBy keeps a
    // NULL hash group (and would pair every source holding a null-text row),
    // while any SQL equi-join on the hash drops NULLs — filter first so both
    // semantics agree and null rows never fabricate a mirror signal.
    df.where(col(textCol).isNotNull)
      .groupBy(md5(normalizeText(col(textCol))).as("_h"))
      .agg(collect_set(col(sourceCol)).as("_sources"))
      .where(size(col("_sources")) >= 2)
      .select(explode(pairCombos).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_contents"))
  }

  /** N-gram novelty score vs a reference corpus: for each scored document,
    * the fraction of its distinct word `n`-grams that do NOT occur anywhere
    * in `ref` — the novelty-filtering statistic used to bias a training
    * mixture toward unseen content (the complement of the contamination
    * overlap). A document with no n-grams (fewer than `n` tokens) scores
    * 0.0 — nothing new.
    *
    * Shape: the reference side collapses to a distinct n-gram-hash
    * vocabulary (ids never text, same inverted-index build as
    * [[contamination]]); the scored side explodes to (doc_id, gram_hash) and
    * left-semi-probes the vocabulary, so the one join shuffles only
    * id+hash rows. The per-doc gram arrays are eager-persisted because two
    * consumers (the explode and the per-doc totals) would otherwise each
    * rescan and re-tokenize the text (column pruning defeats ReuseExchange
    * here — the q75 lesson).
    */
  /** N-gram language-model QUALITY SCORE: per-document bigram surprisal
    * against corpus-wide bigram statistics — the perplexity-style filter
    * curation pipelines run to drop gibberish (high surprisal) and spot
    * over-templated text (abnormally low). Add-one-smoothed conditional
    * probability `p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)`, with the
    * per-gram log taken in EXACT integer arithmetic: surprisal bits =
    * `⌊log₂(den/num)⌋ = length(bin(den div num)) − 1` (floor-div cannot
    * cross a power of two for x ≥ 1, so the identity is exact). No
    * transcendental anywhere — libm `ln` is NOT bit-stable across engines
    * (the [[targetAffinity]] / BM25 precedent), while `bin()` of a BIGINT
    * agrees everywhere. The only float op is ONE division per document at
    * output (mean bits per gram).
    *
    * Verdict: `high_surprisal` iff the doc's mean bits exceed the corpus
    * mean, decided by the integer cross-multiplication
    * `bits_doc · grams_corpus > bits_corpus · grams_doc` (safe in BIGINT
    * to ~10¹⁴ corpus grams × 10³ doc grams). Documents with fewer than
    * two tokens keep their row with zero grams and null score/verdict.
    *
    * Shape: text collapses to (doc, w1, w2, multiplicity) map-side-ONE
    * pass; corpus bigram and prefix counts are aggregate-dimension frames
    * joined back by gram key; the corpus totals attach as a scalar. At
    * 100 TB nothing fact-sized is ever windowed or self-joined.
    *
    * Returns (doc_id, n_grams, surprisal_bits, mean_bits, verdict).
    */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // three consumers (corpus counts, prefix counts, the score join): one
    // tokenize pass, eager (q181 discipline)
    // r19: adjacent-pair structs come from the native kernel
    // (BigramStructsExpr — byte slices of the normalized text) instead of
    // the interpreted transform(sequence(...), struct(element_at...))
    // lambda; pairs bit-identical (TextStatExprsSpec), size(_gs) >= 1 ≡
    // size(tokens) >= 2
    val docGrams = graft.core.Caching.eager(
      df.select(col(idCol).as("doc_id"),
          graft.functions.BigramStructsExpr.fast(
            graft.functions.TextFunctions.normalizeText(col(textCol))).as("_gs"))
        .where(size(col("_gs")) >= 1)
        .select(col("doc_id"), explode(col("_gs")).as("_g"))
        .groupBy(col("doc_id"), col("_g.w1").as("w1"), col("_g.w2").as("w2"))
        .agg(count(lit(1)).as("m")))
    // cb has THREE consumers (cp, vocab, the score join) and scored TWO
    // (totals + the final left join) — eager both, or the bigram
    // aggregation and the gram join re-run per consumer (q181 discipline)
    val cb = graft.core.Caching.eager(
      docGrams.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c_big")))
    val cp = cb.groupBy(col("w1")).agg(sum(col("c_big")).as("c_pre"))
    val vocab = cb.agg(count_distinct(col("w2")).as("_vocab"))
    val scored = graft.core.Caching.eager(graft.core.ScalarJoin.withScalars(
        docGrams.join(cb, Seq("w1", "w2")).join(cp, Seq("w1")), vocab)
      .withColumn("_bits",
        length(bin(expr("(c_pre + _vocab) DIV (c_big + 1)"))).cast("long") - 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_grams"),
        sum(col("m") * col("_bits")).as("surprisal_bits")))
    val totals = scored.agg(
      sum(col("surprisal_bits")).as("_t_bits"), sum(col("n_grams")).as("_t_grams"))
    graft.core.ScalarJoin.withScalars(
        df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left"),
        totals)
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(col("n_grams") > 0,
          col("surprisal_bits").cast("double") / col("n_grams").cast("double"))
          .as("mean_bits"),
        when(col("n_grams") > 0,
          when(col("surprisal_bits") * col("_t_grams") >
            col("_t_bits") * col("n_grams"), "high_surprisal")
            .otherwise("typical"))
          .as("verdict"))
  }

  def ngramNovelty(
      df: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): DataFrame = {
    val p = lit(Sha60.Mersenne31)
    // fused native gram hash (r19): sha256 straight off each gram's byte
    // slice, only the cheap long pmod left in the interpreted lambda —
    // values identical to pmod(sha60(gram), p) by GramExprsSpec parity
    def gramHashes(text: Column): Column =
      array_distinct(transform(
        graft.functions.SpanGramHashesExpr.spanGramHashesFast(
          graft.functions.TextFunctions.normalizeText(text), n),
        h => pmod(h, p)))

    val docGrams = graft.core.Caching.eager(
      df.select(col(idCol).as("doc_id"), gramHashes(col(textCol)).as("gs")))
    val refVocab = ref
      .select(explode(gramHashes(col(textCol))).as("g"))
      .distinct()

    val seen = docGrams
      .select(col("doc_id"), explode(col("gs")).as("g"))
      .join(refVocab, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seen"))

    docGrams
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(seen, Seq("doc_id"), "left")
      .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
      .withColumn(
        "novelty",
        when(
          col("n_grams") > 0L,
          lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Per-source document-length profile: exact interpolated token-count
    * percentiles (dyadic fractions only — 1/4, 1/2, 3/4, 7/8 — so the
    * interpolation arithmetic on integer counts is exact in both engines,
    * the q20 determinism rule) plus min/max/count. The length histogram a
    * curation pipeline consults before choosing packing budgets and length
    * filters.
    *
    * Shape: text collapses to one Long per document map-side, then ONE
    * hash-shuffle on the source key. Spark's exact percentile aggregates a
    * value→count map partially, so per-group state is bounded by DISTINCT
    * token counts (≤ max doc length), not by row count — safe at 100 TB.
    */
  def lengthPercentiles(
      df: DataFrame,
      textCol: String,
      sourceCol: String): DataFrame = {
    // exact percentiles WITHOUT a per-source value multiset: token counts
    // collapse to the (source, n_tokens) value dimension first — ONE pass
    // over the text, null counts kept as their own dimension row — then
    // the order statistics are rank-picked there (Analytics
    // .exactPercentilesByValue with cntCol — bit-equal to the
    // percentile() aggregate, minus its O(group) buffer). n_docs counts
    // ALL docs (null token counts included) and a source whose texts are
    // all null keeps its report row with null stats — the coverage the
    // built-in percentile() version had, which the value-dimension
    // rewrite alone would silently drop with its null-skip.
    val vdim = graft.core.Caching.eager(
      df.select(
          col(sourceCol).as("source"),
          tokenCount(col(textCol)).cast("long").as("n_tokens"))
        .groupBy(col("source"), col("n_tokens"))
        .agg(count(lit(1)).as("_c")))
    val totals = vdim.groupBy(col("source")).agg(sum(col("_c")).as("n_docs"))
    val pct = graft.operators.Analytics.exactPercentilesByValue(
      vdim, Seq("source"), "n_tokens",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p875" -> 0.875),
      cntCol = Some("_c"))
    // null-SAFE join key: a NULL source is a legal group (the oracle's
    // GROUP BY keeps it with real quantile values) — a plain equi-join
    // would strand its percentile row and emit null stats
    totals.join(pct.withColumnRenamed("source", "_src"),
        col("source") <=> col("_src"), "left")
      .select(
        col("source"),
        col("n_docs"),
        col("min_value").as("min_tokens"),
        col("p25"), col("p50"), col("p75"), col("p875"),
        col("max_value").as("max_tokens"))
  }

  /** Truncation-impact report: per source and per candidate sequence-length
    * cap, the tokens retained (Σ min(n_tokens, cap)) and documents that
    * would be cut — the statistic behind choosing a training max_seq_len
    * (complements [[lengthPercentiles]]: percentiles say where the mass is,
    * this says what each cap costs). Integer sums only — deterministic in
    * any engine.
    *
    * Shape: text collapses to one Long map-side; ONE hash-shuffle on the
    * source key computes every cap's columns in the same aggregation pass.
    */
  def truncationImpact(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      caps: Seq[Int]): DataFrame = {
    val base = df.select(
      col(sourceCol).as("source"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val aggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens")) ++
        caps.flatMap { cap =>
          Seq(
            sum(least(col("n_tokens"), lit(cap.toLong))).as(s"kept_$cap"),
            count(when(col("n_tokens") > cap, 1)).as(s"cut_docs_$cap"))
        }
    base.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
  }

  /** Temperature-based mixture quotas (α = 0.5): per-source keep quotas
    * proportional to √(doc count), the sub-linear domain reweighting used to
    * upsample small domains and downsample dominant ones (the α-sampling of
    * multilingual/multi-domain pretraining), then the hash-rank-first
    * `quota` documents of each source. Returns kept rows
    * (doc_id, source, sample_rank, quota).
    *
    * Determinism across engines: √n is floored to integer "credits"
    * (⌊√n·1000⌋ — ONE double op per source, no accumulation), the credit
    * total is an integer sum (order-free), and quotas are integer division
    * `totalDocs·credits div totalCredits` — no float sum whose order could
    * differ between Spark and the SQL oracle.
    *
    * Shape: the per-source count aggregation produces a sources-sized frame
    * (broadcast back); the rank-and-keep is the q56 WindowGroupLimit
    * partial top-k on id rows. One corpus shuffle total at 100 TB.
    */
  def temperatureMixture(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      totalQuota: Long): DataFrame = {
    val counts = df
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("credits", floor(sqrt(col("n_docs").cast("double")) * 1000.0).cast("long"))
    val total = graft.core.ScalarJoin.withScalars(
      counts,
      counts.agg(sum(col("credits")).as("_total_credits")))
    val quotas = total
      .withColumn("quota", expr(s"CAST($totalQuota AS BIGINT) * credits DIV _total_credits"))
      .select(col("source"), col("quota"))
    val w = Window
      .partitionBy(col("source"))
      .orderBy(Sha60.sha60(col("doc_id")), col("doc_id"))
    df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      // literal bound first: quota ≤ totalQuota always, and a literal (unlike
      // the per-source quota column) lets Spark plan a partial
      // WindowGroupLimit, pruning each source to totalQuota id rows map-side
      .where(col("sample_rank") <= lit(totalQuota))
      .join(broadcast(quotas), Seq("source"))
      .where(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("sample_rank"), col("quota"))
  }

  /** Token-budget source capping: keep, per source, the hash-rank-first
    * documents whose running token total starts inside `budget` — the
    * "sample N tokens per domain" primitive of pretraining-mixture
    * construction. A document is kept iff the tokens BEFORE it are under
    * budget, so each source slightly overshoots (by part of one document)
    * rather than undershooting. Ordering is `Sha60(id)` — a deterministic
    * uniform shuffle, so the kept prefix is an unbiased sample at any
    * budget. Returns (doc_id, source, n_tokens, cum_tokens).
    *
    * Scale shape: a naive per-source window cumsum would buffer an entire
    * source's rows in one task. Instead the prefix sum is two-level: rows
    * bucket by the high bits of the rank key (which preserves rank order),
    * bucket totals aggregate in parallel, a tiny window over ≤4096
    * bucket-total rows per source computes each bucket's starting offset,
    * and the per-(source,bucket) window adds offsets to in-bucket cumsums —
    * every window task sees at most one bucket, ~1/4096th of a source, of
    * id+count rows (text is pruned before any shuffle).
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budget: Long): DataFrame = {
    // rank key < 2^60 (Sha60), so >> 48 yields 4096 order-preserving buckets.
    // Two consumers (bucket totals + the windowed join side) with different
    // partitionings, so ReuseExchange cannot fire — eager-persist the slim
    // id+count frame so the text is scanned and tokenized exactly once.
    val slim = graft.core.Caching.eager(
      df.select(
        col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        Sha60.sha60(col(idCol)).as("_rank"))
        .withColumn("_bucket", shiftright(col("_rank"), 48)))

    val offsets = slim
      .groupBy(col("source"), col("_bucket"))
      .agg(sum(col("n_tokens")).as("_bucket_tokens"))
      .withColumn(
        "_offset",
        coalesce(
          sum(col("_bucket_tokens")).over(
            Window.partitionBy(col("source")).orderBy(col("_bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("source"), col("_bucket"), col("_offset"))

    val inBucket = Window
      .partitionBy(col("source"), col("_bucket"))
      .orderBy(col("_rank"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    slim
      .join(offsets, Seq("source", "_bucket"))
      .withColumn("cum_tokens", col("_offset") + sum(col("n_tokens")).over(inBucket))
      .where(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }
}
