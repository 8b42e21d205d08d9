package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Curation

/** Streaming document curation — the ingest-time twin of the batch
  * [[graft.operators.Curation]] pipeline: documents arriving as parquet
  * drops are quality-scored, language-tagged, repetition-checked, and
  * PII-masked inside the stream.
  *
  * Every gate here is stateless per-row expression work, so the streaming
  * plan is identical to the batch plan modulo the source — no state store,
  * no watermark needed, unbounded-stream-safe by construction. (Stateful
  * streaming curation — dedup within a horizon — is [[EventStream
  * .dedupStream]]; near-dup clustering stays a batch/compaction job by
  * design: LSH banding needs the full corpus.)
  */
object DocStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based document stream from a directory of parquet drops. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Compact content-hash index of an existing corpus — the static side of
    * [[dedupAgainstCorpus]]. Hash-only: at scale this is the only corpus
    * artifact the stream needs resident.
    */
  def corpusIndex(corpus: DataFrame): DataFrame =
    corpus
      .select(md5(TextFunctions.normalizeText(col("text"))).as("content_hash"))
      .distinct()

  /** Drop stream documents whose normalized content already exists in the
    * corpus index (stream–static `left_anti` join; Spark re-plans the static
    * side per micro-batch, broadcasting while it fits). The streaming twin
    * of [[graft.operators.Dedup.exactIncrement]] — within-stream dedup is
    * [[EventStream.dedupStream]]'s watermark-bounded state instead.
    */
  def dedupAgainstCorpus(docs: DataFrame, index: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(TextFunctions.normalizeText(col("text"))))
      .join(index, Seq("content_hash"), "left_anti")
      .drop("content_hash")

  /** Signature → capped corpus-id bucket index over an embedding corpus —
    * the static side of [[dedupEmbeddingsAgainstCorpus]] and the streaming
    * twin of the index [[graft.operators.Dedup.embeddingIncrementalDuplicates]]
    * builds. Ids + vectors keyed by hyperplane signature; at scale this is a
    * precomputed table refreshed by the batch compaction job.
    */
  def embeddingCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 12,
      maxBucketSize: Int = 200): DataFrame =
    embeddingIndexState(corpus, idCol, vecCol, nPlanes, maxBucketSize).index

  /** Refreshable form of the embedding index — the [[MinHashIndexState]]
    * pattern for the vector tier: `index` is the probe-side frame,
    * `bucketCounts` the TRUE size of every hyperplane bucket (over-cap
    * tombstones included), which is what keeps [[refreshEmbeddingIndex]]
    * exactly rebuild-equivalent.
    */
  final case class EmbeddingIndexState(index: DataFrame, bucketCounts: DataFrame)

  /** [[embeddingCorpusIndex]] plus its bucket-count sidecar. */
  def embeddingIndexState(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nPlanes: Int = 12,
      maxBucketSize: Int = 200): EmbeddingIndexState = {
    import graft.functions.HyperplaneSignatureExpr.hyperplaneFast
    val sigged = corpus.select(
      col(idCol).as("_c_id"),
      col(vecCol).as("_c_vec"),
      hyperplaneFast(col(vecCol), nPlanes).as("_sig"))
    val counts = sigged
      .groupBy(col("_sig"))
      .agg(count(lit(1)).as("n"))
    val keep = counts
      .where(col("n") <= maxBucketSize)
      .select(col("_sig"))
    // the plane count (and cap) ride in the _sig column's schema METADATA:
    // the probe side reads it driver-side with no job, it survives a
    // parquet round-trip, and a mismatched caller value (which would
    // silently match nothing and disable dedup) becomes impossible
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(NPlanesMetaKey, nPlanes.toLong)
      .putLong(LshMaxBucketMetaKey, maxBucketSize.toLong)
      .build()
    val index = sigged.join(keep, Seq("_sig"), "left_semi")
      .select(col("_sig").as("_sig", sigMeta), col("_c_id"), col("_c_vec"))
    EmbeddingIndexState(index, counts)
  }

  /** Fold a day's ADMITTED vectors into the embedding index state — the
    * vector twin of [[refreshMinhashIndexFromSigs]], delta-sized end to
    * end with the same rebuild-equivalence argument: true union counts
    * decide every bucket's fate, so tombstoned buckets stay dead and
    * buckets pushed over the cap drop all rows.
    */
  def refreshEmbeddingIndex(
      state: EmbeddingIndexState,
      admitted: DataFrame,
      idCol: String,
      vecCol: String): EmbeddingIndexState = {
    import graft.functions.HyperplaneSignatureExpr.hyperplaneFast
    val meta = state.index.schema("_sig").metadata
    require(meta.contains(NPlanesMetaKey) && meta.contains(LshMaxBucketMetaKey),
      "index must come from DocStream.embeddingIndexState (missing LSH metadata)")
    val nPlanes = meta.getLong(NPlanesMetaKey).toInt
    val maxBucketSize = meta.getLong(LshMaxBucketMetaKey)
    val sigged = admitted.select(
      col(idCol).as("_c_id"),
      col(vecCol).as("_c_vec"),
      hyperplaneFast(col(vecCol), nPlanes).as("_sig"))
    val newCounts = sigged.groupBy(col("_sig")).agg(count(lit(1)).as("n"))
    val counts = state.bucketCounts
      .unionByName(newCounts)
      .groupBy(col("_sig"))
      .agg(sum(col("n")).as("n"))
    val keep = counts
      .where(col("n") <= maxBucketSize)
      .select(col("_sig"))
    val index = state.index
      .unionByName(sigged.select(col("_sig"), col("_c_id"), col("_c_vec")))
      .join(keep, Seq("_sig"), "left_semi")
      .select(col("_sig").as("_sig", meta), col("_c_id"), col("_c_vec"))
    EmbeddingIndexState(index, counts)
  }

  /** Int8-quantized form of [[embeddingCorpusIndex]]: identical hyperplane
    * buckets and cap discipline, but the probe-side payload is the int8
    * CODES under `params` — a quarter of the float32 state (an eighth of
    * float64), which is the point: the static side of a streaming
    * admission join is re-broadcast every micro-batch, so its byte size
    * is the recurring cost. Candidate scoring downstream is the exact
    * integer code dot ([[dedupQuantizedAgainstCorpus]]).
    */
  def quantizedCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      params: Seq[(Double, Double)],
      nPlanes: Int = 12,
      maxBucketSize: Int = 200): DataFrame =
    embeddingIndexState(corpus, idCol, vecCol, nPlanes, maxBucketSize).index
      .select(col("_sig"), col("_c_id"),
        graft.operators.Quantize.codesCol(col("_c_vec"), params).as("_c_codes"))

  /** Quantized streaming dedup admission: the memory-bound twin of
    * [[dedupEmbeddingsAgainstCorpus]] — same single stream–static
    * `left_anti` with the gate folded into the join condition, but the
    * similarity is the EXACT integer dot of the int8 codes (stream
    * vectors encode map-only under the same `params` the index was built
    * with) against `minQDot`. Integer scoring is engine-portable with no
    * fold-order pinning; the calibration-coupling hazard (stale `params`
    * after a drifted day) is exactly what [[graft.operators.Quantize
    * .calibrationDrift]] reports.
    */
  def dedupQuantizedAgainstCorpus(
      stream: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      params: Seq[(Double, Double)],
      minQDot: Long): DataFrame = {
    import graft.functions.HyperplaneSignatureExpr.hyperplaneFast
    val sigMeta = index.schema("_sig").metadata
    require(sigMeta.contains(NPlanesMetaKey),
      "index must come from DocStream.quantizedCorpusIndex (missing nPlanes metadata)")
    val nPlanes = sigMeta.getLong(NPlanesMetaKey).toInt
    val sigged = stream
      .withColumn("_sig", hyperplaneFast(col(vecCol), nPlanes))
      .withColumn("_codes", graft.operators.Quantize.codesCol(col(vecCol), params))
    sigged
      .join(
        index,
        sigged("_sig") === index("_sig") &&
          graft.functions.QuantizedDot.quantizedDotFast(
            col("_codes"), index("_c_codes")) >= minQDot,
        "left_anti")
      .drop("_sig", "_codes")
  }

  private[graft] val NPlanesMetaKey = "graft.lsh.nPlanes"
  private[graft] val LshMaxBucketMetaKey = "graft.lsh.maxBucketSize"

  /** Drop stream vectors that are near-duplicates (cosine ≥ `minCosine`) of
    * some corpus vector in the same hyperplane bucket: stream–static join on
    * the signature, per-candidate cosine, then `left_anti` against the
    * matched ids. Stateless per micro-batch — the stream never holds corpus
    * state; the static index is re-planned (and broadcast while it fits)
    * each batch.
    */
  def dedupEmbeddingsAgainstCorpus(
      stream: DataFrame,
      index: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95): DataFrame = {
    import graft.functions.CosineSimilarity.cosineFast
    import graft.functions.HyperplaneSignatureExpr.hyperplaneFast
    // the plane count comes FROM the index's schema metadata — zero jobs at
    // construction, and a not-yet-populated index still works: the static
    // side is re-planned every micro-batch, so dedup engages the moment the
    // batch compaction job first fills it
    val sigMeta = index.schema("_sig").metadata
    require(sigMeta.contains(NPlanesMetaKey),
      "index must come from DocStream.embeddingCorpusIndex (missing nPlanes metadata)")
    val nPlanes = sigMeta.getLong(NPlanesMetaKey).toInt
    // ONE stream-static left_anti with the cosine folded into the join
    // condition — a second join against a stream-derived dup-id frame would
    // be an unsupported stream-stream anti join
    val sigged = stream.withColumn("_sig", hyperplaneFast(col(vecCol), nPlanes))
    sigged
      .join(
        index,
        sigged("_sig") === index("_sig") &&
          cosineFast(col(vecCol), index("_c_vec")) >= minCosine,
        "left_anti")
      .drop("_sig")
  }

  private[graft] val NumHashesMetaKey = "graft.minhash.numHashes"
  private[graft] val NumBandsMetaKey = "graft.minhash.numBands"
  private[graft] val ShingleNMetaKey = "graft.minhash.shingleN"
  private[graft] val MaxBucketMetaKey = "graft.minhash.maxBucketSize"

  /** Refreshable form of the MinHash corpus index — what the daily batch
    * compaction job actually maintains. `index` is the probe-side frame
    * ([[minhashCorpusIndex]] shape); `bucketCounts` is the TRUE size of
    * EVERY band bucket, including the over-cap buckets whose rows the index
    * dropped. The counts sidecar is what makes [[refreshMinhashIndex]]
    * exactly equivalent to a from-scratch rebuild: without it, admitted
    * docs landing in a tombstoned (over-cap) bucket would resurrect it with
    * only the new rows — a silent divergence from the rebuild, which drops
    * the bucket outright (union counts only grow, so over-cap is permanent).
    */
  final case class MinHashIndexState(index: DataFrame, bucketCounts: DataFrame)

  /** Capped MinHash band index of a text corpus — the static side of
    * [[nearDupAdmission]] and the streaming twin of the index
    * [[graft.operators.Dedup.minhashIncrementalDuplicates]] derives
    * internally: (band, band_hash, corpus_id, c_set), degenerate buckets
    * dropped count-first. At scale this is a precomputed table refreshed by
    * the batch compaction job — computing it is the expensive corpus pass,
    * so it runs ONCE here rather than once per micro-batch.
    *
    * The LSH parameters ride in the `band` column's schema metadata (the
    * [[embeddingCorpusIndex]] pattern): the probe side reads them with no
    * job, and a mismatched caller parameter — which would silently match
    * nothing and disable dedup — becomes impossible.
    *
    * `c_set` carries sigDocs' SORTED-DISTINCT shingle representation (the
    * [[graft.functions.SortedSetOverlap]] precondition). A PERSISTED index
    * must therefore be rebuilt, not reused, across engine versions that
    * change the set convention — the probe side assumes the index was
    * written by the same sigDocs.
    */
  def minhashCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      shingleN: Int = 3,
      maxBucketSize: Int = 50): DataFrame =
    minhashIndexState(corpus, idCol, textCol, numHashes, numBands, shingleN,
      maxBucketSize).index

  /** [[minhashCorpusIndex]] plus its bucket-count sidecar — the pair the
    * daily refresh loop persists (see [[MinHashIndexState]]).
    */
  def minhashIndexState(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      shingleN: Int = 3,
      maxBucketSize: Int = 50): MinHashIndexState =
    minhashIndexStateFromSigs(
      graft.operators.Dedup.sigDocs(corpus, idCol, textCol, shingleN, numHashes),
      numHashes, numBands, shingleN, maxBucketSize)

  /** [[minhashIndexState]] over an already-signed frame (the
    * [[graft.operators.Dedup.minhashNearDuplicatesFromSigs]] contract:
    * `sigs` is a caller-cached sigDocs output) — pipelines that both
    * cluster and index one corpus sign it once.
    */
  def minhashIndexStateFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      numBands: Int,
      shingleN: Int,
      maxBucketSize: Int): MinHashIndexState = {
    import graft.operators.Dedup
    val banded = Dedup.bandFrame(sigs, numBands, numHashes / numBands)
    val counts = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n"))
    val keep = counts
      .where(col("n") <= maxBucketSize)
      .select(col("band"), col("band_hash"))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(NumHashesMetaKey, numHashes.toLong)
      .putLong(NumBandsMetaKey, numBands.toLong)
      .putLong(ShingleNMetaKey, shingleN.toLong)
      .putLong(MaxBucketMetaKey, maxBucketSize.toLong)
      .build()
    val index = banded
      .join(keep, Seq("band", "band_hash"), "left_semi")
      .join(sigs.select(col("doc_id"), col("shingle_set").as("c_set")), Seq("doc_id"))
      .select(
        col("band").as("band", meta),
        col("band_hash"),
        col("doc_id").as("corpus_id"),
        col("c_set"))
    MinHashIndexState(index, counts)
  }

  /** Fold a day's ADMITTED documents into the content-hash index: the
    * refreshed index is exactly [[corpusIndex]] over corpus ∪ admitted
    * (hash-distinct union — the admitted side is delta-sized, so the merge
    * never rescans corpus text).
    */
  def refreshCorpusIndex(index: DataFrame, admitted: DataFrame,
      textCol: String = "text"): DataFrame =
    index
      .unionByName(admitted
        .select(md5(TextFunctions.normalizeText(col(textCol))).as("content_hash")))
      .distinct()

  /** Fold a day's ADMITTED documents into the MinHash index state — the
    * batch-compaction step of the daily loop, delta-sized end to end:
    * the admitted docs are signed and banded (the corpus is NEVER
    * re-scanned), their band rows union into the index, and every bucket's
    * TRUE count is re-derived from the counts sidecar + the delta's
    * counts. A bucket whose union count exceeds the cap loses ALL its rows
    * (old and new), so the refreshed index is row-identical to
    * [[minhashIndexState]] rebuilt from scratch over corpus ∪ admitted —
    * the invariant q121 certifies through the stream:
    *
    *  - union count ≤ cap ⇒ old count ≤ cap ⇒ the old rows survived day-0
    *    capping and are all present; the delta rows are appended — equal to
    *    the rebuild's bucket.
    *  - union count > cap ⇒ both drop the bucket entirely.
    *
    * LSH parameters come from the index's schema metadata (the
    * [[embeddingCorpusIndex]] pattern), so a refresh with mismatched
    * parameters — which would corrupt the index silently — is impossible.
    */
  def refreshMinhashIndex(
      state: MinHashIndexState,
      admitted: DataFrame,
      idCol: String,
      textCol: String): MinHashIndexState = {
    val meta = state.index.schema("band").metadata
    require(
      meta.contains(NumHashesMetaKey) && meta.contains(ShingleNMetaKey),
      "index must come from DocStream.minhashIndexState (missing LSH metadata)")
    refreshMinhashIndexFromSigs(
      state,
      graft.operators.Dedup.sigDocs(admitted, idCol, textCol,
        meta.getLong(ShingleNMetaKey).toInt, meta.getLong(NumHashesMetaKey).toInt))
  }

  /** [[refreshMinhashIndex]] over an already-signed admitted frame.
    *
    * The returned state's frames derive from the input state's (one union
    * + re-cap per fold): a production loop folding many days should write
    * each day's index/counts to parquet and refresh from the READ-BACK —
    * that is the lineage checkpoint; chaining dozens of folds as pure
    * DataFrames grows the plan unboundedly.
    */
  def refreshMinhashIndexFromSigs(
      state: MinHashIndexState,
      admittedSigs: DataFrame): MinHashIndexState = {
    import graft.operators.Dedup
    val meta = state.index.schema("band").metadata
    require(
      meta.contains(NumHashesMetaKey) && meta.contains(NumBandsMetaKey) &&
        meta.contains(MaxBucketMetaKey),
      "index must come from DocStream.minhashIndexState (missing LSH metadata)")
    val numHashes = meta.getLong(NumHashesMetaKey).toInt
    val numBands = meta.getLong(NumBandsMetaKey).toInt
    val maxBucketSize = meta.getLong(MaxBucketMetaKey)
    val banded = Dedup.bandFrame(admittedSigs, numBands, numHashes / numBands)
    val newRows = banded
      .join(admittedSigs.select(col("doc_id"), col("shingle_set").as("c_set")),
        Seq("doc_id"))
      .select(col("band"), col("band_hash"), col("doc_id").as("corpus_id"),
        col("c_set"))
    val newCounts = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n"))
    val counts = state.bucketCounts
      .unionByName(newCounts)
      .groupBy(col("band"), col("band_hash"))
      .agg(sum(col("n")).as("n"))
    val keep = counts
      .where(col("n") <= maxBucketSize)
      .select(col("band"), col("band_hash"))
    val index = state.index
      .unionByName(newRows)
      .join(keep, Seq("band", "band_hash"), "left_semi")
      .select(
        col("band").as("band", meta),
        col("band_hash"),
        col("corpus_id"),
        col("c_set"))
    MinHashIndexState(index, counts)
  }

  /** Persist a MinHash index state as the daily loop's lineage checkpoint:
    * `dir/index` + `dir/counts` parquet tables. The LSH parameters ride in
    * the index's `band` column schema metadata, which Spark stores in the
    * parquet footer schema — [[readMinhashIndexState]] proves they survived
    * before handing the state to a refresh (q127 certifies the whole
    * round-trip against a from-scratch rebuild). At scale this is the
    * compaction job's commit point: each day folds FROM the read-back of
    * yesterday's tables, so the lineage (and the Spark plan) stays one day
    * deep instead of growing across the loop's life.
    */
  def writeMinhashIndexState(state: MinHashIndexState, dir: String): Unit = {
    state.index.write.mode("overwrite").parquet(s"$dir/index")
    state.bucketCounts.write.mode("overwrite").parquet(s"$dir/counts")
  }

  /** Read back a [[writeMinhashIndexState]] checkpoint. Fails loudly at
    * READ time if the parquet round-trip lost the LSH schema metadata —
    * the alternative is [[refreshMinhashIndex]]'s `require` tripping a day
    * later, or a silent mis-parameterized refresh.
    */
  def readMinhashIndexState(spark: SparkSession, dir: String): MinHashIndexState = {
    val index = spark.read.parquet(s"$dir/index")
    val meta = index.schema("band").metadata
    require(
      meta.contains(NumHashesMetaKey) && meta.contains(NumBandsMetaKey) &&
        meta.contains(ShingleNMetaKey) && meta.contains(MaxBucketMetaKey),
      s"checkpoint $dir/index lost its LSH schema metadata in the parquet round-trip")
    MinHashIndexState(index, spark.read.parquet(s"$dir/counts"))
  }

  /** Compact the counts sidecar: keep ONLY over-cap tombstone rows. An
    * under-cap bucket's count equals its index row count (the refresh
    * invariant — under-cap buckets keep every row), so those rows are
    * redundant with the index and [[expandMinhashIndexState]] re-derives
    * them exactly; over-cap tombstones are the only counts the index lost
    * and MUST survive (they are what keeps dead buckets dead across
    * refreshes). Without compaction the sidecar holds a row for every
    * bucket ever seen — at years of daily folds, index-sized metadata;
    * compacted it holds only the tombstones.
    */
  def compactMinhashIndexState(state: MinHashIndexState): MinHashIndexState = {
    val meta = state.index.schema("band").metadata
    require(meta.contains(MaxBucketMetaKey),
      "index must come from DocStream.minhashIndexState (missing LSH metadata)")
    MinHashIndexState(
      state.index,
      state.bucketCounts.where(col("n") > meta.getLong(MaxBucketMetaKey)))
  }

  /** Rebuild the full counts sidecar of a [[compactMinhashIndexState]]
    * output: tombstone rows pass through; every bucket absent from the
    * sidecar gets its count re-derived from the index (exact, by the
    * under-cap invariant). Idempotent — expanding an already-full state
    * returns it row-identically — so a loop may expand unconditionally
    * after load. One aggregation + anti-join over the index, paid by the
    * compaction consumer at load time, not by every refresh.
    */
  def expandMinhashIndexState(state: MinHashIndexState): MinHashIndexState =
    MinHashIndexState(
      state.index,
      state.bucketCounts.unionByName(
        state.index
          .groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("n"))
          .join(state.bucketCounts.select(col("band"), col("band_hash")),
            Seq("band", "band_hash"), "left_anti")))

  /** [[writeMinhashIndexState]] for the embedding tier. */
  def writeEmbeddingIndexState(state: EmbeddingIndexState, dir: String): Unit = {
    state.index.write.mode("overwrite").parquet(s"$dir/index")
    state.bucketCounts.write.mode("overwrite").parquet(s"$dir/counts")
  }

  /** [[readMinhashIndexState]] for the embedding tier. */
  def readEmbeddingIndexState(spark: SparkSession, dir: String): EmbeddingIndexState = {
    val index = spark.read.parquet(s"$dir/index")
    val meta = index.schema("_sig").metadata
    require(meta.contains(NPlanesMetaKey) && meta.contains(LshMaxBucketMetaKey),
      s"checkpoint $dir/index lost its LSH schema metadata in the parquet round-trip")
    EmbeddingIndexState(index, spark.read.parquet(s"$dir/counts"))
  }

  /** [[compactMinhashIndexState]] for the embedding tier. */
  def compactEmbeddingIndexState(state: EmbeddingIndexState): EmbeddingIndexState = {
    val meta = state.index.schema("_sig").metadata
    require(meta.contains(LshMaxBucketMetaKey),
      "index must come from DocStream.embeddingIndexState (missing LSH metadata)")
    EmbeddingIndexState(
      state.index,
      state.bucketCounts.where(col("n") > meta.getLong(LshMaxBucketMetaKey)))
  }

  /** [[expandMinhashIndexState]] for the embedding tier. */
  def expandEmbeddingIndexState(state: EmbeddingIndexState): EmbeddingIndexState =
    EmbeddingIndexState(
      state.index,
      state.bucketCounts.unionByName(
        state.index
          .groupBy(col("_sig"))
          .agg(count(lit(1)).as("n"))
          .join(state.bucketCounts.select(col("_sig")), Seq("_sig"), "left_anti")))

  /** Streaming near-duplicate admission: per micro-batch, drop arriving
    * documents that are MinHash near-duplicates (Jaccard ≥ `minJaccard`) of
    * some corpus document, then hand the survivors to `sink` with the batch
    * id (idempotent-sink contract, as in [[EventStream.toBronze]]).
    *
    * Near-dup admission needs a per-document verdict over ALL its band
    * probes — as a pure stream-static join that is either a stream-stream
    * anti-join (unsupported) or a stateful aggregation; `foreachBatch` makes
    * it a plain batch computation per micro-batch instead: batch docs are
    * signed and banded (map-only native kernels), probe the capped static
    * index by equi-join, verify exact Jaccard per candidate, and the
    * matched ids anti-join the batch. Completes the dedup-tier symmetry of
    * the streaming layer (exact [[dedupAgainstCorpus]], embedding
    * [[dedupEmbeddingsAgainstCorpus]], near-dup here).
    */
  def nearDupAdmission(
      stream: DataFrame,
      index: DataFrame,
      checkpoint: String,
      minJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    // fail at query CONSTRUCTION, not first micro-batch: a mis-built index
    // must not let a long-running stream start at all
    val meta = index.schema("band").metadata
    require(
      meta.contains(NumHashesMetaKey) && meta.contains(NumBandsMetaKey) &&
        meta.contains(ShingleNMetaKey),
      "index must come from DocStream.minhashCorpusIndex (missing LSH metadata)")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(admitNearDups(batch.toDF(), index, minJaccard, idCol, textCol), batchId)
      }
      .start()
  }

  /** One batch of near-dup admission against the capped corpus index: the
    * `batch` documents that are NOT MinHash near-duplicates (Jaccard ≥
    * `minJaccard`) of some corpus document. This is [[nearDupAdmission]]'s
    * per-micro-batch verdict as a standalone batch operator — ONE shared
    * implementation, so the batch-mode daily loop (the q127 lineage-
    * checkpoint certification) and the streaming admission (q97/q121)
    * cannot drift: certifying either path certifies the verdict both run.
    *
    * LSH parameters come from the index's schema metadata; batch docs are
    * signed and banded map-only, probe the capped index by equi-join, and
    * exact Jaccard verifies each candidate before the anti-join.
    */
  def admitNearDups(
      batch: DataFrame,
      index: DataFrame,
      minJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.operators.Dedup
    val meta = index.schema("band").metadata
    require(
      meta.contains(NumHashesMetaKey) && meta.contains(NumBandsMetaKey) &&
        meta.contains(ShingleNMetaKey),
      "index must come from DocStream.minhashCorpusIndex (missing LSH metadata)")
    val numHashes = meta.getLong(NumHashesMetaKey).toInt
    val numBands = meta.getLong(NumBandsMetaKey).toInt
    val shingleN = meta.getLong(ShingleNMetaKey).toInt
    // sigDocs canonicalizes idCol to "doc_id" internally; the final
    // anti-join maps it back so callers with renamed columns work
    val sigged = Dedup.sigDocs(batch, idCol, textCol, shingleN, numHashes)
    val dupIds = Dedup.bandFrame(sigged, numBands, numHashes / numBands)
      .join(index, Seq("band", "band_hash"))
      .join(sigged.select(col("doc_id"), col("shingle_set")), Seq("doc_id"))
      .where(
        graft.functions.SortedSetOverlap
          .jaccardFast(col("shingle_set"), col("c_set")) >= minJaccard)
      .select(col("doc_id").as("_dup_id"))
      .distinct()
    batch.join(dupIds, batch(idCol) === col("_dup_id"), "left_anti")
  }

  /** Per-batch SPAN-admission verdicts against a standing
    * [[graft.operators.Dedup.spanGramIndex]]: how much of each arriving
    * document is verbatim text already in the corpus, and whether it
    * passes the duplication gate — substring-granular admission, catching
    * the boilerplate-wrapped copies document-level MinHash admission
    * ([[admitNearDups]]) misses. The verdict is the integer
    * cross-multiply `covered·100 < n_tokens·maxCoveredPct` (no float
    * compare crosses an engine boundary); coverage itself is
    * [[graft.operators.Dedup.spanCoverageAgainstIndex]] — zero corpus
    * work and nothing persisted per batch.
    *
    * Returns (doc_id, n_tokens, covered_tokens, dup_fraction, admitted)
    * for EVERY batch row — the caller filters on `admitted` to gate, or
    * sinks the verdicts whole for audit.
    */
  def spanAdmissionVerdicts(
      batch: DataFrame,
      gramIndex: DataFrame,
      maxCoveredPct: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxCoveredPct >= 1 && maxCoveredPct <= 100,
      s"maxCoveredPct must be a percentage, got $maxCoveredPct")
    graft.operators.Dedup
      .spanCoverageAgainstIndex(gramIndex, batch, idCol, textCol)
      .withColumn("admitted",
        col("covered_tokens") * 100 < col("n_tokens") * maxCoveredPct)
  }

  /** The curation gate: keep documents scoring at least `minQuality` that
    * are not repetition-flagged, emit them PII-masked with their scores.
    * Works identically on a streaming or batch DataFrame — the stream==batch
    * equality is the spec's gate.
    */
  def curate(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    gateFlags(docs, minQuality)
      .where(col("_q_ok") && col("_r_ok"))
      .withColumn("predicted_lang", TextFunctions.langId(col("text")))
      .select(
        col("doc_id"),
        col("source"),
        col("predicted_lang"),
        col("quality_score"),
        Curation.maskPii(col("text")).as("text"))

  /** Per-stage attrition counts for the streaming gate — the streaming twin
    * of [[graft.operators.Curation.curationFunnel]]'s first stages. One
    * global flag-sum aggregation (complete/update output mode), so the
    * stream never needs more than three longs of state; gates are evaluated
    * once per row and shared with [[curate]] via [[gateFlags]], which is
    * what makes the stream==batch equality a real invariant rather than a
    * copy of the predicate.
    */
  def curateFunnel(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    gateFlags(docs, minQuality)
      .agg(
        count(lit(1)).as("n_input"),
        sum(when(col("_q_ok"), 1L).otherwise(0L)).as("n_after_quality"),
        sum(when(col("_q_ok") && col("_r_ok"), 1L).otherwise(0L))
          .as("n_curated"))

  /** Streaming twin of [[graft.operators.Curation.corpusReport]]'s count
    * statistics: per-source doc/token/quality/empty counts over the live
    * ingest (complete-mode aggregation, bounded state = one row per source).
    * The exact-duplicate rate is deliberately absent — `countDistinct` is
    * not a streaming aggregate; duplicate tracking on a stream is
    * [[dedupAgainstCorpus]]'s job (anti-join against the corpus index).
    */
  def corpusReportStream(docs: DataFrame, minQuality: Double = 0.5): DataFrame =
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(TextFunctions.tokenCount(col("text"))), lit(0L)).as("total_tokens"),
        count(when(TextFunctions.qualityScore(col("text")) >= minQuality, 1))
          .as("n_quality_pass"),
        count(when(col("text").isNull || length(col("text")) === 0, 1)).as("n_empty"))

  /** One admitted document of the token-budget gate. */
  case class AdmittedDoc(doc_id: Long, source: String, n_tokens: Long, cum_tokens: Long)

  /** Pre-admission row shape of [[tokenBudgetAdmission]] (public: encoder
    * codegen cannot access private classes).
    */
  case class BudgetRow(source: String, doc_id: Long, n_tokens: Long, rank: Long)

  /** Streaming token-budget admission: per source, admit arriving documents
    * while the tokens BEFORE each document are under `budget` — the
    * ingest-time twin of [[graft.operators.Curation.tokenBudgetSample]].
    * State per source is ONE Long (tokens seen so far), so the stream runs
    * unbounded; rejected documents still advance the counter (exactly the
    * batch semantics, where the cumsum runs over all rows).
    *
    * Within a micro-batch each source group is ordered by (Sha60 rank, id)
    * before admission, so a single-batch run is bit-equal to the batch
    * operator — asserted in StreamingSpec. Across batches the order is
    * arrival order (ingest-time semantics: what arrived first was admitted
    * first); the batch operator remains the authority for retrospective
    * budget cuts.
    */
  def tokenBudgetAdmission(docs: DataFrame, budget: Long): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .select(
        col("source"),
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.functions.Sha60.sha60(col("doc_id")).as("rank"))
      .as[BudgetRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, batch: Iterator[BudgetRow], state: GroupState[Long]) => {
          var cum = state.getOption.getOrElse(0L)
          val admitted = batch.toSeq.sortBy(r => (r.rank, r.doc_id)).flatMap { r =>
            val start = cum
            cum += r.n_tokens
            if (start < budget) Some(AdmittedDoc(r.doc_id, source, r.n_tokens, cum))
            else None
          }
          state.update(cum)
          admitted.iterator
        })
      .toDF()
  }

  /** Frequent-grams monitor: the [[graft.functions.MisraGriesFreqItems]]
    * sketch maintained as a streaming complete-mode global aggregation —
    * each micro-batch folds its arriving documents' `n`-grams into the ONE
    * persisted sketch buffer (state store holds the serialized ≤ ~2k-entry
    * summary, nothing per-gram), and every trigger re-emits the current
    * `struct(total, items)` row. The boilerplate-detection loop this serves:
    * a long-running monitor watches the candidate set drift as a crawl
    * arrives, and any point-in-time sketch row feeds
    * [[graft.operators.Curation]]'s exact recount
    * (`heavyGramRecount`) to produce exact heavy-gram counts over the
    * corpus so far — exact regardless of how the stream was micro-batched,
    * by the sketch's superset guarantee (which holds cumulatively across
    * batches: state error stays ≤ total/(capacity+1)).
    */
  def frequentGramsMonitor(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    docs
      .select(TextFunctions.shingles(col(textCol), n).as("_grams"))
      .agg(graft.functions.MisraGriesFreqItems
        .freqItems(col("_grams"), k).as("_mg"))

  /** Shared gate predicates: `_q_ok` (quality score ≥ threshold) and `_r_ok`
    * (distinct-token ratio ≥ 0.3, the repetition gate). Both [[curate]] and
    * [[curateFunnel]] read these columns, so their semantics cannot drift.
    */
  private def gateFlags(docs: DataFrame, minQuality: Double): DataFrame = {
    val t = col("text")
    val toks = TextFunctions.tokens(t)
    val distinctRatio =
      size(array_distinct(toks)).cast("double") / size(toks).cast("double")
    docs
      .withColumn("quality_score", TextFunctions.qualityScore(t))
      .withColumn("_q_ok", col("quality_score") >= minQuality)
      .withColumn("_r_ok", distinctRatio >= 0.3)
  }
}
