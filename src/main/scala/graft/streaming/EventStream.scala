package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming ingestion over the `events` table shape — the
  * streaming extension of the engine (the reference is batch-only,
  * SURVEY §2.11; incremental loading maps to this naturally).
  *
  * Watermarked windowed aggregation handles late data; custom session state
  * uses `flatMapGroupsWithState` keyed by user. Both are keyed operators, so
  * state distributes across executors; watermarks bound state size — the two
  * properties that keep a 100 TB/day stream within memory.
  */
object EventStream {

  /** The events schema assumed when the drop directory has no files yet to
    * probe (a stream typically starts before its first drop arrives):
    * microsecond timestamps, the current generator encoding.
    */
  val eventSchemaMicros: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based event stream from a directory of parquet drops.
    *
    * File streams cannot infer schemas, and the events `ts` encoding has
    * varied across data generators, so one batch-read schema resolution
    * probes the existing files' footers and the stream's `ts` is decoded by
    * the same [[graft.core.Tables.eventTimes]] as the batch events table.
    *
    * Caveat (documented assumption): the probe runs ONCE at stream start.
    * If the directory is empty then, [[eventSchemaMicros]] — the current
    * generator encoding — is assumed for the stream's lifetime; files that
    * later arrive with the legacy nanos-as-int64 encoding would be misread
    * (no conversion branch was selected). Start such streams after the
    * first drop lands, or pass a dir seeded with one representative file.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // empty drop directory → nothing to probe → assume the current encoding
    val probed =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventSchemaMicros }
    graft.core.Tables.eventTimes(spark.readStream.schema(probed).parquet(dir))
  }

  /** Tumbling-window counts+sums per event type with a late-data watermark.
    * Append mode: a window emits once its watermark passes — exactly-once
    * per window downstream.
    */
  def windowedCounts(
      events: DataFrame,
      windowitionDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowitionDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("total_value"))

  /** Hopping (sliding) windowed counts — each event lands in
    * `window/slide` overlapping windows (4 at the 1 h/15 m default), the
    * smoothing a tumbling window can't give: a burst straddling a
    * tumbling boundary splits across two buckets, while every hop that
    * covers it sees it whole. Same watermark/append semantics as
    * [[windowedCounts]]; state is `window/slide` times larger — the
    * price of the overlap, still bounded by the watermark horizon.
    */
  def slidingCounts(
      events: DataFrame,
      windowDuration: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, n_events: Long, duration_sec: Double, closed: Boolean)

  /** Custom stateful sessionization: 30-minute inactivity gap closes a
    * session (the streaming twin of the batch q29 sessionization), via
    * `flatMapGroupsWithState` with a processing-time timeout.
    *
    * The timeout is what bounds state on an unbounded stream: a user who
    * stops sending events fires `hasTimedOut` after `gapSec`, the open
    * session is emitted closed, and the per-user state is removed — without
    * it, idle users' state would accumulate forever and their last session
    * would never surface.
    */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // inactivity expiry: close and emit the open session, drop state
            val out = state.getOption
              .filter(_.nEvents > 0)
              .map(st => SessionOut(userId, st.nEvents, (st.last - st.start) / 1000.0, closed = true))
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(SessionState(Long.MaxValue, Long.MinValue, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (st.nEvents > 0 && t - st.last > gapSec * 1000) {
                closed += SessionOut(userId, st.nEvents, (st.last - st.start) / 1000.0, closed = true)
                st = SessionState(t, t, 1L)
              } else {
                st = SessionState(math.min(st.start, t), math.max(st.last, t), st.nEvents + 1)
              }
            }
            state.update(st)
            state.setTimeoutDuration(gapSec * 1000)
            closed.iterator
          }
        })
  }

  /** Streaming deduplication: drop events whose key was already seen within
    * the watermark horizon (`dropDuplicatesWithinWatermark` — state is
    * bounded by the watermark, so this runs indefinitely on an unbounded
    * stream; the streaming twin of the batch exact-dedup tier).
    */
  def dedupStream(
      events: DataFrame,
      keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked STREAM-STREAM interval join — click→purchase attribution:
    * each click left-joins the same user's purchases landing within
    * `attributionWindow` after it. This is the one Structured Streaming
    * operator class the engine's other streams don't exercise: BOTH sides
    * buffer in versioned join state, matches emit as they meet, and
    * unmatched clicks emit null-extended once the watermark proves no
    * qualifying purchase can still arrive.
    *
    * State is bounded by construction: the time-range condition bounds a
    * click's liveness to `attributionWindow` past its timestamp plus the
    * watermark delay, and purchases age out symmetrically — Spark derives
    * both eviction horizons from the join condition, which is why the
    * condition must bound `purchase_ts` relative to `click_ts` on BOTH
    * sides. Correctness window: with `watermark` ≥ `attributionWindow`
    * no valid match can be evicted early, so on a stream whose drops
    * arrive in event-time order the join converges to the batch interval
    * join exactly (the q156 certification argument).
    */
  def attributionJoin(
      events: DataFrame,
      watermark: String = "2 hours",
      attributionWindow: String = "1 hour"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      expr(s"""click_user = purchase_user
              |AND purchase_ts >= click_ts
              |AND purchase_ts <= click_ts + interval $attributionWindow""".stripMargin),
      "leftOuter")
      .select(col("click_id"), col("click_user").as("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_value"))
  }

  /** Stream-static POINT-IN-TIME dimension enrichment: each streaming fact
    * joins the SCD2 version ([[graft.dml.Scd.scd2Build]] output) whose
    * half-open validity interval contains the fact's event time — the
    * streaming twin of [[graft.dml.Scd.pointInTimeJoin]]. Stream-static
    * joins are STATELESS (no watermark, no join state): the dimension's
    * FILES are re-read/re-broadcast every micro-batch — but its file
    * LISTING is pinned when the query plans (spec-pinned: an overwrite
    * under a running query fails the batch with FILE_NOT_EXIST, it does
    * not refresh), so THIS form is for dimensions that are stable over
    * the query's lifetime; a dimension that refreshes mid-stream needs
    * [[pointInTimeEnrichRefreshing]], which re-plans the read per batch.
    * The equi-key (`user_id`) keeps the plan a BroadcastHashJoin
    * with the interval bounds as residual predicates; the dimension's
    * byte size is the recurring per-batch cost (the q147 quantization
    * narrative — keep dims slim). Left-outer: pre-history facts keep null
    * attribution, matching the batch operator exactly.
    */
  def pointInTimeEnrich(stream: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("user_id").as("_dim_key"), col("version"),
      col("state"), col("effective_from"), col("effective_to"))
    stream.join(d,
      stream("user_id") === col("_dim_key") &&
        stream("ts") >= col("effective_from") &&
        (col("effective_to").isNull || stream("ts") < col("effective_to")),
      "left_outer")
      .select(stream("event_id"), stream("user_id"), stream("ts"),
        stream("value"),
        col("version").as("dim_version"), col("state"),
        col("effective_from"), col("effective_to"))
  }

  /** [[pointInTimeEnrich]] for a dimension that REFRESHES while the query
    * runs: `foreachBatch` re-creates the dimension DataFrame from
    * `dimPath` per micro-batch, so each batch plans against the CURRENT
    * file listing — a mid-day SCD2 rebuild (new versions closing old
    * intervals) lands on the very next batch, which is the operational
    * reason to enrich in-stream rather than re-run a batch join. The sink
    * follows [[toBronze]]'s exactly-once discipline: each batch lands in
    * its own `_batch_id` partition via dynamic partition overwrite, so a
    * retried batch REPLACES itself (foreachBatch alone is at-least-once).
    */
  def pointInTimeEnrichRefreshing(
      stream: DataFrame,
      dimPath: String,
      outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        pointInTimeEnrich(batch, batch.sparkSession.read.parquet(dimPath))
          .withColumn("_batch_id", lit(batchId))
          .write
          .partitionBy("_batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(outPath)
      }
      .start()

  /** Native `session_window` streaming aggregation — the built-in twin of
    * the custom-state [[sessionize]]: 30-minute-gap sessions per user with
    * windows that MERGE as bridging events arrive (two open sessions
    * within `gap` of each other collapse into one — machinery
    * flatMapGroupsWithState never exercises), emitted in append mode once
    * the watermark passes the session end. Returns `(session_start,
    * session_end, user_id, n_events)` — `session_end` is last event +
    * `gap`, and the merge rule is BOUNDARY-INCLUSIVE: an event at exactly
    * `prev + gap` still extends the session (spec-pinned against the
    * executor; only `ts > prev + gap` starts a new one).
    *
    * The watermark bounds state (sessions finalize and evict as it
    * advances) and must EXCEED `gap` for in-order drops: a session
    * straddling a micro-batch boundary is still open when its
    * continuation arrives, because the watermark trails far enough that
    * `session_end` hasn't passed — which is why the q157 fixture's
    * delay (2 h) > gap (30 m).
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Incremental bronze ingestion as a stream: each micro-batch lands in its
    * own `_batch_id=<id>` partition via dynamic partition overwrite, so a
    * batch retried after a mid-write failure REPLACES its partition instead
    * of appending duplicates — foreachBatch is only exactly-once when the
    * sink is idempotent per batchId; a blind append would be at-least-once.
    * Readers `spark.read.parquet(tablePath)` as usual (the partition column
    * is metadata).
    */
  def toBronze(events: DataFrame, tablePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // dynamic overwrite as a per-WRITE option (overrides the session
        // conf) — other writers on the shared session never see it
        batch
          .withColumn("_batch_id", lit(batchId))
          .write
          .partitionBy("_batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(tablePath)
      }
      .start()
}
