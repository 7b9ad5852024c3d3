package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming operators over the `events` stream
  * (event_id, ts, user_id, event_type, value).
  *
  * All transforms are source-agnostic: they accept any DataFrame —
  * `readStream` (kafka/file) in production, MemoryStream in tests, or a
  * batch frame for backfill — and the same code runs in both modes
  * (Spark's unified batch/streaming semantics).
  *
  * Scale notes: watermarks bound state (late data beyond the watermark is
  * dropped, window state is evicted); the windowed aggregations are
  * partial-agg friendly and shuffle on (window, key); sessionization
  * state lives per user_id in the state store, keyed shuffle only.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionSummary(user_id: Long, session_start: Timestamp,
                            session_end: Timestamp, n_events: Long,
                            total_value: Double)

  /** Internal session accumulator — public because the state encoder's
    * generated code must access its accessors (and `sum` as a field name
    * would shadow the inherited Product method in that codegen).
    */
  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  case class EwmaPoint(user_id: Long, event_id: Long, ts: Timestamp,
                       value: Double, ewma: Double)

  /** EWMA accumulator: last event time (for the idle timeout) + current
    * smoothed value.
    */
  case class EwmaState(lastTs: Long, ewma: Double)

  /** Tumbling event-time window counts/sums per event_type, watermarked.
    * Append-mode capable: results finalize when the watermark passes the
    * window end.
    */
  def windowedAgg(events: DataFrame, watermark: String = "1 hour",
                  window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Declarative sessionization via the built-in session_window (gap
    * closes a session; watermark finalizes and evicts it).
    */
  def sessionWindowAgg(events: DataFrame, watermark: String = "1 hour",
                       gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Custom-state sessionization via flatMapGroupsWithState with
    * event-time timeout: sessions are held open in the state store while
    * events keep arriving within `gapMs`, and emitted (Append mode) once
    * the watermark passes the session end + gap. Demonstrates arbitrary
    * stateful processing beyond what session_window expresses (e.g.
    * per-session running aggregates with custom merge rules).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.total))
          } else {
            // merge the micro-batch into open sessions; emit any session
            // closed by a gap WITHIN the batch immediately, keep the last
            // one open in state until the watermark passes its gap
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.end <= gapMs =>
                  open = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += SessionSummary(userId, new Timestamp(s.start),
                    new Timestamp(s.end), s.n, s.total)
                  open = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  open = Some(SessionState(t, t, 1L, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming recursive EWMA per user: eₙ = α·vₙ + (1−α)·eₙ₋₁ — the
    * TRUE unbounded recursion the batch `ewma_value` query cannot
    * express declaratively (it truncates to a depth-8 window; the
    * recursion needs sequential per-key state, which is exactly what
    * the streaming state store provides). One smoothed point is emitted
    * per input event (Append mode); events inside a micro-batch fold in
    * (ts, event_id) order, so replays are deterministic.
    *
    * State lifecycle: O(1) per active user; a user idle past
    * `idleResetMs` beyond the watermark has their state EVICTED via
    * event-time timeout, and their next event restarts the smoothing
    * from its own value — the documented reset-on-idle contract that
    * keeps state bounded by the active-user rate instead of the
    * stream's lifetime (same eviction discipline as dedupStream).
    */
  def ewmaStream(events: Dataset[Event], alpha: Double = 0.5,
                 idleResetMs: Long = 3600000L): Dataset[EwmaPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[EwmaPoint]
            sorted.foreach { e =>
              val next = cur match {
                case Some(s) => alpha * e.value + (1 - alpha) * s.ewma
                case None => e.value
              }
              cur = Some(EwmaState(e.ts.getTime, next))
              out += EwmaPoint(userId, e.event_id, e.ts, e.value, next)
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + idleResetMs)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming exact dedup with bounded state — the unbounded-stream
    * analog of the batch `dropDuplicates`/`Dedup.exact` path (whose
    * state would grow forever on a stream). The first event per key is
    * emitted (Append mode); duplicates arriving within the watermark
    * delay of it are dropped; per-key state is evicted once the
    * watermark passes, so state size is bounded by the key arrival rate
    * × the lateness bound rather than the stream's lifetime. The
    * contract is exactly-once *within the lateness bound*: a duplicate
    * arriving later than `watermark` after its first occurrence re-emits
    * — the same bound every watermarked operator here carries. Streaming
    * frames only (batch dedup needs no watermark: use dropDuplicates).
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join: streamed events joined to a static
    * dimension (a user→segment lookup, a COA table). The static side is
    * re-planned every micro-batch — Catalyst broadcasts it while it fits
    * the threshold, and no streaming state is held for it (only
    * stream-stream joins need watermark-bounded state). Left join keeps
    * events whose key has no dimension row yet; the batch-mode call is
    * the identical plan, per Spark's unified semantics.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-stream join: each purchase joined to error events of the
    * same user occurring within `windowExpr` after it. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so state for both streams is evictable — the required shape for an
    * unbounded stream-stream join (state would grow forever otherwise).
    * Works identically on batch frames.
    */
  def purchaseErrorJoin(events: DataFrame,
                        windowExpr: String = "INTERVAL 1 HOUR"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"), col("event_id").as("error_id"))
      .withWatermark("e_ts", "1 hour")
    purchases.join(errors,
      col("user_id") === col("e_user") &&
        col("e_ts") >= col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr(windowExpr))
      .select("user_id", "purchase_id", "p_ts", "error_id", "e_ts")
  }

  /** Append-mode parquet sink for a finalized (watermarked) streaming
    * frame, date-partitioned so streamed results land in the same
    * hive-partitioned curated layout the batch pipeline writes (month/
    * date-pruned scans downstream). The checkpoint dir gives the file
    * sink exactly-once output across restarts. The input must carry a
    * `window_start` column (any windowed agg here does) and be
    * append-capable — i.e. watermarked, so rows are emitted exactly once
    * when their window finalizes. Default trigger drains what is
    * currently available and stops (backfill-style); pass a processing-
    * time trigger for a long-running sink.
    */
  def writePartitionedParquet(
      finalized: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    finalized
      .withColumn("window_date", to_date(col("window_start")))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .partitionBy("window_date")
      .format("parquet")
      .start(path)

  /** Read an events parquet path as a file stream (schema pinned — a
    * streaming source never infers; the `ts` encoding varies across
    * testdata generations and is normalized to a proper TIMESTAMP by the
    * schema-adaptive [[graft.sources.EventTime]] helper). File-stream
    * sources require a directory, so a single-file path is streamed via
    * its parent + pathGlobFilter.
    */
  def readEventStream(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = graft.sources.Io.readTable(spark, path)
    val f = new java.io.File(path)
    val reader = spark.readStream.schema(batch.schema)
    val src =
      if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(path)
    src.withColumn("ts", graft.sources.EventTime.tsTimestamp(batch))
  }
}
