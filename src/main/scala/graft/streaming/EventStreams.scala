package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Accumulated per-user state carried across micro-batches by
  * [[EventStreams.runningUserTotals]].
  */
case class UserRunningState(nEvents: Long, totalValue: Double)

/** Last event seen per user, carried across micro-batches by
  * [[EventStreams.transitionsStream]].
  */
case class TransitionState(lastTs: Long, lastId: Long, lastType: String)

/** One observed consecutive-event transition for a user. */
case class TransitionPair(user_id: Long, prev_type: String, next_type: String)

/** One emitted row per user per micro-batch: the cumulative totals after
  * folding that batch's events into state.
  */
case class UserRunningUpdate(user_id: Long, n_events: Long, total_value: Double)

/** First day (epoch micros of the day truncation) a user was ever
  * seen, carried across micro-batches by
  * [[EventStreams.firstSeenStream]].
  */
case class FirstSeenState(firstDayMicros: Long)

/** One (user, day) activity flag: is this the user's first-ever day? */
case class UserDayFlag(user_id: Long, day_micros: Long, is_new: Boolean)

/** Event-stream operators. The reference's ingest endpoint is a
  * micro-batch-per-upload pattern (one POST = one batch,
  * reference web/api/products.py:77-95); Structured Streaming's
  * file-arrival source + foreachBatch is its native Spark shape (the
  * incremental-query model of the Structured Streaming paper, SIGMOD
  * 2018 — see PAPERS.md), and the windowed/sessionized aggregations here
  * are the analytics the `events` table exists for.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Tumbling-window counts/sums (batch or stream — same plan). */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding-window counts. */
  def sliding(events: DataFrame, width: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Batch sessionization via gaps-and-islands: a new session starts when
    * the gap to the previous event of the same user EXCEEDS `gapMinutes`
    * (strict >, at full MICROSECOND precision — the declared rule the
    * oracle replays with epoch_us; per-timestamp second truncation would
    * make the split decision depend on each endpoint's fractional part
    * rather than the true gap). Deterministic and SQL-expressible.
    * Residual hair vs the streaming `session_window`: the native window
    * is half-open, splitting at gap EXACTLY equal (>=) where this rule
    * merges — divergence requires a gap equal to the threshold to the
    * microsecond.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("_prev")) > gapMicros, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("_new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
  }

  /** Streaming sessionization with the native session_window + watermark. */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** File-arrival stream over a drop directory (the streaming shape of the
    * reference's upload endpoint).
    */
  def fromDirectory(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Windowed aggregation stream to an in-memory sink (test/demo). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete()): StreamingQuery =
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()

  /** Streaming exact dedup on an id column: duplicates arriving within
    * the watermark window are dropped, and state for ids older than the
    * watermark is evicted — the bounded-state streaming counterpart of
    * [[graft.operators.Dedup.exact]] (without the watermark bound,
    * streaming dedup state grows forever).
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join (click attribution): every click joins
    * the same user's views from the preceding `within` interval — the
    * canonical watermarked two-stream join from the Structured
    * Streaming guide. On streaming inputs both sides carry watermarks
    * and the time-range condition is what BOUNDS the join state: a
    * buffered view can only match clicks until watermark passes
    * `view_ts + within`, then its state is evicted — without the range
    * condition, stream-stream join state grows forever.
    *
    * Works identically on batch inputs (the watermark is a no-op
    * there), which is what the differential spec exercises; the GATED
    * batch query (q_click_attribution) instead goes through
    * [[graft.operators.RangeJoin.intervalJoin]]'s bucket expansion —
    * the shuffle-partitionable shape for a 100 TB backfill, while this
    * join is the incremental path.
    */
  def attributionJoin(
      clicks: DataFrame,
      views: DataFrame,
      within: String = "6 hours",
      watermark: String = "1 hour"): DataFrame = {
    val c0 = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("_cuid"), col("ts").as("click_ts"))
    val v0 = views.select(col("event_id").as("view_id"),
      col("user_id").as("_vuid"), col("ts").as("view_ts"))
    val c = if (c0.isStreaming) c0.withWatermark("click_ts", watermark) else c0
    val v = if (v0.isStreaming) v0.withWatermark("view_ts", watermark) else v0
    c.join(v,
        col("_cuid") === col("_vuid") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"interval $within"))
      .select(col("click_id"), col("view_id"), col("_cuid").as("user_id"),
        col("click_ts"), col("view_ts"))
  }

  /** Custom streaming state via `flatMapGroupsWithState`: cumulative
    * per-user event count and value total, updated per micro-batch and
    * carried in the state store. This is the escape hatch for stateful
    * semantics the built-in windowed aggregations cannot express (the
    * built-ins stay preferred where they can — see [[sessionizeStream]]).
    *
    * Scale shape: state is partitioned by user_id (high cardinality), one
    * small fixed-size record per user, and each batch shuffles only that
    * batch's events — the standard keyed-state pattern.
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserRunningUpdate] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunningState, UserRunningUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
          var n = prev.nEvents
          var tot = prev.totalValue
          rows.foreach { case (_, v) => n += 1; tot += v }
          state.update(UserRunningState(n, tot))
          Iterator(UserRunningUpdate(uid, n, tot))
      }
  }

  /** Streaming twin of the batch event-transition matrix
    * (SparkEntry.eventTransitions): per-user keyed state holds the last
    * event, each micro-batch's rows are processed in (ts, event_id)
    * order, and every consecutive pair — including the cross-batch pair
    * against the carried state — is emitted. Counting the emissions
    * downstream reproduces the batch lag-window counts exactly when
    * batches arrive in event-time order per key (the differential's
    * contract; a production feed out of event-time order buffers behind
    * a watermark first, the [[dedupStream]] pattern).
    *
    * Scale shape: one fixed-size record per user in the state store,
    * each batch shuffles only its own rows on user_id.
    */
  def transitionsStream(spark: SparkSession, events: DataFrame): Dataset[TransitionPair] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("tsu"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransitionState, TransitionPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[TransitionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var prev = state.getOption
          val out = Seq.newBuilder[TransitionPair]
          sorted.foreach { r =>
            prev.foreach(p => out += TransitionPair(uid, p.lastType, r._4))
            prev = Some(TransitionState(r._2, r._3, r._4))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of the batch new-vs-returning decomposition
    * (SparkEntry.newVsReturning): per-user keyed state carries the
    * first-ever-seen day; each micro-batch's rows process in day order
    * and emit one (user, day, is_new) flag per event — is_new exactly
    * when the event's day IS the user's first day. Downstream,
    * `groupBy(day).agg(countDistinct(user), countDistinct(user WHERE
    * is_new))` reproduces the batch n_active/n_new counts exactly when
    * batches arrive in event-time order per key (the
    * [[transitionsStream]] contract; out-of-order feeds buffer behind
    * a watermark first). Duplicate same-day emissions are fine — the
    * aggregation is distinct-based, mirroring the batch side's
    * day-distinct collapse.
    *
    * Scale shape: ONE fixed-size record per user in the state store
    * (the smallest possible lifecycle state); each batch shuffles only
    * its own rows on user_id.
    */
  def firstSeenStream(spark: SparkSession, events: DataFrame): Dataset[UserDayFlag] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(date_trunc("day", col("ts"))).as("day"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FirstSeenState, UserDayFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: GroupState[FirstSeenState]) =>
          val days = rows.map(_._2).toSeq.sorted
          var first = state.getOption.map(_.firstDayMicros)
          val out = Seq.newBuilder[UserDayFlag]
          days.foreach { d =>
            if (first.isEmpty) first = Some(d)
            out += UserDayFlag(uid, d, d == first.get)
          }
          first.foreach(f => state.update(FirstSeenState(f)))
          out.result().iterator
      }
  }
}
