package graft

import graft.streaming.{EventStreams, SliceStore}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events = {
    import spark.implicits._
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:10:00"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 11:30:00"), 1L, "view", 3.0),  // >30min gap -> new session
      (4L, ts("2024-01-01 10:05:00"), 2L, "click", 4.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("batch sessionization: 30-minute gap starts a new session") {
    val out = EventStreams.sessionizeBatch(events, gapMinutes = 30)
      .orderBy("user_id", "session_seq").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("user_id") === 1L && out(0).getAs[Long]("n_events") === 2)
    assert(out(1).getAs[Long]("user_id") === 1L && out(1).getAs[Long]("n_events") === 1)
    assert(out(2).getAs[Long]("user_id") === 2L)
  }

  test("tumbling windows aggregate per hour and type") {
    val out = EventStreams.tumbling(events, "1 hour")
      .orderBy("window_start", "event_type").collect()
    assert(out.map(r => (r.getAs[Timestamp]("window_start").toString,
      r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSeq === Seq(
      ("2024-01-01 10:00:00.0", "click", 3L),
      ("2024-01-01 11:00:00.0", "view", 1L)))
  }

  test("sliding windows produce overlapping windows") {
    val out = EventStreams.sliding(events, "1 hour", "30 minutes")
      .filter(col("event_type") === "click")
      .orderBy("window_start").collect()
    // 3 clicks in 10:00-10:10 fall in both [9:30,10:30) and [10:00,11:00)
    assert(out.map(r => (r.getAs[Timestamp]("window_start").toString,
      r.getAs[Long]("n_events"))).toSeq === Seq(
      ("2024-01-01 09:30:00.0", 3L), ("2024-01-01 10:00:00.0", 3L)))
  }

  test("streaming sessionization via session_window + AvailableNow") {
    val dir = tmpDir("stream")
    events.write.mode("overwrite").parquet(dir)
    val stream = EventStreams.fromDirectory(spark, dir)
    assert(stream.isStreaming)
    val q = EventStreams.runToMemory(
      EventStreams.sessionizeStream(stream, "30 minutes"), "sessions_test")
    q.awaitTermination(60000)
    val out = spark.table("sessions_test")
    assert(out.count() === 3) // same 3 sessions as the batch path
    assert(out.columns.toSet ===
      Set("session_start", "session_end", "user_id", "n_events", "session_value"))
  }

  test("flatMapGroupsWithState carries per-user totals across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Double)]
    val updates = EventStreams.runningUserTotals(
      spark, input.toDF().toDF("user_id", "value"))
    val q = updates.writeStream.outputMode("append")
      .format("memory").queryName("running_totals")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 2.0)) // second batch: state must accumulate
      q.processAllAvailable()
      val rows = spark.table("running_totals")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // batch 1 emissions
      assert(rows.contains((1L, 2L, 15.0)) && rows.contains((2L, 1L, 1.0)))
      // batch 2: user 1's state carried over (2 events + 1 new)
      assert(rows.contains((1L, 3L, 17.0)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Double)]
    val deduped = EventStreams.dedupStream(
      input.toDF().toDF("event_id", "ts", "value"), "event_id", "ts", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((1L, t0, 1.0), (1L, t0, 1.0), (2L, t0, 2.0))
      q.processAllAvailable()
      input.addData((2L, t0, 2.0), (3L, t0, 3.0)) // 2 is a cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  /** The real events table (sf0.001), normalized to the engine's
    * microsecond timestamps (via the same layout-adaptive loader the
    * gated queries use) and rewritten as standard-timestamp parquet so
    * the streaming reader's schema applies.
    */
  private def realEventsDir: String = {
    val dir = tmpDir("real_events")
    SparkEntry.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("stream-vs-batch differential: sessionizeStream == sessionizeBatch") {
    // The streaming sessionizer must produce the SAME session set as the
    // oracle-verified batch plan on the real events table. session_window
    // ends at last-event + gap while the batch session ends at the last
    // event, so compare on (user, start, n, value); Complete output mode
    // emits every session regardless of the final watermark position.
    val dir = realEventsDir
    val q = EventStreams.runToMemory(
      EventStreams.sessionizeStream(EventStreams.fromDirectory(spark, dir),
        gap = "30 minutes"), "sessions_diff")
    q.awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start"), col("n_events"),
        round(col("session_value"), 4).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamed = key(spark.table("sessions_diff"))
    val batch = key(EventStreams.sessionizeBatch(
      spark.read.parquet(dir), gapMinutes = 30)
      .withColumnRenamed("session_start", "session_start"))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stream-vs-batch differential: transitionsStream == batch lag counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = SparkEntry.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val rows = ev.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .sortBy(r => (r._2.getTime, r._3)) // event-time order across batches
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val pairs = EventStreams.transitionsStream(spark,
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("trans_diff")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped((rows.length + 2) / 3)
        .foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("trans_diff")
        .groupBy("prev_type", "next_type").count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val batch = ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-vs-batch differential: firstSeenStream == batch new-vs-returning") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ev = SparkEntry.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"))
    val rows = ev.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .sortBy(_._2.getTime) // event-time order across batches
    val input = MemoryStream[(Long, Timestamp)]
    val flags = EventStreams.firstSeenStream(spark,
      input.toDF().toDF("user_id", "ts"))
    val q = flags.writeStream.outputMode("append")
      .format("memory").queryName("firstseen_diff")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped((rows.length + 2) / 3)
        .foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("firstseen_diff")
        .groupBy(col("day_micros"))
        .agg(countDistinct(col("user_id")).as("n_active"),
          countDistinct(when(col("is_new"), col("user_id"))).as("n_new"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val days = ev.select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val first = days.groupBy(col("user_id")).agg(min(col("day")).as("_f"))
      val batch = days.join(first, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("_f"), 1L).otherwise(0L)).as("n_new"))
        .select(unix_micros(col("day")), col("n_active"), col("n_new"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-vs-batch differential: dedupStream == batch distinct") {
    // Streaming watermarked dedup on user_id over the real events table
    // must emit exactly the batch-distinct user set: the watermark (far
    // beyond the data's time span) evicts nothing, so stream state covers
    // the whole corpus and parity is exact.
    val dir = realEventsDir
    val deduped = EventStreams.dedupStream(
      EventStreams.fromDirectory(spark, dir), "user_id", "ts", "3650 days")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_diff")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_diff")
      .select("user_id").collect().map(_.getLong(0)).toSet
    val batch = spark.read.parquet(dir)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("native top-k aggregate composes with streaming windows") {
    // graft_topk (a custom TypedImperativeAggregate) inside a streaming
    // windowed aggregation: per hour, the top-2 events by value must
    // equal the batch computation over the same data.
    import graft.functions.GraftFunctions.graftTopK
    val dir = realEventsDir
    def topkPlan(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graftTopK(struct(negate(col("value")), col("event_id")),
        struct(col("event_id"), col("value")), 2).as("top"))
      .select(col("window.start").as("window_start"), explode(col("top")).as("e"))
      .select(col("window_start"), col("e.event_id").as("event_id"),
        col("e.value").as("value"))
    val q = EventStreams.runToMemory(
      topkPlan(spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)),
      "topk_stream")
    q.awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = key(spark.table("topk_stream"))
    val batch = key(topkPlan(spark.read.parquet(dir)))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("heavy-hitters sketch composes with streaming aggregation") {
    // graft_heavyhitters inside a streaming global aggregate: with k
    // larger than the distinct item count the Misra-Gries summary is
    // EXACT (spilled = 0), so stream and batch must agree bit-for-bit —
    // which pins the sketch's serialize/merge path through streaming
    // state, not just the batch map-side combine.
    import graft.functions.GraftFunctions.graftHeavyHitters
    val dir = realEventsDir
    def hhPlan(df: org.apache.spark.sql.DataFrame) = df
      .agg(graftHeavyHitters(col("event_type"), 64).as("hh"))
      .select(col("hh.spilled").as("spilled"), explode(col("hh.items")).as("it"))
      .select(col("spilled"), col("it.item").as("item"), col("it.est").as("est"))
    val q = EventStreams.runToMemory(
      hhPlan(spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)),
      "hh_stream")
    q.awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = key(spark.table("hh_stream"))
    val batch = key(hhPlan(spark.read.parquet(dir)))
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._1 == 0L), "k > distinct items must be exact")
    assert(streamed === batch)
  }

  test("foreachBatch ingest bridge delivers batches") {
    val dir = tmpDir("stream2")
    events.write.mode("overwrite").parquet(dir)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = SliceStore.start(EventStreams.fromDirectory(spark, dir),
        tmpDir("stream2ckpt")) { (batch, _) =>
      seen.addAndGet(batch.count())
    }
    try q.processAllAvailable() finally q.stop()
    assert(seen.get() === 4)
  }

  test("stream-vs-batch differential: watermarked stream-stream join == batch join") {
    // The watermarked two-stream interval join must emit exactly the
    // pairs the batch join produces on the real events table. The
    // watermark spans the corpus so nothing is evicted early; the range
    // condition alone decides matches — parity is exact.
    val dir = realEventsDir
    def side(df: org.apache.spark.sql.DataFrame, kind: String) =
      df.filter(col("event_type") === kind)
    val stream = EventStreams.fromDirectory(spark, dir)
    val joined = EventStreams.attributionJoin(
      side(stream, "click"), side(stream, "view"),
      within = "6 hours", watermark = "3650 days")
    assert(joined.isStreaming)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_diff")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = key(spark.table("attr_diff"))
    val batchEv = spark.read.parquet(dir)
    val batch = key(EventStreams.attributionJoin(
      side(batchEv, "click"), side(batchEv, "view"), within = "6 hours"))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }
}
