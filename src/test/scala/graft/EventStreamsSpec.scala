package graft

import graft.streaming.{EventStreams, SliceStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import java.sql.Timestamp

class EventStreamsSpec extends SparkSpec {

  /** Runs `df` to an in-memory sink named `name` (Complete mode, one
    * AvailableNow trigger).
    */
  private def toMemory(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Complete()).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()

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

  test("sliding windows produce overlapping windows") {
    val out = EventStreams.sliding(events, "1 hour", "30 minutes")
      .filter(col("event_type") === "click")
      .orderBy("window_start").collect()
    // 3 clicks in 10:00-10:10 fall in both [9:30,10:30) and [10:00,11:00)
    assert(out.map(r => (r.getAs[Timestamp]("window_start").toString,
      r.getAs[Long]("n_events"))).toSeq === Seq(
      ("2024-01-01 09:30:00.0", 3L), ("2024-01-01 10:00:00.0", 3L)))
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
    val q = toMemory(
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
    val q = toMemory(
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
    val q = SliceStore.start(spark.readStream.schema(events.schema).parquet(dir),
        tmpDir("stream2ckpt")) { (batch, _) =>
      seen.addAndGet(batch.count())
    }
    try q.processAllAvailable() finally q.stop()
    assert(seen.get() === 4)
  }
}
