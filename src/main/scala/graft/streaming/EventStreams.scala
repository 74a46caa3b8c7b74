package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream operators. The reference's ingest endpoint is a
  * micro-batch-per-upload pattern (one POST = one batch,
  * reference web/api/products.py:77-95); Structured Streaming's
  * file-arrival source + foreachBatch is its native Spark shape (the
  * incremental-query model of the Structured Streaming paper, SIGMOD
  * 2018 — see PAPERS.md), and the windowed aggregations here are the
  * analytics the `events` table exists for.
  */
object EventStreams {

  /** Sliding-window counts (batch or stream — same plan). */
  def sliding(events: DataFrame, width: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
}
