package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max statistics manifest — the data-skipping layer
  * every table format at 100 TB lives on (Iceberg manifest files, Delta
  * Lake's per-file stats, parquet row-group pruning writ large): lay
  * the table out in key-ranged shards, record per-shard (rows, min,
  * max) for the pruning columns, and answer key-range queries by
  * consulting the KILOBYTE manifest before touching the petabyte data.
  *
  * The layout key is `keyCol div width` — deterministic value
  * arithmetic, so shard membership is replayable by any engine (no
  * dependence on task scheduling or file naming), and it doubles as a
  * hive partition column so Spark's own partition pruning executes the
  * skip once the manifest has translated a key predicate into a shard
  * predicate.
  *
  * Scale shape: the manifest build is one map-side-combinable
  * aggregate over a read-back of what was WRITTEN (stats must describe
  * the files, not the dataframe that produced them — compactions and
  * retries change files, not intent). A key-range reader turns the
  * manifest into a shard-id list (bounded by the shard count, thousands
  * at 100 TB, never row-scale) and filters `shard_id` with it, so every
  * non-matching shard's files are never opened.
  */
object ShardManifest {

  /** Write `df` under `dir` hive-partitioned by `shard_id = keyCol div
    * width`, one range shard per directory.
    */
  def writeSharded(df: DataFrame, dir: String, keyCol: String,
      width: Long): Unit = {
    // Pin the repartition width: an un-numbered repartition(col) lets
    // AQE coalesce by BYTES toward the advisory size, which collapses a
    // small-byte/many-shard write to one task — but this write's unit
    // cost is FILE CREATES (one per shard directory), invisible to the
    // byte heuristic (measured: 1.6 s one-task vs 0.7 s at session
    // parallelism for the sf0.1 gate's 147 shards). The session's
    // shuffle-partition count is the deployment's parallelism knob, so
    // the pin stays scale-adaptive rather than hard-coding a local
    // width.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.withColumn("shard_id", expr(s"CAST($keyCol AS BIGINT) div $width"))
      .repartition(n, col("shard_id"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(dir)
  }

  /** Per-shard statistics of the written table: (shard_id, n_rows,
    * min/max of every column in `statCols`).
    */
  def manifest(spark: SparkSession, dir: String,
      statCols: Seq[String]): DataFrame =
    TableReads.read(spark, dir)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
}
