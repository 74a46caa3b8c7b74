package graft.streaming

import graft.operators.{Profiling, TableReads}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Streaming distribution-drift monitor — the unbounded twin of the
  * q_drift_psi batch monitor: a value column's micro-batches are each
  * scored against a FROZEN baseline histogram (persisted once, at
  * monitor start — the production shape: the reference frame is fixed
  * when the baseline ships, so drifting traffic cannot redefine what it
  * is measured against), emitting per-batch AND cumulative PSI. The
  * alerting monitor an ingestion pipeline runs beside the drop
  * directory: "is THIS batch an outlier" (psi_batch) and "has the
  * corpus as a whole moved" (psi_cum).
  *
  * State is bucket-domain-bounded everywhere: the baseline histogram
  * persists once, each batch persists only its own histogram (value
  * range / width rows, never batch rows), and the cumulative view sums
  * persisted histograms — the stream never holds or re-scans arrived
  * data. All bucketing goes through the ONE shared definition
  * ([[graft.operators.Profiling.bucketCounts]]) and the PSI arithmetic
  * through the one shared rule ([[graft.operators.Profiling
  * .psiOverBuckets]]), so stream and batch monitors can never drift
  * from each other.
  *
  * Store layout (the three batch tables are [[SliceStore]] tables):
  *   storeDir/baseline/ — the frozen (bucket, n_base) histogram
  *   storeDir/meta/     — (bucket_width, epsilon) knob stamp
  *   storeDir/hist/batch=<id>/ — that batch's (bucket, n_cur)
  *   storeDir/psi/batch=<id>/  — per-bucket PSI terms vs the baseline
  *   storeDir/summary/batch=<id>/ — 1 row: n_rows, psi_batch, psi_cum
  *
  * Replay safety beyond the [[SliceStore]] overwrite: the cumulative
  * histogram reads persisted slices STRICTLY BEFORE the batch being
  * processed plus the batch's own in-memory histogram — so a
  * redelivered batch recomputes byte-identical slices (the
  * [[DedupStream.readStore]] rule).
  *
  * Knob guard (the [[CoverStream]] rule): a restart against an existing
  * store with a different bucket width or epsilon would score
  * incomparable histograms with no error — [[start]] verifies the
  * persisted stamp and fails loud on drift. The persisted baseline is
  * authoritative after first start: a different `baseline` frame passed
  * on restart is ignored (documented, not an error — recomputing would
  * silently move the reference frame).
  */
object DriftStream {

  def start(
      values: DataFrame,
      valueCol: String,
      baseline: DataFrame,
      bucketWidth: Long,
      storeDir: String,
      checkpointDir: String,
      epsilon: Double = 1e-6): StreamingQuery = {
    ensureBaseline(values.sparkSession, baseline, valueCol, bucketWidth,
      storeDir, epsilon)
    SliceStore.start(values, checkpointDir) { (batch, batchId) =>
      processBatch(batch.sparkSession, batch, valueCol, bucketWidth,
        storeDir, batchId, epsilon)
    }
  }

  /** Persist the frozen baseline histogram + knob stamp once; verify
    * the stamp on every later start (see the class doc). `meta` is
    * written last and counts as present only once COMMITTED
    * ([[SliceStore.hasVisibleFile]]): a crash inside the first start's
    * writes leaves at most a `_temporary/` tree, and the next start
    * writes both tables again instead of failing to read it.
    */
  def ensureBaseline(spark: SparkSession, baseline: DataFrame,
      valueCol: String, bucketWidth: Long, storeDir: String,
      epsilon: Double): Unit = {
    Files.createDirectories(Paths.get(storeDir))
    if (!SliceStore.hasVisibleFile(Paths.get(storeDir, "meta"))) {
      import spark.implicits._
      // an EMPTY baseline has no distribution to drift from — shares
      // divide by a null total and every later batch would die on a
      // null PSI sum; refuse at start instead
      require(!baseline.isEmpty,
        "drift baseline is empty — a monitor needs a reference distribution")
      Profiling.bucketCounts(baseline, valueCol, bucketWidth, "n_base")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/baseline")
      Seq((bucketWidth, epsilon)).toDF("bucket_width", "epsilon")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$storeDir/meta")
    } else {
      val m = TableReads.read(spark, s"$storeDir/meta").head()
      val (w, e) = (m.getAs[Long]("bucket_width"), m.getAs[Double]("epsilon"))
      require(w == bucketWidth && e == epsilon,
        s"drift store at $storeDir was built with bucket_width=$w " +
          s"epsilon=$e — reopening with ($bucketWidth, $epsilon) would " +
          "score incomparable histograms; use a fresh store to re-baseline")
    }
  }

  /** One micro-batch: histogram, per-bucket PSI vs the frozen baseline,
    * and the 1-row summary with batch + cumulative PSI. Idempotent per
    * batchId (see the class doc).
    */
  def processBatch(spark: SparkSession, batch: DataFrame, valueCol: String,
      bucketWidth: Long, storeDir: String, batchId: Long,
      epsilon: Double = 1e-6): Unit = {
    if (!batch.isEmpty) {
      val base = TableReads.read(spark, s"$storeDir/baseline")
      val bh = Profiling
        .bucketCounts(batch, valueCol, bucketWidth, "n_cur")
        // reuse: three actions read the aggregate (the slice write
        // and two PSI sums); no query runs a stream, so it has no A/B
        .localCheckpoint()
      SliceStore.write(bh, storeDir, "hist", batchId)
      val psi = Profiling.psiOverBuckets(base, bh, epsilon)
      SliceStore.write(psi, storeDir, "psi", batchId)
      // cumulative = persisted strictly-before histograms + this
      // batch's own in-memory one (never its possibly-stale persisted
      // slice — a replay must see the identical cumulative view)
      val earlier = histograms(spark, storeDir, beforeBatch = batchId)
      val cum = earlier.unionByName(bh.select(col("bucket"), col("n_cur")))
        .groupBy(col("bucket")).agg(sum(col("n_cur")).as("n_cur"))
      val psiCum = Profiling.psiOverBuckets(base, cum, epsilon)
      import spark.implicits._
      val nRows = batch.count()
      val pb = psi.agg(sum(col("psi_term"))).head().getDouble(0)
      val pc = psiCum.agg(sum(col("psi_term"))).head().getDouble(0)
      SliceStore.write(Seq((nRows, pb, pc))
        .toDF("n_rows", "psi_batch", "psi_cum").coalesce(1),
        storeDir, "summary", batchId)
    }
  }

  /** Persisted batch histograms as (bucket, n_cur), bounded to batches
    * strictly before `beforeBatch` (the replay guard); a store with no
    * committed slices yet is a valid empty view.
    */
  def histograms(spark: SparkSession, storeDir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    SliceStore.read(spark, storeDir, "hist", HistSchema, beforeBatch)
      .select(col("bucket"), col("n_cur"))

  /** Every batch's verdict so far: (batch, n_rows, psi_batch, psi_cum). */
  def summaries(spark: SparkSession, storeDir: String): DataFrame =
    SliceStore.read(spark, storeDir, "summary", SummarySchema)
      .select(col("batch").cast("long").as("batch"), col("n_rows"),
        col("psi_batch"), col("psi_cum"))

  /** Slice schemas of the tables read back ([[SliceStore]] class doc). */
  private[graft] val HistSchema =
    StructType.fromDDL("bucket BIGINT, n_cur BIGINT, batch INT")
  private[graft] val SummarySchema =
    StructType.fromDDL("n_rows BIGINT, psi_batch DOUBLE, psi_cum DOUBLE, batch INT")
}
