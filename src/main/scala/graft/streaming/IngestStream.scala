package graft.streaming

import graft.operators.{DriverRows, IngestionReport, IngestionService, ParserConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.sql.Timestamp

/** The reference's upload endpoint (web/api/products.py upload route →
  * DataIngestionService) lifted onto a DROP DIRECTORY, per SURVEY
  * §1.4/§3.1: instead of one POST per batch, producers land files in a
  * watched directory and a Structured Streaming file source turns each
  * arrival into one full [[operators.IngestionService]] batch via
  * `foreachBatch` — identical all-or-nothing validation, merge, and
  * report semantics, because the SAME service runs inside the sink.
  *
  * Scale shape: the stream carries only file-arrival METADATA (one row
  * per file line, but only `_metadata.file_path` is projected and the
  * per-batch collect is over DISTINCT paths — bounded by
  * `maxFilesPerTrigger`, never by file size). The heavy lifting —
  * parse, validate, merge — happens in the service's own distributed
  * batch plan against the file path, exactly as in the POST model. The
  * checkpoint plus the batchId-keyed processed marker make arrival
  * processing effectively-once across restarts (see [[start]] for the
  * exact redelivery contract).
  */
object IngestStream {

  /** Per-file convention for the reference's `full_update` request
    * parameter: a file named `*.full.csv` (any extension) runs its
    * batch in full-update mode — the drop-directory equivalent of the
    * endpoint flag.
    */
  private[streaming] def isFullUpdate(path: String): Boolean =
    path.contains(".full.")

  /** Files one micro-batch admits: the per-batch collect of distinct
    * paths is bounded by `maxFilesPerTrigger` (SCALE.md), so this is
    * also the bound [[start]] collects under.
    */
  private val FilesPerTrigger = 1

  /** Arrival stream over `dir`: one row per newly-listed file path,
    * [[FilesPerTrigger]] files per micro-batch.
    */
  def fromDropDirectory(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text")
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .load(dir)
      .select(col("_metadata.file_path").as("file_path"))

  /** Start the endpoint: every arriving file runs one ingest batch, in
    * lexicographic path order within a micro-batch (producers that need
    * strict ordering encode it in the name, the standard drop-dir
    * contract). `batchTsFor` pins the batch stamp; the DEFAULT derives
    * it from the file's modification time, so a redelivered batch
    * re-stamps identically (a wall-clock default would re-stamp every
    * replayed merge differently). `onReport` receives each file's
    * [[operators.IngestionReport]] — a failed file reports failure and
    * writes nothing, and the stream keeps consuming (the per-batch
    * atomicity of the POST model).
    *
    * Redelivery: foreachBatch is AT-LEAST-ONCE, and the service's
    * sku-less insert path is not idempotent — so each file's ingest
    * commits a PER-FILE MARKER TOKEN atomically with its store publish
    * ([[operators.ProductBackend.overwriteClientAtomic]]: the token
    * rides the version directory through the CURRENT swap on the
    * parquet store, or the single swap transaction over JDBC). A
    * replayed file whose token is visible was FULLY committed and is
    * skipped; one whose token is absent wrote NOTHING (all-or-nothing
    * publish) and re-runs safely — there is no crash point that
    * duplicates a sku-less insert. The batchId marker under the
    * checkpoint dir (a [[SliceStore]] slice of `graft-processed`
    * listing the batch's files) is purely a fast path that skips store
    * probes for fully-processed batches. A file whose ingest FAILED
    * (validation abort) commits no token; it is retried on a replay of
    * its batch and deterministically fails again — same semantics as
    * the batch POST model. `onReport` may re-fire for a replayed failed
    * file — report consumers that require exactly-once should key on
    * (path, ts).
    *
    * Retention: every `markerRetentionBatches` batches, tokens minted a
    * full window before the current batch are retired (a replay can
    * only redeliver the last uncommitted batch, never one a window
    * back), bounding the marker set — and the parquet store's
    * per-publish carry-forward cost — to O(window), not O(lifetime
    * files). 0 disables retention (markers then grow unboundedly).
    */
  /** Token shape this stream mints — retention parses the batch id back
    * out of it; tokens of any other shape are never retired here.
    */
  private val TokenShape = "^ingest_([0-9]+)_[0-9a-f]{32}$".r

  private val Processed = "graft-processed"

  def start(
      spark: SparkSession,
      service: IngestionService,
      cfg: ParserConfig,
      dir: String,
      checkpointDir: String,
      batchTsFor: String => Timestamp = p => new Timestamp(
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(
          p.stripPrefix("file:"))).toMillis),
      onReport: (String, IngestionReport) => Unit = (_, _) => (),
      markerRetentionBatches: Int = 64): StreamingQuery =
    SliceStore.start(fromDropDirectory(spark, dir), checkpointDir) {
      (batch, batchId) =>
        if (!SliceStore.latest(checkpointDir, Processed, batchId + 1)
            .contains(batchId)) {
          val files = DriverRows.collect(
              batch.select(col("file_path")).distinct(), FilesPerTrigger,
              "IngestStream micro-batch files")
            .map(_.getString(0)).sorted
          files.foreach { path =>
            // per-file token (batch-qualified, path-hashed) committed
            // atomically WITH the ingest's store publish — marker
            // present == batch fully committed, absent == nothing
            // written, so replay is exact (no duplicate window)
            val digest = java.security.MessageDigest.getInstance("MD5")
              .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
            val token = s"ingest_${batchId}_$digest"
            if (!service.alreadyIngested(token)) {
              onReport(path, service.ingest(cfg, path,
                fullUpdate = isFullUpdate(path), batchTs = batchTsFor(path),
                marker = Some(token)))
            }
          }
          import spark.implicits._
          SliceStore.write(files.toSeq.toDF("file_path").coalesce(1),
            checkpointDir, Processed, batchId)
          // Amortized MARKER RETENTION (every `markerRetentionBatches`
          // batches): a replay redelivers at most batches at-or-after
          // the last uncommitted checkpoint entry — never a full window
          // back — so tokens minted >= one window before this batch are
          // dead and safe to retire (bounding the O(live tokens) cost
          // every parquet publish pays; see ProductBackend.retireMarkers).
          // Tokens of any OTHER shape (not minted here) are always kept.
          // The same cutoff prunes the batch fast-path marker dirs.
          if (markerRetentionBatches > 0 && batchId > 0 &&
              batchId % markerRetentionBatches == 0L) {
            val cutoff = batchId - markerRetentionBatches
            service.retireMarkers {
              // unparseable-as-Long batch component (overflow) => keep
              case TokenShape(b) =>
                scala.util.Try(b.toLong).toOption.forall(_ >= cutoff)
              case _ => true
            }
            SliceStore.prune(checkpointDir, Processed, cutoff)
          }
        }
    }
}
