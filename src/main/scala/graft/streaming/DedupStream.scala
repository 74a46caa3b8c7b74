package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming near-duplicate classification — the unbounded twin of the
  * q_dedup_index_incr batch merge (reference behavior: the ingest
  * pipeline's per-batch matching of incoming rows against standing
  * state, `/root/reference/mply_ingester/backend/mply_ingester/
  * ingestion/service.py:15-40` — SKU-set extraction then apply against
  * the database — generalized from SKU equality to content
  * near-duplication): documents
  * arrive on a stream, each micro-batch is classified exact / near /
  * unique against the STANDING corpus — everything seen in strictly
  * earlier batches — through the persisted dedup index
  * ([[graft.operators.Dedup.dedupIndex]]: content fingerprint + MinHash
  * signature per doc), then contributes its own index slice. The corpus
  * is never re-paired against itself: per-batch cost is the batch's
  * signature aggregate plus a banded probe join into the standing index
  * — the 100 TB shape (the alternative, re-running corpus-wide LSH per
  * arrival, grows quadratically in stream length).
  *
  * Store layout ([[SliceStore]] tables, one slice per micro-batch):
  *   storeDir/status/batch=<id>/ — that batch's (doc, status, match_id)
  *   storeDir/index/batch=<id>/  — that batch's (id, signature, fp)
  *   storeDir/docs/batch=<id>/   — that batch's (id, text), for the
  *                                 exact-Jaccard verify of LATER batches
  *
  * Replay follows the [[SliceStore]] contract, with one twist the
  * index stream does not need: a crash AFTER this batch's index slice
  * lands but BEFORE the checkpoint commit re-delivers the batch — at
  * which point the standing store already contains the batch's own
  * documents, and classifying against them would report every replayed
  * doc as an exact duplicate of itself. [[readStore]] therefore reads
  * only slices STRICTLY BEFORE the batch being classified, so a replay
  * recomputes the identical status slice from the identical standing
  * view.
  */
object DedupStream {

  def start(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      storeDir: String,
      checkpointDir: String): StreamingQuery =
    SliceStore.start(docs, checkpointDir) { (batch, batchId) =>
      classifyBatch(batch.sparkSession, batch, textCol, idCol, storeDir,
        batchId)
    }

  /** One micro-batch: classify against the standing (strictly earlier)
    * store, then append this batch's index + docs slices — all three
    * writes OVERWRITE the batch's own batchId-keyed subdirectory, so a
    * replayed batch rewrites identical slices (see the class doc).
    * Within-batch duplicates classify as `unique` — the batch is
    * classified against the standing corpus only, exactly like the
    * batch sibling's incoming/existing split; arrival order between
    * batches is what the stream adds.
    */
  def classifyBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, storeDir: String, batchId: Long): Unit = {
    SliceStore.requireLongId(batch, idCol, "DedupStream")
    if (!batch.isEmpty) {
      // The batch feeds three sinks plus the classification; pin it so
      // the streaming source is not replayed per consumer, and compute
      // the MinHash signature aggregate (the expensive half) ONCE —
      // it serves both the classification and this batch's index slice.
      val pinned = batch.persist()
      try {
        val sigs = Dedup.minHashSignatures(pinned, textCol, idCol)
          // reuse: two actions (the status and index slice writes) read
          // the signatures; no query runs a stream, so no A/B
          .localCheckpoint()
        // fingerprint side first + LEFT join (the Dedup.dedupIndex
        // shape): a doc too short to shingle has no signature row, and
        // an inner join would drop its fingerprint from the persisted
        // index — its later exact duplicates would classify 'unique'
        val batchIndex = pinned
          .select(col(idCol).as("id"),
            Dedup.contentFingerprint(col(textCol)).as("fp"))
          .join(sigs, Seq("id"), "left")
          .select(col("id"), col("signature"), col("fp"))
        val (index, corpus) =
          readStore(spark, storeDir, textCol, idCol, beforeBatch = batchId)
        SliceStore.write(Dedup.incrementalStatusGivenSigs(index, corpus,
          pinned, sigs, textCol, idCol), storeDir, "status", batchId)
        SliceStore.write(batchIndex, storeDir, "index", batchId)
        SliceStore.write(pinned.select(col(idCol), col(textCol)), storeDir,
          "docs", batchId)
      } finally pinned.unpersist()
    }
  }

  /** The maintained store as (index, corpus) — the two standing inputs
    * [[graft.operators.Dedup.incrementalStatusWithIndex]] needs.
    * `beforeBatch` bounds the view to batches strictly earlier (the
    * replay guard); external readers use the default unbounded view.
    * A store with no committed slices yet is a VALID empty corpus.
    */
  def readStore(spark: SparkSession, storeDir: String, textCol: String,
      idCol: String, beforeBatch: Long = Long.MaxValue): (DataFrame, DataFrame) = {
    // each side reads on its own: a crash between the index and docs
    // writes of a batch may leave one slice present and the other
    // missing until the batch replays
    val index = SliceStore.read(spark, storeDir, "index", IndexSchema, beforeBatch)
      .select(col("id"), col("signature"), col("fp"))
    val corpus = SliceStore.read(spark, storeDir, "docs",
        docsSchema(idCol, textCol), beforeBatch)
      .select(col(idCol), col(textCol))
    (index, corpus)
  }

  /** Every classified document so far: (idCol, status, match_id, batch)
    * — the batchId kept as provenance (WHEN the doc arrived determines
    * what it was classified against, so it is part of the answer here,
    * unlike the index stream's sink bookkeeping).
    */
  def statuses(spark: SparkSession, storeDir: String, idCol: String = "doc_id"): DataFrame =
    SliceStore.read(spark, storeDir, "status", statusSchema(idCol))
      .select(col(idCol), col("status"), col("match_id"),
        col("batch").cast("long").as("batch"))

  /** Slice schemas of the tables read back ([[SliceStore]] class doc). */
  private[graft] val IndexSchema = StructType.fromDDL(
    "id BIGINT, signature ARRAY<BIGINT>, fp STRING, batch INT")
  private[graft] def docsSchema(idCol: String, textCol: String): StructType =
    StructType.fromDDL(s"`$idCol` BIGINT, `$textCol` STRING, batch INT")
  private[graft] def statusSchema(idCol: String): StructType =
    StructType.fromDDL(s"`$idCol` BIGINT, status STRING, match_id BIGINT, batch INT")
}
