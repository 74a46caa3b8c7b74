package graft.streaming

import graft.operators.TermIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming maintenance of the RAW inverted index — the unbounded twin
  * of the q_sparse_knn_incr batch merge: documents arrive on a stream,
  * each micro-batch contributes its own batch-sized posting aggregate
  * ([[TermIndex.rawIndex]] — (id, word, tf) rows) plus its row count,
  * and the standing side is NEVER recomputed. Because df/idf derive
  * from the merged postings at weight time ([[TermIndex
  * .weightsFromRaw]]), appending postings + adding doc counts IS the
  * complete index update; retrieval through the maintained store is
  * provably identical to a from-scratch rebuild over everything seen
  * (IndexStreamSpec's stream==batch differential).
  *
  * Store layout ([[SliceStore]] tables, one slice per micro-batch —
  * replay overwrites the batch's own slices, so df and N never double):
  *   storeDir/postings/batch=<id>/  — that batch's (id, word, tf)
  *   storeDir/meta/batch=<id>/      — that batch's (_n); N = sum
  *
  * Scale shape: per micro-batch cost is one explode + one keyed
  * aggregate over the BATCH (map-side combinable); the standing
  * posting table is written once and only ever appended to. At 100 TB
  * the postings dir is term-bucketed so the retrieval join stays
  * co-located; compaction of small per-batch slices is the
  * [[graft.operators.Compaction]] job run on the index like any table.
  */
object IndexStream {

  /** Start maintaining the index store from a document stream with
    * columns (idCol, textCol). AvailableNow/trigger choices are the
    * caller's via the returned query's options — tests use the default
    * micro-batch trigger over a MemoryStream.
    */
  def start(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      storeDir: String,
      checkpointDir: String): StreamingQuery =
    SliceStore.start(docs, checkpointDir) { (batch, batchId) =>
      appendBatch(batch, textCol, idCol, storeDir, batchId)
    }

  /** One micro-batch's contribution: batch-sized postings + its doc
    * count, OVERWRITING the batch's own batchId-keyed slice so a
    * replayed batch is idempotent (see the class doc). Also the unit
    * the batch path (q_sparse_knn_incr) and the stream share — both
    * call this semantics, so the differential spec proves the
    * streaming plumbing, not a fork of the merge logic.
    */
  def appendBatch(batch: DataFrame, textCol: String, idCol: String,
      storeDir: String, batchId: Long): Unit = {
    SliceStore.requireLongId(batch, idCol, "IndexStream")
    if (!batch.isEmpty) {
      SliceStore.write(TermIndex.rawIndex(batch, textCol, idCol),
        storeDir, "postings", batchId)
      SliceStore.write(TermIndex.docCount(batch), storeDir, "meta", batchId)
    }
  }

  /** Read the maintained store back as (postings, nDocs) — the inputs
    * [[TermIndex.weightsFromRaw]] needs. Per-batch posting slices are
    * disjoint by id (each doc arrives once), so no merge pass is
    * needed; N is the sum of the per-batch counts. The batchId
    * partition column from the slice layout is dropped — it is sink
    * bookkeeping, not index content.
    */
  def readStore(spark: SparkSession, storeDir: String): (DataFrame, DataFrame) = {
    // if every micro-batch was empty, appendBatch never created
    // postings/ or meta/ — an empty index is a VALID store state (zero
    // postings, N = 0). appendBatch writes postings THEN meta, so a
    // crash between the two leaves a postings slice with meta absent
    // or behind until the batch replays; each side reads on its own.
    val postings = SliceStore.read(spark, storeDir, "postings", PostingsSchema)
      .select(col("id"), col("word"), col("tf"))
    val n = SliceStore.read(spark, storeDir, "meta", MetaSchema)
      .agg(coalesce(sum(col("_n")), lit(0L)).cast("long").as("_n"))
    (postings, n)
  }

  /** Retrieval over the maintained store: weight, then the standard
    * query half ([[TermIndex.sparseKnnFromIndex]]). The derived
    * weights are checkpointed — sparseKnnFromIndex reads them three
    * times (norms, query postings, dots), and without materialization
    * the df join and weight formula would re-execute per consumer
    * (the batch siblings' localCheckpoint discipline).
    */
  def sparseKnn(spark: SparkSession, storeDir: String, queries: DataFrame,
      k: Int = 5): DataFrame = {
    val (postings, n) = readStore(spark, storeDir)
    TermIndex.sparseKnnFromIndex(
      // reuse: no A/B of its own (no query runs a stream); the batch twin
      // in q_sparse_knn_incr measured 0.83 s pinned vs 1.61 s unpinned
      TermIndex.weightsFromRaw(postings, n).localCheckpoint(), queries, k)
  }

  /** Slice schemas of the tables read back ([[SliceStore]] class doc). */
  private[graft] val PostingsSchema =
    StructType.fromDDL("id BIGINT, word STRING, tf BIGINT, batch INT")
  private[graft] val MetaSchema = StructType.fromDDL("_n BIGINT, batch INT")
}
