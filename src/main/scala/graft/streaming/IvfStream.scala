package graft.streaming

import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming IVF store maintenance — the unbounded twin of the
  * q_ivf_incr batch append: vectors arrive on a stream, each
  * micro-batch is assigned to cells under FROZEN centroids
  * ([[graft.operators.IvfIndex.assign]] — one row-local scan) and
  * written as its own [[SliceStore]] slice, itself laid out
  * `partitionBy(cell)` so query-time probes prune to nprobe/nlist of
  * the store across every slice. Because assignment is a pure per-row
  * function of (vector, centroids), the maintained store is EXACTLY
  * the from-scratch assignment of everything that arrived — the
  * merged==fresh property, proven stream-side by IvfStreamSpec.
  *
  * Replay needs only the [[SliceStore]] overwrite contract: unlike [[DedupStream]] (whose classification reads the
  * standing store and must exclude the batch's own slice), assignment
  * reads nothing standing, so a re-delivered batch rewrites an
  * identical slice and nothing else can observe the difference.
  *
  * Centroids are deliberately a PARAMETER, not stream state: the
  * coarse quantizer is a build artifact trained once on a standing
  * corpus (q_ivf_incr's contract). Re-training belongs to an offline
  * rebuild that writes a NEW store — never to the append path, where
  * it would silently re-partition history.
  */
object IvfStream {

  def start(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      storeDir: String,
      checkpointDir: String): StreamingQuery =
    SliceStore.start(vecs, checkpointDir) { (batch, batchId) =>
      appendBatch(batch, vecCol, idCol, centroids, storeDir, batchId)
    }

  def appendBatch(batch: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], storeDir: String, batchId: Long): Unit = {
    SliceStore.requireLongId(batch, idCol, "IvfStream")
    if (!batch.isEmpty) {
      SliceStore.write(IvfIndex.assign(batch, vecCol, idCol, centroids),
        storeDir, "store", batchId, partitionBy = Seq("cell"))
    }
  }

  /** The maintained store as the (id, cell, vec) frame
    * [[graft.operators.IvfIndex.ivfTopKFromStore]] takes; the batchId
    * partition column is sink bookkeeping and is dropped. An empty
    * store is a valid state, not an AnalysisException.
    */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    SliceStore.read(spark, storeDir, "store", StoreSchema)
      .select(col("id"), col("cell").cast("int").as("cell"), col("vec"))

  /** Slice schemas of the table read back ([[SliceStore]] class doc). */
  private[graft] val StoreSchema =
    StructType.fromDDL("id BIGINT, vec ARRAY<DOUBLE>, batch INT, cell INT")

  /** Query the maintained store — the standard probe-pruned top-k. */
  def topK(spark: SparkSession, storeDir: String, queryVec: Seq[Double],
      centroids: Array[Array[Double]], k: Int = 10, nprobe: Int = 4): DataFrame =
    IvfIndex.ivfTopKFromStore(readStore(spark, storeDir), queryVec,
      centroids, k, nprobe)
}
