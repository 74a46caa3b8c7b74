package graft.streaming

import graft.operators.{Dsir, DriverRows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming DSIR scoring — the unbounded twin of the q_dsir_sample
  * batch scorer: the two hashed-n-gram bucket multinomials are fit ONCE
  * on a bounded reference corpus and FROZEN ([[Dsir.modelTerms]], a
  * <= B-row table — a standing artifact like the posting index), then
  * every arriving micro-batch of documents is scored against that
  * frozen model — the deployment shape where selection happens at
  * ingest time, before a document is ever admitted to the corpus.
  *
  * Per-batch cost is the batch's own feature explode plus a broadcast
  * join against the frozen terms; NO state grows with the stream (the
  * model is immutable, scoring is stateless per document), so stream
  * length never appears in any per-batch plan. Features outside the
  * model's observed bucket set take the smoothed unseen-bucket term
  * ([[Dsir.unseenTerm]]) — new vocabulary cannot silently vanish from
  * a score.
  *
  * Store layout: one [[SliceStore]] table, storeDir/scores/batch=<id>/,
  * holding that batch's (id, n_feats, score). Scoring is a pure function
  * of the frozen model and the batch, so a replay's overwrite is
  * byte-identical.
  */
object DsirStream {

  def start(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      terms: DataFrame,
      defaultTerm: java.math.BigDecimal,
      buckets: Int,
      storeDir: String,
      checkpointDir: String): StreamingQuery = {
    // Enforce the frozen-model contract HERE, not by caller discipline:
    // a lazy `terms` plan over a changing source would silently refit
    // per micro-batch. The freeze must also be DURABLE for a stream
    // designed to run forever: localCheckpoint blocks live only on the
    // executors that wrote them, so losing one (spot churn, OOM kill)
    // would fail every later micro-batch with a missing-block error.
    // The model is <= B rows by construction (Dsir.modelTerms emits at
    // most one per bucket) — collect it, bounded, and rebuild a
    // driver-owned local relation instead.
    val rows = DriverRows.collect(terms, buckets,
      s"DsirStream: frozen model with buckets=$buckets (expected at " +
        "most one term row per bucket, Dsir.modelTerms)")
    val frozen = terms.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), terms.schema)
    SliceStore.start(docs, checkpointDir) { (batch, batchId) =>
      scoreBatch(batch, textCol, idCol, frozen, defaultTerm, buckets,
        storeDir, batchId)
    }
  }

  def scoreBatch(batch: DataFrame, textCol: String,
      idCol: String, terms: DataFrame, defaultTerm: java.math.BigDecimal,
      buckets: Int, storeDir: String, batchId: Long): Unit = {
    SliceStore.requireLongId(batch, idCol, "DsirStream")
    if (!batch.isEmpty) {
      SliceStore.write(Dsir.scoreAgainst(batch, textCol, idCol, terms,
        buckets, defaultTerm = Some(defaultTerm)), storeDir, "scores", batchId)
    }
  }

  /** All scores accumulated so far; an empty score table when no batch
    * has committed a slice.
    */
  def scores(spark: SparkSession, storeDir: String, idCol: String): DataFrame =
    SliceStore.read(spark, storeDir, "scores", scoresSchema(idCol))
      .select(col(idCol), col("n_feats"), col("score"))

  /** Slice schemas of the tables read back ([[SliceStore]] class doc). */
  private[graft] def scoresSchema(idCol: String): StructType =
    StructType.fromDDL(s"`$idCol` BIGINT, n_feats BIGINT, score DOUBLE, batch INT")
}
