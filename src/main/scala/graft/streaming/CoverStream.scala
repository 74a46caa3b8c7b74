package graft.streaming

import graft.operators.{DriverRows, MaxCover}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming coverage-based selection — THRESHOLD submodular
  * maximization, the core subroutine of sieve-streaming (Badanidiyuru,
  * Mirzasoleiman, Karbasi & Krause, KDD 2014): accept an arriving
  * document iff fewer than k are selected AND its marginal coverage
  * gain (newly covered feature buckets) is at least a fixed threshold
  * τ. For τ <= OPT/(2k) the classic argument gives f(S) >= OPT/2 − kτ
  * slack in the unfilled case and f(S) >= kτ in the filled case —
  * CoverStreamSpec asserts the resulting f_stream >= f_greedy/2 − k
  * bound against the batch greedy, since f_greedy <= OPT. (Full
  * sieve-streaming runs this rule over a τ grid in parallel; the grid
  * is a caller loop here — τ is an explicit knob, stated honestly.)
  *
  * State is AT MOST k selected ids plus the covered-bucket set (<= B
  * integers) — fixed-size for the stream's whole life, like
  * [[CoresetStream]].
  *
  * Per-batch plan: the batch collapses to per-doc distinct bucket sets
  * (one aggregate), and a distributed entry filter drops every document
  * whose SINGLETON coverage is below τ — exact, not heuristic: marginal
  * gain never exceeds singleton coverage and the covered set only
  * grows, so a dropped document could not have been accepted at its
  * sequential turn either. Survivors (the batch's novelty volume)
  * collect in ascending-id order for the inherently sequential
  * accept/reject — a full-at-entry selection short-circuits the whole
  * batch.
  *
  * Store layout: the [[CoresetStream]] snapshot twist on the
  * [[SliceStore]] contract — each batch writes the full post-batch
  * state (ONE row: selected ids, covered buckets, τ, k) as its slice of
  * storeDir/state/ and reads the latest snapshot STRICTLY BEFORE its own
  * batchId, so at-least-once redelivery recomputes the identical
  * snapshot.
  */
object CoverStream {

  case class CoverState(selected: Vector[Long], covered: Set[Long])

  val Empty: CoverState = CoverState(Vector.empty, Set.empty)

  def start(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      tau: Long,
      buckets: Int,
      storeDir: String,
      checkpointDir: String): StreamingQuery = {
    require(k >= 1 && tau >= 1 && buckets >= 1, "degenerate selection knobs")
    SliceStore.start(docs, checkpointDir) { (batch, batchId) =>
      processBatch(batch.sparkSession, batch, textCol, idCol, k, tau,
        buckets, storeDir, batchId)
    }
  }

  def processBatch(spark: SparkSession, batch: DataFrame, textCol: String,
      idCol: String, k: Int, tau: Long, buckets: Int, storeDir: String,
      batchId: Long): Unit = {
    if (!batch.isEmpty) {
      // Knob drift guard: a store written under different (k, tau,
      // buckets) holds accepts made under DIFFERENT semantics — a
      // changed bucket modulus even makes the covered-set ids
      // meaningless against new batches — and a redelivered batch
      // would recompute a different snapshot. Refuse loudly rather
      // than silently reinterpret the old state.
      val snap = latestSnapshot(spark, storeDir, Some(batchId))
      snap.map(knobs).foreach {
        case (sk, st, sb) => require(sk == k && st == tau && sb == buckets,
          s"store $storeDir was written with (k=$sk, tau=$st, " +
            s"buckets=$sb); refusing to continue it with (k=$k, " +
            s"tau=$tau, buckets=$buckets)")
      }
      val prior = snap.map(stateOf).getOrElse(Empty)
      val next =
        if (prior.selected.length >= k) prior // full: nothing can accept
        else insertAll(prior,
          survivors(batch, textCol, idCol, tau, buckets), k, tau)
      writeState(spark, next, storeDir, batchId, k, tau, buckets)
    }
  }

  /** Survivors one micro-batch collects: the batch's novelty volume,
    * which the sequential accept/reject needs on the driver. The largest
    * reached is 60, CoverStreamSpec's batches (no query runs a stream).
    */
  private val MaxSurvivors = 10000

  /** Per-doc distinct bucket sets with singleton coverage >= τ, in
    * ascending-id order. Exactness: marginal <= singleton and the
    * covered set only grows, so below-τ singletons are sequentially
    * unacceptable too.
    */
  private def survivors(batch: DataFrame, textCol: String, idCol: String,
      tau: Long, buckets: Int): Seq[(Long, Array[Long])] =
    DriverRows.collect(MaxCover.featurePairs(batch, textCol, idCol, buckets)
        // cast defensively (the CoresetStream discipline): featurePairs
        // aliases the caller's id column unchanged, so an IntegerType id
        // would make the driver-side getLong throw and kill the stream
        .groupBy(col("id").cast("long").as("id"))
        .agg(collect_set(col("bucket")).as("bs"))
        .filter(size(col("bs")) >= tau)
        .orderBy(col("id")), MaxSurvivors, s"CoverStream survivors (tau=$tau)")
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray.sorted)).toSeq

  /** Sequential threshold accept/reject — the published rule. */
  private[graft] def insertAll(st: CoverState,
      docs: Seq[(Long, Array[Long])], k: Int, tau: Long): CoverState = {
    var selected = st.selected
    var covered = st.covered
    docs.foreach { case (id, bs) =>
      if (selected.length < k) {
        val gain = bs.count(b => !covered.contains(b)).toLong
        if (gain >= tau) {
          selected :+= id
          covered ++= bs
        }
      }
    }
    CoverState(selected, covered)
  }

  private def writeState(spark: SparkSession, st: CoverState,
      storeDir: String, batchId: Long, k: Int, tau: Long,
      buckets: Int): Unit = {
    import spark.implicits._
    SliceStore.write(Seq((st.selected, st.covered.toSeq.sorted, k, tau, buckets))
      .toDF("selected", "covered", "k", "tau", "buckets").coalesce(1),
      storeDir, "state", batchId)
  }

  /** The state slice [[writeState]] writes: one row per snapshot. */
  private[graft] val StateSchema = StructType.fromDDL(
    "selected ARRAY<BIGINT>, covered ARRAY<BIGINT>, k INT, tau BIGINT, buckets INT")

  /** The (k, tau, buckets) a store's latest snapshot was written under;
    * None for an empty store.
    */
  private[graft] def knobsOf(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long] = None): Option[(Int, Long, Int)] =
    latestSnapshot(spark, storeDir, beforeBatch).map(knobs)

  private def knobs(r: Row): (Int, Long, Int) =
    (r.getAs[Int]("k"), r.getAs[Long]("tau"), r.getAs[Int]("buckets"))

  /** Latest snapshot row strictly before `beforeBatch` (the redelivery
    * guard), read once per batch — the knob guard and the state read
    * share it; None when no snapshot qualifies.
    */
  private def latestSnapshot(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long]): Option[Row] =
    SliceStore.latest(storeDir, "state", beforeBatch.getOrElse(Long.MaxValue))
      .flatMap { b =>
        DriverRows.collect(spark.read.schema(StateSchema)
            .parquet(SliceStore.path(storeDir, "state", b)), 1,
          s"CoverStream state snapshot $b of $storeDir").headOption
      }

  /** No snapshot yet is the VALID empty state. */
  def readState(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long] = None): CoverState =
    latestSnapshot(spark, storeDir, beforeBatch).map(stateOf).getOrElse(Empty)

  private def stateOf(r: Row): CoverState =
    CoverState(r.getSeq[Long](r.fieldIndex("selected")).toVector,
      r.getSeq[Long](r.fieldIndex("covered")).toSet)

  /** External readout: (ord, id, covered_total). */
  def selection(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val st = readState(spark, storeDir)
    st.selected.zipWithIndex
      .map { case (id, ord) => (ord.toLong + 1L, id, st.covered.size.toLong) }
      .toDF("ord", "id", "covered_total")
  }
}
