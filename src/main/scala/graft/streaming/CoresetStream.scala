package graft.streaming

import graft.operators.{Coreset, DriverRows}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming k-center maintenance — the DOUBLING ALGORITHM for
  * incremental k-center (Charikar, Chekuri, Feder & Motwani 1997,
  * "Incremental clustering and dynamic information retrieval"), the
  * unbounded twin of [[graft.operators.Coreset.kCenterGreedy]]: vectors
  * arrive on a stream and the state is AT MOST k centers plus one
  * separation radius — fixed-size no matter how long the stream runs.
  *
  * Maintained invariants (squared-distance form, radius r with
  * rSq = r²):
  *  - a point is COVERED if its rounded squared distance to some center
  *    is <= (2r)² = 4·rSq; covered points never change state;
  *  - an uncovered point becomes a center; when |C| exceeds k, the
  *    radius at least doubles (rSq' = max(4·rSq, min pairwise d2) — the
  *    max guarantees at least one merge) and centers within r' of an
  *    earlier-kept center are dropped (insertion-order greedy scan);
  *  - every point ever seen is within 4·r of some CURRENT center
  *    (d2 <= 16·rSq): a covered point sat within 2r_then of its center,
  *    each merge relocates a dropped center by at most the merge's r_j,
  *    and because r at least doubles per merge the relocation chain
  *    telescopes to < 2·r_final — CoresetStreamSpec asserts the 16·rSq
  *    bound over the full stream history.
  *
  * Per-batch plan: ONE distributed scan filters the batch against the
  * entry state (centers are broadcast literals in a codegen'd `least`
  * chain, the batch never shuffles); only the survivors — the batch's
  * novelty volume, which the covering invariant keeps packing-bounded
  * on any clusterable stream — collect to the driver for the
  * algorithm's inherently sequential insertions (ascending id, the
  * deterministic batch order). The entry filter is EXACT, not an
  * approximation: each merge at least doubles r, so a point covered at
  * entry (d <= 2·r_entry of center c) stays covered after any merge
  * sequence (c relocates by <= r' <= ... with 2·r_entry <= r', giving
  * d <= 2·r'), hence dropping it early equals processing it in
  * sequence — CoresetStreamSpec proves the equivalence against a pure
  * sequential reference.
  *
  * Store layout (a snapshot twist on the [[SliceStore]] contract): each
  * micro-batch writes the FULL post-batch state as its slice of
  * storeDir/state/ (rows: ord, id, vec, r_sq, k — at most k rows,
  * trivially rewritable); a batch reads the latest snapshot STRICTLY
  * BEFORE its own batchId, so an at-least-once redelivery recomputes
  * the identical snapshot from the identical prior state.
  */
object CoresetStream {

  /** Stream state: centers in insertion order (id, vector) + rSq. */
  case class CoverState(centers: Vector[(Long, Array[Double])], rSq: Double)

  val Empty: CoverState = CoverState(Vector.empty, 0.0)

  def start(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      storeDir: String,
      checkpointDir: String): StreamingQuery = {
    require(k >= 1, "k-center stream needs k >= 1")
    SliceStore.start(vecs, checkpointDir) { (batch, batchId) =>
      processBatch(batch.sparkSession, batch, vecCol, idCol, k, storeDir,
        batchId)
    }
  }

  def processBatch(spark: SparkSession, batch: DataFrame, vecCol: String,
      idCol: String, k: Int, storeDir: String, batchId: Long,
      chunk: Int = DriverChunk): Unit = {
    if (!batch.isEmpty) {
      // knob drift guard (the CoverStream discipline): a store written
      // under a different k holds a center set whose |C| <= k invariant
      // and doubling history were maintained under DIFFERENT semantics
      // — refuse loudly instead of silently violating the bound
      val snap = snapshotRows(spark, storeDir, Some(batchId), k)
      snap.flatMap(kOf).foreach { sk =>
        require(sk == k,
          s"store $storeDir was written with k=$sk; " +
            s"refusing to continue it with k=$k")
      }
      val prior = snap.map(stateOf).getOrElse(Empty)
      // BOUNDED driver pulls: the entry filter contributes nothing while
      // the state is empty or young (tiny rSq), so one collect of the
      // whole batch is unbounded driver memory on batch 0. Pull
      // ascending chunks, re-filtering the REMAINDER against the
      // UPDATED state between chunks — the re-filter's drop predicate is
      // exactly insertAll's own skip test (d2 <= 4*rSq against current
      // centers, same rounding), so the final state equals the one-shot
      // sequential insertion while each driver pull stays <= DriverChunk.
      // Paging key: (id, mid) where mid is a synthetic unique tiebreaker
      // PINNED by the localCheckpoint — paging on id alone would skip
      // duplicate ids straddling a chunk boundary and make the
      // orderBy(id).limit cut nondeterministic across ties.
      val base = batch
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .withColumn("mid", monotonically_increasing_id())
        .localCheckpoint() // determinism: the mid key, re-read per chunk
      var st = prior
      var last = (Long.MinValue, Long.MinValue)
      var more = true
      while (more) {
        val surv = survivors(base, st, last, chunk)
        if (surv.isEmpty) more = false
        else {
          st = insertAll(st, surv.map { case (id, _, v) => (id, v) }, k)
          last = (surv.last._1, surv.last._2)
        }
      }
      writeState(spark, st, storeDir, batchId, k)
    }
  }

  private val DriverChunk = 8192

  /** The state slice [[writeState]] writes: one row per center. */
  private[graft] val StateSchema = StructType.fromDDL(
    "ord INT, id BIGINT, vec ARRAY<DOUBLE>, r_sq DOUBLE, k INT")

  /** The latest snapshot's rows (ord-ordered), read ONCE per batch —
    * the knob guard and the state read share it. A snapshot holds at
    * most k centers, so one written under a larger k fails loud here.
    */
  private def snapshotRows(spark: SparkSession, storeDir: String,
      beforeBatch: Option[Long], k: Int): Option[Array[Row]] =
    SliceStore.latest(storeDir, "state", beforeBatch.getOrElse(Long.MaxValue))
      .map { b =>
        DriverRows.collect(spark.read.schema(StateSchema)
            .parquet(SliceStore.path(storeDir, "state", b)).orderBy(col("ord")),
          k, s"CoresetStream state snapshot $b of $storeDir (k=$k)")
      }

  private def stateOf(rows: Array[Row]): CoverState =
    if (rows.isEmpty) Empty
    else CoverState(
      rows.map(r => (r.getAs[Long]("id"),
        r.getAs[Seq[Double]]("vec").toArray)).toVector,
      rows.head.getAs[Double]("r_sq"))

  /** The k a snapshot was written under; None for an empty snapshot
    * (or a pre-k-column legacy one, whose k reads back null).
    */
  private def kOf(rows: Array[Row]): Option[Int] =
    rows.headOption.filterNot(_.isNullAt(StateSchema.fieldIndex("k")))
      .map(_.getAs[Int]("k"))

  /** The next <= `limit` potential state-changers with id > `afterId`
    * under the CURRENT state, in ascending-id order (the deterministic
    * processing order): rows whose rounded d2 to EVERY center exceeds
    * 4·rSq. See the class doc for why dropping covered points is exact.
    */
  private def survivors(base: DataFrame, st: CoverState,
      after: (Long, Long), limit: Int): Seq[(Long, Long, Array[Double])] = {
    // raw vector column on the scan side: DotProduct widens per element,
    // and avoiding the interpreted transform-cast keeps the whole
    // novelty filter inside whole-stage codegen (PlanPropertiesSpec).
    val (afterId, afterMid) = after
    val scoped = base.filter(col("id") > afterId ||
      (col("id") === afterId && col("mid") > afterMid))
    val kept =
      if (st.centers.isEmpty) scoped
      else {
        val dists = st.centers.map { case (_, c) =>
          Coreset.d2(col("v"), typedLit(c.toSeq)) }
        val dmin = if (dists.length == 1) dists.head else least(dists: _*)
        scoped.filter(dmin > lit(4.0 * st.rSq))
      }
    kept.orderBy(col("id"), col("mid")).limit(limit).collect()
      .map(r => (r.getLong(0), r.getLong(2), Coreset.toDoubleArray(r, 1))).toSeq
  }

  /** Sequential doubling-algorithm insertions — at most (survivors)
    * iterations of bounded (<= k+1 centers) work each.
    */
  private[graft] def insertAll(st: CoverState,
      pts: Seq[(Long, Array[Double])], k: Int): CoverState = {
    var centers = st.centers
    var rSq = st.rSq
    pts.foreach { case (id, v) =>
      // dimension guard: d2Scalar (and graftDot on the scan side) sum
      // over min(len) — a mismatched vector would silently truncate
      // instead of erroring
      require(centers.isEmpty || v.length == centers.head._2.length,
        s"vector dim ${v.length} != maintained center dim " +
          s"${centers.head._2.length}")
      val covered = centers.nonEmpty &&
        centers.exists { case (_, c) => Coreset.d2Scalar(v, c) <= 4.0 * rSq }
      if (!covered) {
        centers :+= (id -> v)
        while (centers.length > k) {
          var minPair = Double.PositiveInfinity
          var i = 0
          while (i < centers.length) {
            var j = i + 1
            while (j < centers.length) {
              val d = Coreset.d2Scalar(centers(i)._2, centers(j)._2)
              if (d < minPair) minPair = d
              j += 1
            }
            i += 1
          }
          rSq = math.max(4.0 * rSq, minPair)
          var kept = Vector.empty[(Long, Array[Double])]
          centers.foreach { c =>
            if (!kept.exists(o => Coreset.d2Scalar(c._2, o._2) <= rSq))
              kept :+= c
          }
          centers = kept
        }
      }
    }
    CoverState(centers, rSq)
  }

  private def writeState(spark: SparkSession, st: CoverState,
      storeDir: String, batchId: Long, k: Int): Unit = {
    import spark.implicits._
    SliceStore.write(st.centers.zipWithIndex
      .map { case ((id, v), ord) => (ord, id, v.toSeq, st.rSq, k) }
      .toDF("ord", "id", "vec", "r_sq", "k").coalesce(1),
      storeDir, "state", batchId)
  }

  /** Latest state snapshot of a store maintained with `k`, optionally
    * restricted to batches strictly before `beforeBatch` (the redelivery
    * guard). No snapshot yet is the VALID empty state, not an
    * AnalysisException.
    */
  def readState(spark: SparkSession, storeDir: String, k: Int,
      beforeBatch: Option[Long] = None): CoverState =
    snapshotRows(spark, storeDir, beforeBatch, k).map(stateOf).getOrElse(Empty)

  /** External readout of the centers a store maintained with `k`
    * holds: (ord, id, r_sq).
    */
  def centers(spark: SparkSession, storeDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val st = readState(spark, storeDir, k)
    st.centers.zipWithIndex
      .map { case ((id, _), ord) => (ord.toLong, id, st.rSq) }
      .toDF("ord", "id", "r_sq")
  }
}
