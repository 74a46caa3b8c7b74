package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.graftDot

/** Coreset / diversity selection over an embedding column — the
  * k-center greedy ("farthest-first traversal") construction: Gonzalez
  * (1985, "Clustering to minimize the maximum intercluster distance",
  * a 2-approximation of the k-center optimum) as used for training-data
  * selection by Sener & Savarese (ICLR 2018, "Active learning for
  * convolutional neural networks: a core-set approach"). Starting from
  * a seed, each round adds the point FARTHEST from everything selected
  * so far — the k picks maximize coverage diversity, and the distance
  * that elected pick i+1 is exactly the covering radius after i picks.
  *
  * Numeric discipline: squared L2 distance from three dot products
  * (d2 = <x,x> - 2<x,c> + <c,c>, each a [[graft.functions.DotProduct]]
  * accumulation in array order — bit-identical across engines that sum
  * left-to-right), ROUNDED to 6 decimals BEFORE any comparison (the
  * [[Similarity.bruteForceTopK]] rule: ties past the rounding digit
  * break by id, never by sub-ULP noise). The seed's self-distance is
  * exactly 0 in IEEE arithmetic (a - 2a + a), so selected points can
  * never be re-selected.
  *
  * 100 TB shape: each of the k rounds is ONE corpus scan — the new
  * center is a broadcast literal folded into a running `least` column,
  * and the argmax is a TakeOrdered (per-partition top-1, driver merge
  * of one row per partition; no shuffle of vectors). Driver state is k
  * center vectors. Total cost k linear scans, the published complexity;
  * localCheckpoint every few rounds caps plan growth exactly as the
  * BPE trainer does. Coverage assignment is a k-way broadcast expand +
  * one aggregate; distance sums aggregate as DECIMAL(18,6) so the
  * per-center means are order-independent.
  */
object Coreset {

  /** One selection: `round` is 1-based pick order, `radius` the rounded
    * min-distance-to-previous-picks that elected the point (null for
    * the seed — nothing was selected before it). `center` is the
    * point's embedding as double[] (what coverage assignment needs).
    */
  case class KCenterPick(round: Long, id: Long, radius: Option[Double],
      center: Seq[Double])

  /** The scan side takes the RAW vector column (float or double):
    * [[graft.functions.DotProduct]] widens every element to double
    * before multiplying (bit-identical to the oracle's
    * CAST(... AS DOUBLE[])), and skipping the interpreted `transform`
    * cast keeps the whole distance filter inside whole-stage codegen
    * (PlanPropertiesSpec pins this).
    */
  private[graft] def d2(x: Column, c: Column): Column =
    round(graftDot(x, x) - lit(2.0) * graftDot(x, c) + graftDot(c, c), 6)

  /** Collected vector cell → double array, whatever numeric element
    * type the source column carried (float→double is exact).
    */
  private[graft] def toDoubleArray(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"non-numeric vector element: $other")
    }.toArray

  /** Driver-side mirror of [[d2]]: the SAME three sequential-sum dot
    * products and the same 6-decimal HALF_UP rounding, so a driver
    * re-check of a point the distributed filter passed lands on the
    * identical double ([[graft.streaming.CoresetStream]] depends on
    * this agreement).
    */
  private[graft] def d2Scalar(x: Array[Double], c: Array[Double]): Double = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      val n = math.min(a.length, b.length)
      while (j < n) { s += a(j) * b(j); j += 1 }
      s
    }
    BigDecimal(dot(x, x) - 2.0 * dot(x, c) + dot(c, c))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Greedy k-center selection. Returns the picks in selection order;
    * `vecs` must carry a long id column and an array<float|double>
    * vector column, and `seedId` must exist (the published algorithm
    * seeds arbitrarily — a pinned seed makes the run replayable).
    */
  def kCenterGreedy(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      seedId: Long,
      checkpointEvery: Int = 4): Seq[KCenterPick] = {
    require(k >= 1, "k-center needs at least one pick")
    val base = vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val seedRows = DriverRows.collect(base.filter(col("id") === seedId), 1,
      s"kCenterGreedy seed id $seedId (must match exactly one row)")
    require(seedRows.length == 1, s"seed id $seedId must match exactly one row")
    val seedVec = toDoubleArray(seedRows(0), 1).toSeq
    val picks = scala.collection.mutable.ArrayBuffer(
      KCenterPick(1L, seedId, None, seedVec))
    var cur = base.withColumn("dmin", d2(col("v"), typedLit(seedVec)))
    var i = 2
    while (i <= k) {
      val top = cur.orderBy(col("dmin").desc, col("id"))
        .limit(1).collect()
      // fewer distinct points than k: every remaining point IS a center
      // (dmin 0) — stop, the selection is complete.
      if (top.isEmpty || top(0).getDouble(2) <= 0.0) i = k + 1
      else {
        val (id, vec, r) = (top(0).getLong(0),
          toDoubleArray(top(0), 1).toSeq, top(0).getDouble(2))
        picks += KCenterPick(i.toLong, id, Some(r), vec)
        cur = cur.withColumn("dmin",
          least(col("dmin"), d2(col("v"), typedLit(vec))))
        if (i % checkpointEvery == 0) cur = cur.localCheckpoint() // loop: lineage cut
        i += 1
      }
    }
    picks.toSeq
  }

  /** The selection as a DataFrame gate surface: (round, idCol, radius). */
  def kCenterSelect(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      seedId: Long): DataFrame =
    kCenterSelect(vecs.sparkSession,
      kCenterGreedy(vecs, vecCol, idCol, k, seedId), idCol)

  /** Shape already-computed picks (e.g. a memoized selection) into the
    * same (round, idCol, radius) gate surface — the single definition
    * both the inline and memo-serving callers share.
    */
  def kCenterSelect(spark: org.apache.spark.sql.SparkSession,
      picks: Seq[KCenterPick], idCol: String): DataFrame = {
    import spark.implicits._
    picks.map(p => (p.round, p.id, p.radius)).toDF("round", idCol, "radius")
  }

  /** Covering radius² of an arbitrary selection: max over points of
    * the min rounded d2 to `centers` — one scan, centers as broadcast
    * literals, a single max aggregate. What a selection-quality readout
    * compares (greedy vs a baseline).
    */
  def coveringRadiusSq(
      vecs: DataFrame,
      vecCol: String,
      centers: Seq[Array[Double]],
      as: String): DataFrame = {
    require(centers.nonEmpty, "covering radius needs at least one center")
    val dists = centers.map(c => d2(col("_v"), typedLit(c.toSeq)))
    val dmin = if (dists.length == 1) dists.head else least(dists: _*)
    vecs.select(col(vecCol).as("_v"))
      .agg(max(dmin).as(as))
  }

  /** Coverage readout of a selection: every point assigned to its
    * nearest center (rounded d2, ties to the earliest-selected center),
    * then per-center (round, idCol, n_assigned, avg_d2, max_d2). The
    * max over centers of max_d2 is the covering radius — by the greedy
    * invariant it equals the radius a (k+1)-th pick would report.
    *
    * avg_d2 sums the 6-decimal distances as DECIMAL(38,6) (exact and
    * order-independent, with integer headroom for 10^12-point centers),
    * casts the exact sum to double ONCE, then divides and rounds to 4 —
    * every step a deterministic function of identical operands in any
    * engine.
    */
  def kCenterCoverage(
      vecs: DataFrame,
      vecCol: String,
      idCol: String,
      picks: Seq[KCenterPick]): DataFrame = {
    require(picks.nonEmpty, "coverage needs at least one center")
    val base = vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    // k-way expand: one struct per center, argmin by (d2, pick round).
    val perCenter = picks.map { p =>
      struct(d2(col("v"), typedLit(p.center)).as("d"),
        lit(p.round).as("round"), lit(p.id).as("cid"))
    }
    val assigned = base
      .select(col("id"), array_min(array(perCenter: _*)).as("_best"))
      .select(col("id"), col("_best.d").as("d"),
        col("_best.round").as("round"), col("_best.cid").as("cid"))
    assigned.groupBy(col("round"), col("cid").as(idCol))
      .agg(count(lit(1)).as("n_assigned"),
        round(sum(col("d").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 4).as("avg_d2"),
        max(col("d")).as("max_d2"))
  }
}
