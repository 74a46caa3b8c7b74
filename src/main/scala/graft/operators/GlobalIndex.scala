package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stable global row numbering — the operator behind "give every corpus
  * row a contiguous id" (shard manifests, sample bookkeeping, sequence
  * ids for packed training chunks).
  *
  * `row_number() OVER (ORDER BY ...)` is the single-reducer antipattern:
  * one task sorts the entire table. The scalable shape is the classic
  * split-points + offset construction:
  *
  *  1. cut the leading order column into `buckets` value ranges from
  *     one approxQuantile pass (driver holds `buckets-1` doubles —
  *     bounded, same legitimacy class as IVF's centroid sample),
  *  2. bucket every row by VALUE against those split points (scan-speed
  *     codegen CASE chain — placement-independent, so the result is
  *     deterministic under any partitioning),
  *  3. rank rows within their bucket (ONE wide shuffle, each task sorts
  *     one value range),
  *  4. bucket row counts -> cumulative offsets (tiny map-side-combinable
  *     aggregate — `buckets` rows — prefix-summed by a window over just
  *     those rows and BROADCAST back, so the offsets ride the same job
  *     as the ranking instead of a separate driver collect),
  *  5. global index = bucket offset + local rank - 1.
  *
  * Split-point skew only affects load balance, never the result: the
  * index is a pure function of the order-key total order. The order
  * keys must be unique for determinism (ties would leave row_number
  * free to pick an order); the leading column must be numeric (it
  * feeds approxQuantile) — enforced with a require, because a silently
  * null-casting key would send every row to bucket 0 and degrade to
  * exactly the single-reducer global window this operator exists to
  * avoid.
  */
object GlobalIndex {

  def withGlobalIndex(
      df: DataFrame,
      orderCols: Seq[String],
      indexCol: String = "global_idx",
      buckets: Int = 64): DataFrame = {
    require(orderCols.nonEmpty, "global index needs order columns")
    require(buckets > 0, "buckets must be positive")
    val key = orderCols.head
    require(df.schema(key).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"global index leading order column '$key' must be numeric " +
        s"(got ${df.schema(key).dataType.simpleString}): a non-numeric key " +
        "would cast to null, collapse every row into bucket 0 and degrade " +
        "to the single-reducer global window — convert timestamps/strings " +
        "to a numeric sort key explicitly")
    val cols: Seq[Column] = orderCols.map(col)
    // determinism: pin BEFORE the quantile pass. approxQuantile is an
    // action, so an unpinned input would compute once for the quantiles
    // and again for the checkpoint below — and a NONDETERMINISTIC input
    // (sample, rand-keyed, mutable source) could make the offset counts
    // disagree with the rows being ranked, colliding or gapping indexes
    val pinned = df.localCheckpoint()
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits =
      if (probs.isEmpty) Array.empty[Double] // buckets=1: single range
      else pinned.stat.approxQuantile(key, probs, 0.001).distinct.sorted
    // bucket = number of split points <= key, as size(filter(splits)):
    // one array literal + a 3-node lambda, not a `buckets`-term when
    // chain. The when-chain version codegen'd a comparison cascade
    // whose COMPILATION dominated single-shot runs (~3s planning at
    // buckets=32, measured — the tree appears twice, once under the
    // broadcast offsets branch); the HOF evaluates the same comparisons
    // from a constant array at a fixed expression size.
    val bucketExpr =
      if (splits.isEmpty) lit(0)
      else size(filter(lit(splits), s => col(key).cast("double") >= s))
    // the bucketed table feeds the offsets aggregate AND the ranking
    // join (two plan branches) — both re-read the pinned blocks, never
    // the upstream plan
    val bucketed = pinned.withColumn("_b", bucketExpr)
    // Offsets: per-bucket counts prefix-summed best-bucket-first. The
    // single-partition window is over `buckets` ROWS (the aggregated
    // counts), not the data — same bounded-work class as the previous
    // driver collect, but it broadcasts back into the SAME job as the
    // ranking shuffle instead of forcing a separate action.
    val offsets = bucketed.groupBy(col("_b")).agg(count(lit(1)).as("_bn"))
      .withColumn("_off",
        coalesce(sum(col("_bn")).over(Window.orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_b"), col("_off"))
    bucketed
      .join(broadcast(offsets), Seq("_b"))
      .withColumn("_lrank",
        row_number().over(Window.partitionBy(col("_b")).orderBy(cols: _*)))
      .withColumn(indexCol, (col("_off") + col("_lrank") - 1L).cast("long"))
      .drop("_b", "_lrank", "_off")
  }
}
