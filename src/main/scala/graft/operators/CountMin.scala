package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) expressed as
  * relational algebra: the sketch IS a sparse (row j, column c, count)
  * table of at most depth x width cells, built with one map-side-
  * combinable `groupBy` — so "update the sketch" is an aggregate,
  * "merge shard sketches" is `unionAll` + re-sum (counter matrices add
  * cellwise), and "point estimate" is a broadcast join + `min` over the
  * d probed cells. Zero cells are simply absent rows (coalesce to 0 at
  * estimate time), which keeps shard sketches kilobyte-sized however
  * large the data.
  *
  * Guarantees (checked in CountMinSpec): estimates never undercount,
  * and overcount is <= e/width * N with probability 1 - e^-depth per
  * probe. Hash family: ((a_j * k + b_j) mod p) mod width with p =
  * 2^31 - 1 and fixed prime multipliers — pure long arithmetic (keys
  * and a_j bounded so a_j * k stays far from 2^63), exactly replayable
  * by an independent SQL engine, order- and partitioning-insensitive.
  *
  * At 100 TB: per-shard sketch state is bounded by depth x width cells
  * regardless of row count, the build is scan-speed with partial
  * aggregation, and cross-shard union never reshuffles raw rows — the
  * same mergeable-state shape as the HLL shard path
  * (SparkEntry.distinctShards), for frequencies instead of distincts.
  */
object CountMin {

  val P = 2147483647L

  /** Fixed pairwise-independent-ish hash rows (prime multipliers). */
  val AB: Seq[(Int, Long, Long)] = Seq(
    (0, 1299709L, 7L), (1, 15485863L, 101L),
    (2, 32452843L, 1009L), (3, 49979687L, 10007L))

  private def abDf(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    AB.toDF("j", "a", "b")
  }

  private def cellOf(k: Column, width: Int): Column =
    // k reduces mod P FIRST: a raw 64-bit key (xxhash64 ids) would
    // overflow a*k past 2^63 and Scala/SQL % would emit NEGATIVE cells
    // — still sketch/estimate-consistent, but the pairwise-independence
    // error bound breaks and the table silently spans 2*width-1 cells.
    // After pmod, a * k' < 5e7 * 2^31 ≈ 1e17 stays comfortably exact.
    ((col("a") * pmod(k, lit(P)) + col("b")) % P) % width

  /** Build the sketch for `keyCol` occurrences in `df`:
    * one row per non-empty cell, (j, c, n).
    */
  def sketch(df: DataFrame, keyCol: String, width: Int = 1024): DataFrame =
    df.crossJoin(broadcast(abDf(df.sparkSession)))
      .groupBy(col("j"), cellOf(col(keyCol), width).as("c"))
      .agg(count(lit(1)).as("n"))

  /** Point estimates for the distinct keys of `probes(keyCol)`:
    * min over the d probed cells, absent cells counting 0.
    */
  def estimate(cms: DataFrame, probes: DataFrame, keyCol: String,
      width: Int = 1024): DataFrame = {
    val p = probes.select(col(keyCol).as("k")).distinct()
      .crossJoin(broadcast(abDf(probes.sparkSession)))
      .withColumn("c", cellOf(col("k"), width))
    p.join(cms, Seq("j", "c"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }
}
