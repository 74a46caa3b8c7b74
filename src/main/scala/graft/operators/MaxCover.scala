package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Coverage-based data selection — greedy MAX-COVERAGE over hashed
  * n-gram feature buckets: pick the k documents that together cover the
  * most distinct vocabulary buckets. The classic submodular-selection
  * objective (Nemhauser, Wolsey & Fisher 1978: greedy is a (1 − 1/e)
  * approximation), the coverage-diversity complement of the
  * distance-based [[Coreset]] family — k-center spreads picks in
  * embedding space, max-cover spreads them in FEATURE space.
  *
  * Features are [[Dsir.featureOccurrences]]'s hashed unigrams+bigrams
  * (md5-prefix buckets — the oracle-replayable hash), deduplicated to
  * distinct (doc, bucket) pairs; gains are exact integer bucket counts,
  * so the (gain DESC, id ASC) argmax is a total order any engine
  * replays.
  *
  * 100 TB shape: the corpus collapses ONCE to the distinct (doc,
  * bucket) pair table (a map-side-combinable aggregate); each of the k
  * greedy rounds is TWO scans of that table — the argmax scan (covered
  * set rides in as a broadcast literal set filter, per-doc gain is a
  * hash aggregate, argmax a TakeOrdered) plus a narrow winner-bucket
  * fetch over the same uncovered projection (equivalent to fetching the
  * winner's full bucket set, since its covered buckets are already in
  * the covered set). Driver state is the covered-bucket set (≤ B ints)
  * + k picks. Total cost 2k linear scans of the pair table, the
  * published lazy-greedy shape without the per-element priority queue.
  * (Fusing the fetch into the argmax aggregate would make every group
  * carry a bucket-set state — per-doc heap cost corpus-wide to save one
  * scan touching a single doc; the two-scan round is the cheaper shape.)
  */
object MaxCover {

  /** One greedy pick: `gain` = newly covered buckets, `covered` =
    * running total after the pick.
    */
  case class CoverPick(round: Long, id: Long, gain: Long, covered: Long)

  /** Distinct (id, bucket) feature pairs of every document — uni+bigram
    * hashed occurrences deduplicated per doc.
    */
  def featurePairs(docs: DataFrame, textCol: String, idCol: String,
      buckets: Int): DataFrame =
    Dsir.featureOccurrences(docs, textCol, idCol, lit(false), buckets)
      .select(col("id"), col("bucket")).distinct()

  /** Greedy max-coverage selection: k rounds of (gain DESC, id ASC)
    * argmax over the uncovered-bucket counts. Gains are >= 1 by
    * construction (a document with no uncovered bucket produces no
    * uncovered pair and cannot be the argmax), so the early stop is
    * exactly "no uncovered pair remains" — full coverage reached, more
    * picks cannot add anything; a picked document's buckets are all
    * covered, so it can never be re-picked.
    *
    * This is [[greedyBudgetCover]] at unit cost: floor(gain·10^6 / 1)
    * orders like gain, and a `Long.MaxValue` budget never binds within
    * k rounds, so the cost-ratio loop makes exactly these picks.
    *
    * `pairs` must be the [[featurePairs]] table (or any distinct
    * (id, bucket) frame); materialize it first — each round scans it
    * twice (argmax + the narrow winner-bucket fetch).
    */
  def greedyMaxCover(pairs: DataFrame, k: Int): Seq[CoverPick] = {
    require(k >= 1, "max-cover needs at least one pick")
    greedyBudgetCover(pairs.withColumn("cost", lit(1L)), Long.MaxValue, k)
      .map(p => CoverPick(p.round, p.id, p.gain, p.covered))
  }

  /** The selection as a DataFrame gate surface. */
  def coverSelect(spark: org.apache.spark.sql.SparkSession,
      picks: Seq[CoverPick], idCol: String): DataFrame = {
    import spark.implicits._
    picks.map(p => (p.round, p.id, p.gain, p.covered))
      .toDF("round", idCol, "gain", "covered")
  }

  /** One budgeted pick: `cost` is the document's token price, `spent`
    * the running total after the pick.
    */
  case class BudgetPick(round: Long, id: Long, gain: Long, cost: Long,
      spent: Long, covered: Long)

  /** BUDGETED greedy max-coverage — the cost-ratio rule of Khuller,
    * Moss & Naor (1999, "The budgeted maximum coverage problem"): each
    * round picks, among documents still AFFORDABLE (cost <= remaining
    * budget), the one maximizing floor(gain·10^6 / cost) — newly covered
    * buckets per token paid, the objective of "best corpus under a
    * token budget". The floor-division ratio is exact integer
    * arithmetic (gain <= B keeps gain·10^6 far from Long overflow), so
    * the (ratio DESC, id ASC) argmax is a total order any engine
    * replays. (KMN's full (1−1/e)/2-certified variant also compares
    * against the best affordable singleton; the plain ratio rule is the
    * deployed heuristic and is what this declares.)
    *
    * `pairs` must carry (id, bucket, cost) with cost constant per id
    * and >= 1 (a document in the pair table has at least one token);
    * materialize it first — each round scans it once. Stops when no
    * affordable document has an uncovered bucket (budget exhausted
    * down to the cheapest doc, or full coverage), or after `maxRounds`
    * (the oracle-unroll bound).
    *
    * Same 100 TB shape as [[greedyMaxCover]] (two scans per round:
    * argmax + winner fetch); the affordability filter is a scan-level
    * comparison against a literal; driver state is the covered set
    * (<= B ints) and the picks.
    */
  def greedyBudgetCover(pairs: DataFrame, budget: Long,
      maxRounds: Int): Seq[BudgetPick] = {
    require(budget >= 1 && maxRounds >= 1, "degenerate budget knobs")
    val covered = scala.collection.mutable.HashSet.empty[Long]
    val picks = scala.collection.mutable.ArrayBuffer.empty[BudgetPick]
    var spent = 0L
    var i = 1
    while (i <= maxRounds) {
      val affordable = pairs.filter(col("cost") <= lit(budget - spent))
      val uncovered =
        if (covered.isEmpty) affordable
        else affordable.filter(!col("bucket").isInCollection(covered.toSeq))
      val top = uncovered
        .groupBy(col("id"))
        .agg(count(lit(1)).as("gain"), max(col("cost")).as("cost"))
        .withColumn("r", expr("(gain * 1000000) div cost"))
        .orderBy(col("r").desc, col("id"))
        .limit(1).collect()
      if (top.isEmpty) i = maxRounds + 1 // nothing affordable adds anything
      else {
        val (id, gain, cost) = (top(0).getLong(0), top(0).getLong(1),
          top(0).getLong(2))
        // winner's uncovered buckets only — covered ones are already in
        // the set (the winner passed the affordability filter, so all
        // its uncovered pairs are in this frame); the fetch reads the
        // frame the gain counted, so it returns exactly `gain` rows
        val newBuckets = DriverRows.collect(uncovered.filter(col("id") === id)
            .select(col("bucket").cast(LongType)), gain,
            s"max-cover winner $id buckets (gain=$gain)")
          .map(_.getLong(0))
        covered ++= newBuckets
        spent += cost
        picks += BudgetPick(i.toLong, id, gain, cost, spent,
          covered.size.toLong)
        i += 1
      }
    }
    picks.toSeq
  }

  /** The budgeted selection as a DataFrame gate surface. */
  def budgetSelect(spark: org.apache.spark.sql.SparkSession,
      picks: Seq[BudgetPick], idCol: String): DataFrame = {
    import spark.implicits._
    picks.map(p => (p.round, p.id, p.gain, p.cost, p.spent, p.covered))
      .toDF("round", idCol, "gain", "cost", "spent", "covered")
  }
}
