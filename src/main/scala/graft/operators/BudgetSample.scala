package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic token-budget curation: take documents in priority
  * order (best first, ties by id) until the cumulative token count
  * would exceed the budget — "fill a 10B-token training mix with the
  * highest-quality documents first".
  *
  * The naive formulation is a running-total window over a GLOBAL
  * (priority DESC, id) sort — a single-reducer sort of the corpus. The
  * scalable shape mirrors GlobalIndex's split-points trick, keyed on
  * the QUANTIZED priority (quality scores here are already rounded to
  * 2 decimals, so the priority domain is bounded):
  *
  *  1. per-priority-bucket token totals — tiny map-side-combinable
  *     aggregate, one (priority, sum, n) row per distinct priority on
  *     the driver,
  *  2. driver prefix-sums the buckets best-first and finds the BOUNDARY
  *     priority where the budget crosses (bounded work: one row per
  *     distinct priority),
  *  3. strictly-better buckets are taken whole with a scan-speed
  *     filter — no sort, no window, no shuffle,
  *  4. only the boundary bucket runs a running-total window (ordered by
  *     id) against the remaining budget.
  *
  * The quantized-priority assumption is what bounds step 4: a corpus
  * where every document shares one priority value degenerates to the
  * global window. Selection is a pure function of (priority, id, token)
  * values — bit-identical to the single-reducer formulation, which is
  * exactly what the oracle checks.
  */
object BudgetSample {

  /** Distinct priority values [[fillTokenBudget]] collects, one row
    * each: bounded for a bucketed priority, corpus-sized for a
    * per-document score. The largest reached is 6, q_token_budget's
    * quality-score levels at every scale.
    */
  private val MaxPriorities = 100000

  def fillTokenBudget(
      docs: DataFrame,
      tokenCol: String,
      priorityCol: String,
      idCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    // Priorities read as doubles and tokens as longs VIA CASTS in the
    // aggregate (exact for int/long/float inputs; the driver-side
    // getDouble/getLong would otherwise ClassCastException on any
    // numeric type that isn't literally Double/Long); an all-null token
    // bucket sums to null -> contributes 0. The boundary filters below
    // compare the raw column against the collected double — the same
    // widening, so grouping and filtering agree.
    val buckets = DriverRows.collect(
        docs.groupBy(col(priorityCol).cast("double").as("_p"))
          .agg(coalesce(sum(col(tokenCol).cast("long")), lit(0L)).as("_t")),
        MaxPriorities, s"fillTokenBudget distinct $priorityCol values")
      .map { r =>
        // A null or NaN priority has no place in a total priority
        // order: null would NPE the getDouble read and NaN breaks both
        // the sortBy ordering and any boundary comparison — selection
        // would silently return the wrong corpus. Reject loudly.
        require(!r.isNullAt(0),
          s"null $priorityCol: priorities must be non-null for budget fill")
        val p = r.getDouble(0)
        require(!p.isNaN,
          s"NaN $priorityCol: priorities must be orderable for budget fill")
        (p, r.getLong(1))
      }
      .sortBy(-_._1)
    var acc = 0L
    var boundary = Option.empty[Double]
    var remaining = budget
    val it = buckets.iterator
    while (it.hasNext && boundary.isEmpty) {
      val (p, t) = it.next()
      if (acc + t <= budget) acc += t
      else { boundary = Some(p); remaining = budget - acc }
    }
    boundary match {
      case None =>
        // every bucket fits: the whole corpus is within budget
        docs
      case Some(b) =>
        // The boundary bucket runs through an UNPARTITIONED id-ordered
        // window below — bounded work only while the tie slice is. A
        // degenerate priority column (one value for a corpus-sized
        // slice) would push the whole corpus through one window task;
        // the bucket's token total is already on the driver, so fail
        // loud instead of hanging (r17 verdict item 4). 1e9 tokens ~
        // single-digit-GB window state, far above any real tie bucket.
        val boundaryTokens = buckets.collectFirst {
          case (p, t) if p == b => t
        }.getOrElse(0L)
        require(boundaryTokens <= 1000000000L,
          s"budget boundary priority $b ties ${boundaryTokens} tokens — " +
            "a degenerate priority column; split ties (e.g. add a " +
            "secondary priority term) before budget fill")
        val full = docs.filter(col(priorityCol) > b)
        val partial = docs.filter(col(priorityCol) === b)
          .withColumn("_cum", sum(col(tokenCol))
            .over(Window.orderBy(col(idCol))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("_cum") <= remaining)
          .drop("_cum")
        full.unionByName(partial)
    }
  }
}
