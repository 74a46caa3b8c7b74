package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over a table — the validation
  * layer a training-data pipeline runs before a corpus snapshot is
  * blessed (the public construction popularized by Deequ / Great
  * Expectations, re-expressed as one Spark aggregate).
  *
  * Design for 100 TB: EVERY declared check folds into a SINGLE
  * aggregation pass over the table — completeness, range, pattern, and
  * set-membership checks are conditional sums riding one scan, so
  * adding a check costs one more accumulator, never another scan. The
  * one exception is [[Unique]], whose exact distinct count needs its
  * own aggregation plane (Spark plans a two-phase distinct); declare
  * [[UniqueApprox]] instead on unbounded-cardinality keys to keep the
  * whole suite strictly one-scan with an HLL++ sketch accumulator
  * (same trade as `Profiling.profile(exactDistinct = false)`).
  *
  * The reference validates per-row at ingest and aborts the batch on
  * the first bad row (`ingestion/service.py` error report); this is the
  * corpus-level counterpart: metrics over the whole table with a
  * pass/fail verdict per constraint, suitable for gating a snapshot
  * rather than a single upload.
  */
object Expectations {

  /** One declared constraint: a metric (an aggregate expression over the
    * table, evaluated in the shared single pass) plus a pass predicate
    * on that metric. All metrics are doubles: ratios in [0,1], counts as
    * exact-integer-valued doubles (< 2^53 — lossless).
    */
  sealed trait Check {
    def name: String
    def colName: String
    def metric: Column
    def passed(metric: Column): Column
  }

  private def ratio(pred: Column): Column =
    coalesce(
      sum(when(pred, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"),
      lit(0.0))

  /** Fraction of rows where `column` is non-null >= minRatio. */
  final case class Complete(colName: String, minRatio: Double = 1.0)
      extends Check {
    val name = s"complete($colName)"
    def metric: Column = ratio(col(colName).isNotNull)
    def passed(m: Column): Column = m >= minRatio
  }

  /** Exact distinct(column)/rows == 1.0 — a key constraint. Costs a
    * second aggregation plane; prefer [[UniqueApprox]] at unbounded
    * cardinality.
    */
  final case class Unique(colName: String) extends Check {
    val name = s"unique($colName)"
    // coalesce like ratio(): an empty table's 0/0 is otherwise a NULL
    // metric and a NULL verdict, which a three-valued pass/fail gate
    // (`passed =!= false`) would silently bless
    def metric: Column = coalesce(
      countDistinct(col(colName)).cast("double") /
        count(lit(1)).cast("double"),
      lit(0.0))
    def passed(m: Column): Column = m >= 1.0
  }

  /** HLL++ distinct(column)/rows >= minRatio — the one-scan scale path
    * for uniqueness (sketch error ~2%: pair with a tolerant minRatio,
    * e.g. 0.97, and an envelope-style oracle — see q_approx_distinct).
    */
  final case class UniqueApprox(colName: String, minRatio: Double = 0.97)
      extends Check {
    val name = s"unique_approx($colName)"
    // empty-table 0/0 coalesces to 0.0/false like Unique — see above
    def metric: Column = coalesce(
      approx_count_distinct(col(colName)).cast("double") /
        count(lit(1)).cast("double"),
      lit(0.0))
    def passed(m: Column): Column = m >= minRatio
  }

  /** Compact bound formatting for parameterized constraint names:
    * integral doubles print without the trailing `.0` (the common
    * declared-bound case), everything else as-is.
    */
  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Fraction of rows with lo <= column <= hi (nulls fail) >= minRatio.
    * The bounds are part of the constraint NAME — several bands on one
    * column (a completely normal suite: a sanity band at ratio 1.0 plus
    * a tighter expected-distribution band at a lower ratio) each report
    * under a self-describing, deterministically ordered name instead of
    * relying on declaration order.
    */
  final case class InRange(colName: String, lo: Double, hi: Double,
      minRatio: Double = 1.0) extends Check {
    val name = s"in_range($colName,${num(lo)},${num(hi)})"
    def metric: Column = ratio(col(colName).between(lo, hi))
    def passed(m: Column): Column = m >= minRatio
  }

  /** Fraction of rows whose column rlike-matches `regex` >= minRatio. */
  final case class MatchesPattern(colName: String, regex: String,
      minRatio: Double = 1.0) extends Check {
    val name = s"matches($colName)"
    def metric: Column = ratio(col(colName).rlike(regex))
    def passed(m: Column): Column = m >= minRatio
  }

  /** Fraction of rows whose column is in `values` >= minRatio. */
  final case class InSet(colName: String, values: Seq[String],
      minRatio: Double = 1.0) extends Check {
    val name = s"in_set($colName)"
    def metric: Column = ratio(col(colName).isin(values: _*))
    def passed(m: Column): Column = m >= minRatio
  }

  /** Table row count >= n. */
  final case class RowCountAtLeast(n: Long) extends Check {
    val name = "row_count"
    val colName = "*"
    def metric: Column = count(lit(1)).cast("double")
    def passed(m: Column): Column = m >= n.toDouble
  }

  /** Fraction of rows satisfying an arbitrary row-level predicate
    * >= minRatio — the extension point for cross-column consistency
    * checks (e.g. `n_chars = length(text)`).
    */
  final case class Satisfies(name: String, colName: String,
      predicate: Column, minRatio: Double = 1.0) extends Check {
    def metric: Column = ratio(predicate)
    def passed(m: Column): Column = m >= minRatio
  }

  /** Explicit-name override for any check — the escape hatch when a
    * suite declares two constraints whose auto-names would still
    * collide (e.g. two [[MatchesPattern]] on one column, whose regex
    * does not belong in a report key): `Labeled("ascii(name)",
    * MatchesPattern("name", ...))`.
    */
  final case class Labeled(name: String, inner: Check) extends Check {
    def colName: String = inner.colName
    def metric: Column = inner.metric
    def passed(m: Column): Column = inner.passed(m)
  }

  /** Evaluates every check in one aggregation job and returns one row
    * per check: (constraint_name, col_name, metric, passed), ordered by
    * constraint name. The REPORTED metric is rounded to 6 digits so the
    * verdict row is reproducible across engines (every metric here is a
    * ratio of exact integers — the division itself is already
    * deterministic IEEE; the rounding just pins the printed value), but
    * the pass/fail VERDICT is computed on the unrounded aggregate in the
    * same single pass: a minRatio=1.0 constraint must not falsely pass
    * when 1 bad row in 10M rounds 0.9999999 up to 1.0 — at snapshot-
    * blessing scale that rounding silently admits bad rows.
    */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks declared")
    // Disambiguate repeated same-type/same-column checks (two InRange
    // bands on one column would otherwise emit indistinguishable rows
    // in engine-dependent relative order): the SECOND and later
    // occurrence of a name gets a #<k> suffix; unique names — the
    // common case, and every existing caller — are untouched.
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val names = checks.map { c =>
      val k = seen.getOrElse(c.name, 0)
      seen(c.name) = k + 1
      if (k == 0) c.name else s"${c.name}#${k + 1}"
    }
    val metrics = checks.zipWithIndex.flatMap { case (c, i) =>
      Seq(round(c.metric, 6).as(s"_m$i"), c.passed(c.metric).as(s"_p$i"))
    }
    val one = df.agg(metrics.head, metrics.tail: _*)
    val stacked = checks.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(names(i)), lit(c.colName), col(s"_m$i"), col(s"_p$i"))
    }
    one.select(stack(
        (lit(checks.size) +: stacked): _*)
        .as(Seq("constraint_name", "col_name", "metric", "passed")))
      .orderBy(col("constraint_name"))
  }
}
