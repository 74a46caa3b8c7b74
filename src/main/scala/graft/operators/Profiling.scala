package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data profiling: per-column row/null/distinct counts and min/max,
  * emitted as one row PER COLUMN — the data-quality summary an ingest
  * pipeline checks before accepting a batch. No per-column re-scans
  * (what a naive "loop over columns, run a query each" profiler costs).
  *
  * Two modes, because exact multi-column distinct counting has a real
  * plan cost that should be a caller's explicit choice:
  *
  *  - `exactDistinct = false` (for 100 TB inputs): ONE aggregate over
  *    ONE scan — approx_count_distinct's HLL++ buffers are ordinary
  *    mergeable aggregate state, so null/min/max and all k distinct
  *    sketches ride the same map-side-combinable pass.
  *  - `exactDistinct = true` (the default; oracle-exact, for bounded
  *    inputs): the k exact distincts run in their own lean aggregate
  *    (Spark plans the multi-distinct as an Expand of factor k over a
  *    wide first-phase grouping key — measured 3x slower when the 4k
  *    plain-agg buffers ride the same expanded rows, so those run as a
  *    second, plain aggregate and the two 1-row results cross-join).
  *    Two scans, each cheap and column-pruned; the single-scan
  *    exactness trade is documented rather than hidden.
  *
  * min/max are emitted as strings so heterogeneous column types share
  * one output schema (the profile is a report, not an input to further
  * arithmetic).
  */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    val plainAggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"_rows_$c"),
        count(when(col(c).isNull, 1)).as(s"_nulls_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    def distinctAgg(c: String): Column =
      (if (exactDistinct) countDistinct(col(c))
       else approx_count_distinct(col(c))).as(s"_dist_$c")
    val one =
      if (exactDistinct) {
        val distincts = cols.map(distinctAgg)
        df.agg(plainAggs.head, plainAggs.tail: _*)
          .crossJoin(df.agg(distincts.head, distincts.tail: _*))
      } else {
        val aggs = plainAggs ++ cols.map(distinctAgg)
        df.agg(aggs.head, aggs.tail: _*)
      }
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"_rows_$c").as("n_rows"),
        col(s"_nulls_$c").as("n_nulls"),
        col(s"_dist_$c").as("n_distinct"),
        col(s"_min_$c").as("min_val"),
        col(s"_max_$c").as("max_val"))
    }
    one.select(explode(array(rows: _*)).as("_p")).select(col("_p.*"))
  }

  /** Population-stability drift between two snapshots of the same
    * table — the monitoring counterpart of [[SnapshotDiff]] (which
    * answers "which rows changed"; this answers "did the DISTRIBUTION
    * move", the signal that a crawler config change or upstream schema
    * slip silently shifted the corpus). `valueCol` is bucketed at
    * fixed `bucketWidth` (integer floor-div — engine-exact, no
    * quantile estimation), each side's bucket shares are compared, and
    * every bucket reports its PSI contribution
    * (p - q) * ln(p / q) with both shares clamped at `epsilon` so
    * one-sided buckets stay finite (the standard PSI treatment). Sum
    * the column for the headline index: < 0.1 stable, > 0.25 drifted
    * by the usual credit-scoring convention.
    *
    * Scale shape: one keyed aggregate per snapshot (map-side combine;
    * bucket domain = value range / width, bounded), a full-outer
    * equi-join of two bucket-cardinality tables, 1-row totals arrive
    * by broadcast cross join. Neither corpus is ever joined or
    * shuffled row-wise.
    */
  def distributionDrift(
      base: DataFrame,
      current: DataFrame,
      valueCol: String,
      bucketWidth: Long,
      epsilon: Double = 1e-6,
      roundTo: Int = 6): DataFrame = {
    psiOverBuckets(bucketCounts(base, valueCol, bucketWidth, "n_base"),
      bucketCounts(current, valueCol, bucketWidth, "n_cur"),
      epsilon, roundTo)
  }

  /** Fixed-width bucket histogram of `valueCol` — the single bucketing
    * definition [[distributionDrift]] and the streaming drift monitor
    * share (two monitors bucketing differently would not be comparable).
    * Null values form their own bucket (see [[psiOverBuckets]]).
    */
  def bucketCounts(df: DataFrame, valueCol: String, bucketWidth: Long,
      countName: String): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val v = col(valueCol).cast("long")
    // Integer floor-division throughout: Column./ is DOUBLE division,
    // and a long above 2^53 loses precision in the long->double
    // conversion BEFORE dividing — adjacent buckets silently merge.
    // (v - pmod) is an exact multiple of the width, so the DECIMAL
    // divide is integral and exact at every long magnitude.
    val b = (v - pmod(v, lit(bucketWidth)))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      .divide(lit(bucketWidth)).cast("long")
    df.select(b.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(countName))
  }

  /** The PSI rule over two already-bucketed count tables
    * (`(bucket, n_base)` / `(bucket, n_cur)`) — the single definition
    * [[distributionDrift]] and the embedding-cell drift monitor share.
    * Totals derive from the bounded bucket tables (every row landed in
    * some bucket — never a second corpus scan) and arrive by 1-row
    * broadcast cross join.
    */
  def psiOverBuckets(
      b: DataFrame,
      c: DataFrame,
      epsilon: Double = 1e-6,
      roundTo: Int = 6): DataFrame = {
    val totals = b.agg(sum(col("n_base")).as("_tb"))
      .crossJoin(c.agg(sum(col("n_cur")).as("_tc")))
    val eps = lit(epsilon)
    val p = greatest(col("n_base").cast("double") / col("_tb"), eps)
    val q = greatest(col("n_cur").cast("double") / col("_tc"), eps)
    // NULL-SAFE bucket match: a null value buckets to null on BOTH
    // sides, and a plain full-outer equi-join never matches null keys —
    // two identically-sized null buckets would each score as one-sided
    // drift against epsilon (huge spurious psi). With <=> the null
    // bucket is one real category, so missing-ness drift is measured
    // like any other share shift.
    val bb = b.withColumnRenamed("bucket", "_bk_base")
    val cc = c.withColumnRenamed("bucket", "_bk_cur")
    bb.join(cc, col("_bk_base") <=> col("_bk_cur"), "full_outer")
      .select(coalesce(col("_bk_base"), col("_bk_cur")).as("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        round((p - q) * log(p / q), roundTo).as("psi_term"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the `valueCol`
    * distributions of two row populations — the nonparametric,
    * bin-free companion of [[distributionDrift]]: PSI answers "did the
    * binned shares move", KS answers "what is the largest CDF gap
    * anywhere", which catches shifts PSI's fixed buckets straddle.
    * `valueCol` must be integral (document lengths, token counts,
    * event counts — the quality-signal columns a curation pipeline
    * monitors).
    *
    * Exactness: D = max_v |F_a(v) - F_b(v)| is computed as the integer
    * maximum of |cumA·nB - cumB·nA| over the DISTINCT value domain —
    * cumulative counts and sample sizes are exact longs, so the argmax
    * is decided in integer arithmetic and only the final D = max/(nA·nB)
    * is one rounded double division. No float comparison anywhere.
    *
    * Scale shape: one conditional-count aggregate collapses both
    * populations to the distinct-value domain in a single scan
    * (map-side combine); the running sums are ONE window over that
    * domain-sized table (range-partitionable with per-split offsets at
    * extreme domains — the [[GlobalIndex]] split-points technique);
    * sample totals derive from the same bounded table, never a second
    * corpus scan. Output is a single row.
    */
  def ksTest(df: DataFrame, valueCol: String,
      inA: Column, inB: Column, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perValue = df
      .select(col(valueCol).cast("long").as("v"),
        when(inA, 1L).otherwise(0L).as("_a"),
        when(inB, 1L).otherwise(0L).as("_b"))
      // null values carry no position on the real line: unfiltered they
      // form a v=null group that the window's nulls-first order puts at
      // the HEAD of both cumulative sums, corrupting the CDFs
      .filter(col("v").isNotNull)
      .filter(col("_a") + col("_b") > 0)
      .groupBy(col("v"))
      .agg(sum(col("_a")).as("ca"), sum(col("_b")).as("cb"))
    val totals = perValue.agg(sum(col("ca")).as("_na"), sum(col("cb")).as("_nb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue
      .withColumn("_cuma", sum(col("ca")).over(w))
      .withColumn("_cumb", sum(col("cb")).over(w))
      .crossJoin(broadcast(totals))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        max(abs(col("_cuma") * col("_nb") - col("_cumb") * col("_na")))
          .as("d_num"))
      // Degenerate input: BOTH populations empty yields one all-null
      // aggregate row, and exactly ONE empty population yields n=0 (not
      // null) whose D would divide by zero — a two-sample statistic is
      // undefined either way, so define both as the EMPTY result (the
      // shape a SQL formulation also produces).
      .filter(col("n_a").isNotNull && col("n_b").isNotNull &&
        col("n_a") > 0 && col("n_b") > 0)
      .select(col("n_a"), col("n_b"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n_a").cast("double") * col("n_b")), roundTo).as("ks_d"))
  }

  /** Benford first-significant-digit audit — the forensic data-quality
    * check for "organically grown" numeric columns (amounts, populations,
    * file sizes): natural multiplicative processes put digit d first
    * with probability log10(1 + 1/d), and fabricated or truncated data
    * visibly deviates. Reports, per digit 1-9, the observed count and
    * share against the Benford expectation plus the chi-square term —
    * sum the column and compare against the 8-degree critical value.
    *
    * The first digit is taken from the DECIMAL(38,2) string rendering
    * (both engines print decimals identically; no log10/pow float path,
    * whose ULP behavior at exact powers of ten differs by platform; 38
    * digits so any Long-scale amount renders instead of silently
    * nulling), and rows below 1 are excluded (their leading digit is a
    * zero). Declared contract: the audited column is MONEY-LIKE — exact
    * at two decimals — so the rendering never rounds; a column with
    * more fractional precision would have values in [d.995, d+1) HALF_UP
    * round across the digit boundary (1.996 -> "2.00") and callers
    * should pre-truncate instead.
    * The expected shares are the nine Benford constants as 6-decimal
    * literals — fixed numbers, not runtime logarithms — so every
    * derived value is a deterministic function of exact integers.
    *
    * Scale shape: one scan, one 9-bucket aggregate with map-side
    * combine; the total derives from the 9-row table. Output: 9 rows.
    */
  def benford(df: DataFrame, amountCol: String, roundTo: Int = 6): DataFrame = {
    val expected = Map(
      1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
      5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
      9 -> 0.045757)
    val digit = substring(
      col(amountCol).cast(org.apache.spark.sql.types.DecimalType(38, 2))
        .cast("string"), 1, 1).cast("int")
    // Rows below 1 are excluded BEFORE the digit cast — their rendering
    // starts with '0' or '-', which ANSI integer casting must never see.
    val counts = df.filter(col(amountCol) >= 1)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = counts.agg(sum(col("n_obs")).as("_t"))
    val expCol = expected.foldLeft(lit(null).cast("double")) {
      case (acc, (d, e)) => when(col("digit") === d, lit(e)).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .withColumn("exp_share", expCol)
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("_t"), roundTo)
          .as("obs_share"),
        col("exp_share"),
        round(
          (col("n_obs").cast("double") - col("_t") * col("exp_share")) *
            (col("n_obs").cast("double") - col("_t") * col("exp_share")) /
            (col("_t") * col("exp_share")), roundTo).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** k-anonymity audit over a quasi-identifier combination — the
    * privacy gate a training-data release runs before shipping: every
    * equivalence class (distinct quasi-identifier tuple) smaller than
    * `k` re-identifies its members and must be suppressed or
    * generalized. Reports each class with its size and at-risk flag;
    * the smallest class size across the output IS the dataset's
    * k-anonymity.
    *
    * Scale shape: one keyed aggregate with map-side combine — output
    * bounded by the quasi-identifier domain, not the row count. The
    * flag is an integer comparison on an exact count.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one column")
    require(k >= 2, "k below 2 makes every class anonymous")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", (col("class_size") < k).cast("int"))
  }

  /** Robust per-group outlier detection via the median absolute
    * deviation (Hampel's robust scale): a row is anomalous when its
    * absolute deviation from the group median exceeds k times the
    * group's MAD. Unlike mean/stddev z-scores, both statistics have a
    * 50% breakdown point — the outliers being hunted cannot drag the
    * threshold toward themselves, which is why quality pipelines flag
    * length/score anomalies this way.
    *
    * Shape: two grouped `percentile_disc` aggregates (state bounded by
    * each group's VALUE DOMAIN, the winsorize/percentile family's scale
    * argument) broadcast back onto the scan; the flag comparison
    * `dev > k * mad` stays in integer arithmetic for integral inputs,
    * so the gate is exact — no float compare anywhere.
    *
    * Output: every input row + (med, mad, is_outlier). `valueCol` must
    * be integral (the exactness contract above).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 5): DataFrame = {
    val v = df.withColumn("_v", col(valueCol).cast("long"))
    // NULL-SAFE stats lookups (the StatMoments.zscore rule): groupBy
    // keeps a null-key group and its median/MAD rows exist, but a plain
    // equi-join would silently DELETE every null-group row from the
    // output — an outlier flagger must never drop rows.
    val med = v.groupBy(col(groupCol)).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _v)")
        .cast("long").as("med"))
      .withColumnRenamed(groupCol, "_med_key")
    val dev = v.join(broadcast(med), col(groupCol) <=> col("_med_key"))
      .drop("_med_key")
      .withColumn("_dev", abs(col("_v") - col("med")))
    val mad = dev.groupBy(col(groupCol)).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev)")
        .cast("long").as("mad"))
      .withColumnRenamed(groupCol, "_mad_key")
    dev.join(broadcast(mad), col(groupCol) <=> col("_mad_key"))
      .drop("_mad_key")
      .withColumn("is_outlier",
        (col("_dev") > col("mad") * k).cast("int"))
      .drop("_v", "_dev")
  }
}
