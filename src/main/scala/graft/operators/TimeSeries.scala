package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample an irregular event stream onto a
  * fixed bucket grid and fill the gaps by carrying the last observation
  * forward — the standard preprocessing step before any per-entity
  * sequence model or rate computation over telemetry.
  *
  * The reference (rnjane/client_data_ingester) has no time-series
  * surface; this is engine-provided capability over the `events`
  * testdata table, in the spirit of its per-tenant event queries.
  *
  * Scale shape (the 100 TB argument):
  *  - the bucket aggregate is a map-side-combinable `groupBy(key,
  *    bucket)` — raw events collapse to at most one row per key per
  *    bucket BEFORE any further shuffle;
  *  - the spine is generated per key with `sequence(min,max)` +
  *    `explode`, so its size is bounded by each key's own timeline
  *    length (never `keys x global-span`, which would explode for
  *    short-lived keys in a years-long corpus);
  *  - the forward-fill is a single running `last(ignoreNulls)` window
  *    per key — O(1) carried state per row, no self-join, and the
  *    window shares the `key` partitioning the spine join already
  *    established.
  * Skewed keys (one device with a years-long dense timeline) cost
  * O(own span), not O(corpus); there is no all-pairs or per-key
  * nested-loop anywhere.
  */
object TimeSeries {

  /** Bucket `obs` rows onto `bucketCol` (a pre-computed integral bucket
    * index), sum `valueCol` per (key, bucket), then densify each key's
    * [min,max] bucket range and forward-fill missing buckets.
    *
    * Output: key, bucket, `v_fill` (last non-null bucket sum carried
    * forward — never null because each key's range starts at an
    * observed bucket), `was_gap` (true where the bucket had no
    * observation).
    */
  def resampleFill(obs: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String): DataFrame = {
    // "observed" means a bucket with at least one NON-NULL value: an
    // all-null bucket aggregates to a null sum, and if it were the
    // key's min bucket the carry would emit null v_fill at the head,
    // breaking the never-null contract — filtered, it is simply a gap.
    val agg = obs.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol), col(bucketCol))
      .agg(sum(col(valueCol)).as("v_sum"))
    val spine = agg.groupBy(col(keyCol))
      .agg(min(col(bucketCol)).as("b0"), max(col(bucketCol)).as("b1"))
      .select(col(keyCol),
        explode(sequence(col("b0"), col("b1"))).as(bucketCol))
    val joined = spine.join(agg, Seq(keyCol, bucketCol), "left")
    val w = Window.partitionBy(keyCol).orderBy(bucketCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(col(keyCol), col(bucketCol),
      last(col("v_sum"), ignoreNulls = true).over(w).as("v_fill"),
      col("v_sum").isNull.as("was_gap"))
  }

  /** Sample autocorrelation function (ACF) of a regularly-bucketed
    * series at lags 1..`maxLag` — the seasonality detector: a spike at
    * lag 7 on a daily series is weekly periodicity, slow decay is
    * trend. Uses the standard sample estimator (global mean, full-series
    * variance in the denominator):
    *
    *   r_k = Σ_{t}(x_t − x̄)(x_{t+k} − x̄) / Σ_t(x_t − x̄)²
    *
    * Exactness: `valueCol` must be integral (counts — or pre-scaled
    * cents). Expanding both sides by n² clears the rational mean, so
    *
    *   r_k = (n²·S_k − n·Sx·(H_k+T_k) + (n−k)·Sx²) / (n²·Sxx − n·Sx²)
    *
    * with S_k = Σ x_t·x_{t+k}, H_k/T_k the head/tail partial sums —
    * every term an exact DECIMAL(38,0) integer, one double division
    * per lag, rounded. Any engine reproduces the digits from the same
    * rows regardless of partitioning or merge order (the
    * [[StatMoments]] argument applied to lagged co-moments).
    *
    * Scale shape: the caller's series is already collapsed to the
    * bucket domain (days/hours — bounded), so the single unpartitioned
    * lead window is domain-sized, not corpus-sized; `maxLag` lead
    * columns ride ONE window pass, and everything reduces in one
    * aggregate. At extreme bucket domains the window range-partitions
    * with split-point offsets ([[GlobalIndex]]).
    */
  def acf(series: DataFrame, bucketCol: String, valueCol: String,
      maxLag: Int, roundTo: Int = 6): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    // Digit envelope (the sparse-kNN norms discipline): the largest
    // intermediate is n²·sxx ≈ n³·max(x)² and must fit DECIMAL(38,0) —
    // e.g. 1e4 buckets of |x| ≤ 1e8 uses ~10^28 of the 38 digits. Under
    // Spark's default ANSI mode an overflow FAILS LOUD (decimal
    // overflow error), never nulls silently; pre-scale the series down
    // if a wider domain is needed.
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.orderBy(col("_b"))
    // NULL values are excluded up front: count(lit(1)) would include
    // them in n while every sum skips them, and a mid-series null lead
    // breaks the head-sum assumption (that _l$k is null only for the
    // last k rows) — a single null would silently corrupt every lag.
    val withLeads = series
      .filter(col(valueCol).isNotNull)
      .select(col(bucketCol).as("_b"), col(valueCol).cast("long").as("_x"))
      .select(col("_x").cast(D0).as("x") +:
        (1 to maxLag).map(k =>
          lead(col("_x"), k).over(w).cast(D0).as(s"_l$k")): _*)
    val aggs =
      Seq(count(lit(1)).cast(D0).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx")) ++
      (1 to maxLag).flatMap { k =>
        Seq(
          sum(col("x") * col(s"_l$k")).as(s"s$k"),
          sum(when(col(s"_l$k").isNotNull, col("x"))).as(s"h$k"),
          sum(col(s"_l$k")).as(s"t$k"))
      }
    val sums = withLeads.agg(aggs.head, aggs.tail: _*)
    val den = col("n") * col("n") * col("sxx") - col("n") * col("sx") * col("sx")
    val rows = (1 to maxLag).map { k =>
      val num = col("n") * col("n") * col(s"s$k") -
        col("n") * col("sx") * (col(s"h$k") + col(s"t$k")) +
        (col("n") - lit(k).cast(D0)) * col("sx") * col("sx")
      struct(lit(k).as("lag"),
        (col("n") - lit(k).cast(D0)).cast("long").as("n_terms"),
        round(num.cast("double") / den.cast("double"), roundTo).as("acf"))
    }
    sums.select(explode(array(rows: _*)).as("_r")).select(col("_r.*"))
  }

  /** Cross-correlation between two aligned integral series at lags
    * 0..`maxLag` — the lead-indicator detector ("do clicks today
    * predict purchases in k days?"): r_xy(k) correlates x_t against
    * y_{t+k}. Same exactness discipline as [[acf]] — the n²-cleared
    * identity
    *
    *   r_k = (n²·S_k − n·Sx·T_k − n·Sy·H_k + (n−k)·Sx·Sy)
    *         / (n · sqrt((n·Sxx − Sx²) · (n·Syy − Sy²)))
    *
    * with S_k = Σ x_t·y_{t+k}, H_k/T_k the x-head/y-tail partial sums,
    * keeps every statistic an exact DECIMAL(38,0); one sqrt and one
    * division per lag on identical doubles, rounded. Note the
    * denominator uses FULL-series variances (the standard normalized
    * cross-correlation estimator, the [[acf]] convention at k=0 —
    * where r_0 is exactly Pearson's r).
    *
    * Scale shape: identical to [[acf]] — the two series arrive
    * already collapsed to the bucket domain, join once on the bucket,
    * and `maxLag` lead columns ride one domain-sized window.
    */
  def crossCorrelation(x: DataFrame, y: DataFrame, bucketCol: String,
      xCol: String, yCol: String, maxLag: Int,
      roundTo: Int = 6): DataFrame = {
    require(maxLag >= 0, "maxLag must be >= 0")
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    // FULL-outer + zero-fill: a bucket observed in only one series
    // counts as zero in the other (the right semantics for event-count
    // series), so 'k buckets later' stays aligned to the bucket domain
    // instead of shifting over jointly-observed rows only. Buckets
    // absent from BOTH series are still absent — a gauge-style series
    // needs a dense spine (gapFill) before correlating.
    val joined = x.select(col(bucketCol).as("_b"), col(xCol).cast("long").as("_x"))
      .join(y.select(col(bucketCol).as("_b"), col(yCol).cast("long").as("_y")),
        Seq("_b"), "full_outer")
      .select(col("_b"), coalesce(col("_x"), lit(0L)).as("_x"),
        coalesce(col("_y"), lit(0L)).as("_y"))
    val w = Window.orderBy(col("_b"))
    val withLeads = joined.select(
      col("_x").cast(D0).as("x") +: col("_y").cast(D0).as("y") +:
        (0 to maxLag).map(k =>
          lead(col("_y"), k).over(w).cast(D0).as(s"_l$k")): _*)
    val aggs =
      Seq(count(lit(1)).cast(D0).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy")) ++
      (0 to maxLag).flatMap { k =>
        Seq(
          sum(col("x") * col(s"_l$k")).as(s"s$k"),
          sum(when(col(s"_l$k").isNotNull, col("x"))).as(s"h$k"),
          sum(col(s"_l$k")).as(s"t$k"))
      }
    val sums = withLeads.agg(aggs.head, aggs.tail: _*)
    val cxx = col("n") * col("sxx") - col("sx") * col("sx")
    val cyy = col("n") * col("syy") - col("sy") * col("sy")
    val rows = (0 to maxLag).map { k =>
      val num = col("n") * col("n") * col(s"s$k") -
        col("n") * col("sx") * col(s"t$k") -
        col("n") * col("sy") * col(s"h$k") +
        (col("n") - lit(k).cast(D0)) * col("sx") * col("sy")
      struct(lit(k).as("lag"),
        (col("n") - lit(k).cast(D0)).cast("long").as("n_terms"),
        round(num.cast("double") /
          (col("n").cast("double") *
            sqrt(cxx.cast("double") * cyy.cast("double"))), roundTo)
          .as("xcorr"))
    }
    sums.select(explode(array(rows: _*)).as("_r")).select(col("_r.*"))
  }

  /** CUSUM level-shift detection: the bucket where the cumulative sum
    * of deviations from the series mean peaks in magnitude — the
    * classic changepoint locator (a step change in the level makes
    * |Σ_{i<=t}(x_i − x̄)| extreme exactly at the step). The statistic
    * is cleared of the rational mean: n·S_t − t·Sx is an exact
    * integer per prefix, so the ARGMAX (and its earliest-bucket tie
    * break) is decided wholly in integer arithmetic; only the
    * reported magnitude divides by n once, rounded.
    *
    * Output: one row — (change_bucket, cusum, n_buckets) where cusum
    * is the signed peak deviation sum.
    *
    * Scale shape: one running-sum window + one argmax over the bucket
    * domain (the caller's series is already collapsed to it).
    */
  def cusumChangepoint(series: DataFrame, bucketCol: String,
      valueCol: String, roundTo: Int = 6): DataFrame = {
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    // null values excluded: count(lit(1)) would include them in _n/_t
    // while the sums skip them (the acf consistency rule)
    val base = series.filter(col(valueCol).isNotNull)
      .select(col(bucketCol).as("_b"),
      col(valueCol).cast("long").as("_x"))
    val w = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = base.agg(count(lit(1)).cast(D0).as("_n"),
      sum(col("_x")).cast(D0).as("_sx"))
    val scored = base
      .withColumn("_t", count(lit(1)).over(w).cast(D0))
      .withColumn("_st", sum(col("_x")).over(w).cast(D0))
      .crossJoin(broadcast(totals))
      .withColumn("_dev", col("_n") * col("_st") - col("_t") * col("_sx"))
    scored
      .orderBy(abs(col("_dev")).desc, col("_b"))
      .limit(1)
      .select(col("_b").as("change_bucket"),
        round(col("_dev").cast("double") / col("_n").cast("double"), roundTo)
          .as("cusum"),
        col("_n").cast("long").as("n_buckets"))
  }

  /** Windowed exponentially-weighted moving average — the monitoring
    * smoother (EWMA control charts, anomaly baselines): each bucket's
    * smoothed value weights the trailing `window` observations by
    * α(1−α)^k, α = `alphaNum`/`alphaDen`, normalized over the weights
    * actually present (so the series start is well-defined without
    * warm-up bias).
    *
    * Exactness: floating-point pow() is not portably reproducible, so
    * the weights are cleared to a COMMON DENOMINATOR and carried as
    * integer literals — w_k ∝ p(q−p)^k q^(W−1−k) with α = p/q — making
    * numerator and denominator exact DECIMAL(38,0) dot products of lag
    * columns with literal coefficients; the one double division per
    * row is rounded. Any engine reproduces the digits (the
    * [[acf]]/[[graft.operators.StatMoments]] argument).
    *
    * Scale shape: the caller's series is already collapsed to the
    * bucket domain, so the single window pass is domain-sized; all W
    * lag columns ride one frame.
    */
  def ewma(series: DataFrame, bucketCol: String, valueCol: String,
      alphaNum: Int = 3, alphaDen: Int = 10, window: Int = 8,
      roundTo: Int = 6): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    require(window >= 1 && window <= 32, "window must be in [1, 32]")
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    // w_k = p * (q-p)^k * q^(W-1-k), k = 0 (current row) .. W-1
    val coeffs: Seq[BigInt] = (0 until window).map { k =>
      BigInt(alphaNum) * BigInt(alphaDen - alphaNum).pow(k) *
        BigInt(alphaDen).pow(window - 1 - k)
    }
    // Every coeff*value product and their W-term sum must fit
    // DECIMAL(38,0): reserve 19 digits for the value (Long.MaxValue is
    // 19 digits) plus log10(W) carry digits, and reject configurations
    // whose largest weight eats the rest — a (window, alphaDen) pair
    // admitted here can never null out or ANSI-overflow at runtime.
    val maxCoeffDigits = coeffs.map(_.toString.length).max
    val carryDigits = math.ceil(math.log10(window.toDouble + 1)).toInt
    require(maxCoeffDigits + 19 + carryDigits <= 38,
      s"ewma weights need $maxCoeffDigits digits; with 19 value digits " +
        s"and $carryDigits carry digits that exceeds DECIMAL(38,0) — " +
        "reduce window or alphaDen")
    val w = Window.orderBy(col("_b"))
    val base = series
      .select(col(bucketCol).as("_b"), col(valueCol).cast("long").as("_x"))
    val lags = base.select(col("_b") +: col("_x").as("_l0") +:
      (1 until window).map(k => lag(col("_x"), k).over(w).as(s"_l$k")): _*)
    val zero = lit(BigDecimal(0)).cast(D0)
    // absent lags contribute zero to BOTH dot products (adaptive
    // normalization over the weights actually present)
    val num = (0 until window).map { k =>
      when(col(s"_l$k").isNotNull,
        col(s"_l$k").cast(D0) * lit(BigDecimal(coeffs(k))).cast(D0))
        .otherwise(zero)
    }.reduce(_ + _)
    val den = (0 until window).map { k =>
      when(col(s"_l$k").isNotNull, lit(BigDecimal(coeffs(k))).cast(D0))
        .otherwise(zero)
    }.reduce(_ + _)
    lags.select(col("_b").as(bucketCol), col("_l0").as(valueCol),
      round(num.cast("double") / den.cast("double"), roundTo).as("ewma"))
  }
}
