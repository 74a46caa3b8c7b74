package graft

import graft.operators.TimeSeries
import org.apache.spark.sql.functions._

/** Gap fill / interpolation: hand-checked densification, carry-forward
  * and linear-blend values, spine bounds, and the no-cartesian plan
  * property.
  */
class TimeSeriesSpec extends SparkSpec {

  // key a: observations at buckets 10 (v=1), 13 (v=4) — gaps 11, 12.
  // key b: single observation at bucket 5 — no gaps, span of one.
  private def obs = {
    import spark.implicits._
    Seq(("a", 10L, 1.0), ("a", 13L, 4.0), ("a", 10L, 2.0), ("b", 5L, 7.0))
      .toDF("k", "bucket", "v")
  }

  test("resampleFill densifies each key's own range and carries forward") {
    val r = TimeSeries.resampleFill(obs, "k", "bucket", "v")
      .orderBy("k", "bucket").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("a", 10L), ("a", 11L), ("a", 12L), ("a", 13L), ("b", 5L)))
    // bucket 10 sums the two observations; 11/12 carry it forward
    assert(r.map(_.getAs[Double]("v_fill")).toSeq ===
      Seq(3.0, 3.0, 3.0, 4.0, 7.0))
    assert(r.map(_.getAs[Boolean]("was_gap")).toSeq ===
      Seq(false, true, true, false, false))
  }

  test("resampleFill never yields null fills (ranges start observed)") {
    val ev = SparkEntry.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), expr("unix_timestamp(ts) div 21600").as("bucket"),
        col("value").cast("decimal(18,2)").as("v"))
    val r = TimeSeries.resampleFill(ev, "user_id", "bucket", "v")
    assert(r.filter(col("v_fill").isNull).count() === 0)
    // spine is per-key bounded: total rows == sum over keys of span
    val spans = ev.groupBy("user_id")
      .agg((max("bucket") - min("bucket") + 1).as("span"))
      .agg(sum("span")).head().getLong(0)
    assert(r.count() === spans)
  }

  test("acf: hand-computed alternating series, negative lag-1 / positive lag-2") {
    import spark.implicits._
    // x = [1,2,1,2,1,2]: n=6, Sx=9, Sxx=15; lag1: S=10, H=7, T=8 ->
    // num = 36*10 - 54*15 + 5*81 = -45, den = 36*15 - 6*81 = 54 ->
    // r1 = -45/54 = -0.833333; lag2: S=10, H=6, T=6 ->
    // num = 360 - 648 + 4*81 = 36 -> r2 = 36/54 = 0.666667.
    val s = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 1L), (6L, 2L))
      .toDF("b", "x")
    val got = TimeSeries.acf(s, "b", "x", maxLag = 2).orderBy("lag")
      .collect().map(r => (r.getAs[Int]("lag"), r.getAs[Long]("n_terms"),
        r.getAs[Double]("acf")))
    assert(got.toSeq === Seq((1, 5L, -0.833333), (2, 4L, 0.666667)))
  }

  test("acf: input row order is irrelevant (bucket order governs)") {
    import spark.implicits._
    val shuffled = Seq((4L, 2L), (1L, 1L), (6L, 2L), (3L, 1L), (5L, 1L),
      (2L, 2L)).toDF("b", "x")
    val got = TimeSeries.acf(shuffled, "b", "x", maxLag = 1)
      .collect().map(r => r.getAs[Double]("acf"))
    assert(got.toSeq === Seq(-0.833333))
  }

  test("crossCorrelation: perfect linear pair gives r0=1, orthogonal lag gives 0") {
    import spark.implicits._
    // x=[1,2,3], y=2x: r_0 = 1 exactly. At lag 1 the deviation products
    // are (x1-2)(y2-4)=0 and (x2-2)(y3-4)=0 -> r_1 = 0 exactly.
    val x = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("b", "v")
    val y = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("b", "v")
    val got = TimeSeries.crossCorrelation(x, y, "b", "v", "v", maxLag = 1)
      .orderBy("lag").collect()
      .map(r => (r.getAs[Int]("lag"), r.getAs[Long]("n_terms"),
        r.getAs[Double]("xcorr")))
    assert(got.toSeq === Seq((0, 3L, 1.0), (1, 2L, 0.0)))
  }

  test("crossCorrelation: anti-correlated pair gives r0=-1") {
    import spark.implicits._
    val x = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("b", "v")
    val y = Seq((1L, 6L), (2L, 4L), (3L, 2L)).toDF("b", "v")
    val r0 = TimeSeries.crossCorrelation(x, y, "b", "v", "v", maxLag = 0)
      .head().getAs[Double]("xcorr")
    assert(r0 === -1.0)
  }

  test("crossCorrelation: a bucket observed in one series zero-fills, not drops") {
    import spark.implicits._
    // y is missing bucket 2. Under the old inner join, lag arithmetic
    // slid over [1, 3] as if adjacent; with full-outer + zero-fill the
    // bucket stays in the domain as y=0, so n counts all three buckets.
    val x = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("b", "v")
    val y = Seq((1L, 2L), (3L, 6L)).toDF("b", "v")
    val got = TimeSeries.crossCorrelation(x, y, "b", "v", "v", maxLag = 0)
      .head()
    assert(got.getAs[Long]("n_terms") === 3L)
    // means: x_bar=2, y_bar=8/3; cov and variances over the zero-filled
    // triple (2,0) included — r0 = (1*2+2*0+3*6 - 3*2*8/3)/... computed
    // from the closed form below.
    val xs = Seq(1.0, 2.0, 3.0); val ys = Seq(2.0, 0.0, 6.0)
    val n = 3.0
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum -
      xs.sum * ys.sum
    val den = math.sqrt((n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
      (n * ys.map(b => b * b).sum - ys.sum * ys.sum))
    assert(math.abs(got.getAs[Double]("xcorr") -
      BigDecimal(num / den).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
  }

  test("ewma: overflow-unsafe (window, alphaDen) configurations are rejected") {
    import spark.implicits._
    val s = Seq((1L, 1L)).toDF("b", "x")
    // window=32, alphaDen=10 needs ~32 coefficient digits + 18 value
    // digits > DECIMAL(38,0) — must be rejected up front, not null out
    // at runtime.
    val e = intercept[IllegalArgumentException] {
      TimeSeries.ewma(s, "b", "x", window = 32)
    }
    assert(e.getMessage.contains("DECIMAL(38,0)"))
    // the gated config stays legal
    TimeSeries.ewma(s, "b", "x", window = 8).collect()
  }

  test("cusumChangepoint: level shift located at the last pre-step bucket") {
    import spark.implicits._
    // [10,10,10,20,20]: mean 14, cumulative deviations -4,-8,-12,-6,0
    // -> peak |−12| at bucket 3, exactly where the level steps.
    val s = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L))
      .toDF("b", "v")
    val r = TimeSeries.cusumChangepoint(s, "b", "v").head()
    assert((r.getAs[Long]("change_bucket"), r.getAs[Double]("cusum"),
      r.getAs[Long]("n_buckets")) === ((3L, -12.0, 5L)))
  }

  test("cusumChangepoint: magnitude ties break to the earliest bucket") {
    import spark.implicits._
    // [20,10,10,20]: deviations 5,0,-5,0 -> |5| ties at buckets 1 and 3.
    val s = Seq((1L, 20L), (2L, 10L), (3L, 10L), (4L, 20L)).toDF("b", "v")
    val r = TimeSeries.cusumChangepoint(s, "b", "v").head()
    assert(r.getAs[Long]("change_bucket") === 1L)
    assert(r.getAs[Double]("cusum") === 5.0)
  }

  test("ewma: hand-computed adaptive normalization at the series start") {
    import spark.implicits._
    // alpha=0.3: first row has only itself -> ewma = value; second row
    // weights (0.3, 0.21) normalized: (0.3*20 + 0.21*10)/0.51 =
    // 8.1/0.51 = 15.882353.
    val s = Seq((1L, 10L), (2L, 20L)).toDF("b", "x")
    val got = TimeSeries.ewma(s, "b", "x").orderBy("b")
      .collect().map(r => (r.getAs[Long]("b"), r.getAs[Double]("ewma")))
    assert(got.toSeq === Seq((1L, 10.0), (2L, 15.882353)))
  }

  test("ewma: constant series is a fixed point; window truncates history") {
    import spark.implicits._
    val const = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("b", "x")
    assert(TimeSeries.ewma(const, "b", "x").collect()
      .forall(_.getAs[Double]("ewma") === 7.0))
    // window=2: the third bucket must not see the first value. W=2
    // clears alpha=0.3 to integer weights (30, 21): ewma(3) =
    // (30*5 + 21*100)/51 = 2250/51 = 44.117647 regardless of bucket
    // 1's value.
    val a = Seq((1L, 100L), (2L, 100L), (3L, 5L)).toDF("b", "x")
    val b = Seq((1L, 999L), (2L, 100L), (3L, 5L)).toDF("b", "x")
    def third(df: org.apache.spark.sql.DataFrame) =
      TimeSeries.ewma(df, "b", "x", window = 2).orderBy("b")
        .collect().last.getAs[Double]("ewma")
    assert(third(a) === third(b))
    assert(third(a) === 44.117647)
  }

  test("plan has no cartesian product and no broadcast nested loop") {
    val plan = TimeSeries.resampleFill(obs, "k", "bucket", "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("null values are excluded: acf/resampleFill/cusum treat them as absent") {
    import spark.implicits._
    // acf: a mid-series null value must not corrupt n or the head sums —
    // the result equals the acf of the same series with the row dropped
    val withNull = Seq((0L, Some(3L)), (1L, Some(1L)), (2L, None),
      (3L, Some(3L)), (4L, Some(1L)), (5L, Some(3L)))
      .toDF("bucket", "v")
    val dropped = withNull.filter(col("v").isNotNull)
    val a1 = TimeSeries.acf(withNull, "bucket", "v", maxLag = 2).collect()
    val a2 = TimeSeries.acf(dropped, "bucket", "v", maxLag = 2).collect()
    assert(a1.map(_.toString).toSeq === a2.map(_.toString).toSeq)
    // resampleFill: an all-null min bucket must be a GAP outside the
    // spine, never a null v_fill head with was_gap=false
    val obs = Seq((1L, 0L, None), (1L, 2L, Some(5.0)), (1L, 4L, Some(7.0)))
      .toDF("k", "bucket", "v")
    val filled = TimeSeries.resampleFill(obs, "k", "bucket", "v")
      .orderBy("bucket").collect()
    assert(filled.map(_.getLong(1)).toSeq === Seq(2L, 3L, 4L), "spine starts at first NON-NULL bucket")
    assert(filled.forall(!_.isNullAt(2)), "v_fill never null")
  }
}
