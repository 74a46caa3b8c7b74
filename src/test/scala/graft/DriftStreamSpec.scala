package graft

import graft.operators.Profiling
import graft.streaming.DriftStream
import org.apache.spark.sql.functions._

/** Streaming drift monitor: per-batch and cumulative PSI against the
  * frozen baseline must be indistinguishable from the batch monitor run
  * on the same slices, replays must recompute identical state, and knob
  * drift on reopen must fail loud.
  */
class DriftStreamSpec extends SparkSpec {

  // baseline centered low; batch 0 similar, batch 1 shifted high,
  // batch 2 mixed — widths of 10
  private val baselineVals = Seq(1L, 3L, 7L, 12L, 15L, 18L, 23L, 25L)
  private val batches = Seq(
    Seq(2L, 8L, 14L, 24L),
    Seq(41L, 45L, 52L, 58L),
    Seq(5L, 44L, 61L))

  private def df(vs: Seq[Long]) = {
    import spark.implicits._
    vs.toDF("v")
  }

  test("stream == batch monitor per batch and cumulatively; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = tmpDir("driftstore")
    val input = MemoryStream[Long]
    val q = DriftStream.start(input.toDF().toDF("v"), "v", df(baselineVals),
      bucketWidth = 10L, storeDir = store, checkpointDir = tmpDir("driftckpt"))
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    // per-bucket PSI slice of each batch == the batch monitor on the
    // same (baseline, batch) pair
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = spark.read.parquet(s"$store/psi/batch=$i")
        .orderBy(col("bucket")).collect().toSeq
      val want = Profiling.distributionDrift(df(baselineVals), df(b), "v", 10L)
        .orderBy(col("bucket")).collect().toSeq
      assert(got === want, s"batch $i per-bucket PSI diverged from the batch monitor")
    }

    // summaries: psi_batch sums the slice; psi_cum matches the batch
    // monitor over the union of everything arrived so far
    val sums = DriftStream.summaries(spark, store)
      .orderBy(col("batch")).collect()
    assert(sums.map(_.getAs[Long]("n_rows")).toSeq === batches.map(_.length.toLong))
    batches.indices.foreach { i =>
      val cumWant = Profiling.distributionDrift(df(baselineVals),
          df(batches.take(i + 1).flatten), "v", 10L)
        .agg(sum(col("psi_term"))).head().getDouble(0)
      assert(math.abs(sums(i).getAs[Double]("psi_cum") - cumWant) < 1e-12,
        s"cumulative PSI at batch $i diverged")
    }

    // replay: reprocessing batch 1 against the same store recomputes
    // identical slices (strictly-before cumulative view)
    val before = (spark.read.parquet(s"$store/psi/batch=1")
        .orderBy(col("bucket")).collect().toSeq,
      spark.read.parquet(s"$store/summary/batch=1").collect().toSeq)
    DriftStream.processBatch(spark, df(batches(1)), "v", 10L, store, 1L)
    val after = (spark.read.parquet(s"$store/psi/batch=1")
        .orderBy(col("bucket")).collect().toSeq,
      spark.read.parquet(s"$store/summary/batch=1").collect().toSeq)
    assert(after === before, "replayed batch must recompute identical state")
  }

  test("knob drift on reopen fails loud; baseline is frozen at first start") {
    val store = tmpDir("driftstore-knobs")
    DriftStream.ensureBaseline(spark, df(baselineVals), "v", 10L, store, 1e-6)
    // same knobs: fine, and the persisted baseline is authoritative
    DriftStream.ensureBaseline(spark, df(Seq(999L)), "v", 10L, store, 1e-6)
    val base = spark.read.parquet(s"$store/baseline")
    assert(base.agg(sum(col("n_base"))).head().getLong(0) ===
      baselineVals.length.toLong, "baseline must not be recomputed on reopen")
    // changed width or epsilon: incomparable histograms — refuse
    intercept[IllegalArgumentException] {
      DriftStream.ensureBaseline(spark, df(baselineVals), "v", 20L, store, 1e-6)
    }
    intercept[IllegalArgumentException] {
      DriftStream.ensureBaseline(spark, df(baselineVals), "v", 10L, store, 1e-4)
    }
    // an empty baseline fails loud at start, not as a per-batch NPE
    intercept[IllegalArgumentException] {
      DriftStream.ensureBaseline(spark, df(Seq.empty), "v", 10L,
        tmpDir("driftstore-empty"), 1e-6)
    }
  }

  test("a first start that crashed inside its meta write does not wedge the next") {
    // a crash mid-write leaves only the committer's _temporary tree
    val store = tmpDir("driftstore-crashed")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store, "meta", "_temporary", "0"))
    DriftStream.ensureBaseline(spark, df(baselineVals), "v", 10L, store, 1e-6)
    DriftStream.processBatch(spark, df(batches(0)), "v", 10L, store, 0L)
    val sums = DriftStream.summaries(spark, store).collect()
    assert(sums.map(_.getAs[Long]("n_rows")).toSeq === Seq(batches(0).length.toLong))
  }
}
