package graft

import graft.operators.MaxCover
import graft.streaming.{CoverStream, SliceStore}
import org.apache.spark.sql.functions._

/** Streaming threshold max-coverage (the sieve-streaming subroutine):
  * the distributed entry filter == pure-sequential equivalence, bounded
  * state, the τ-threshold approximation bound vs batch greedy, and
  * snapshot replay.
  */
class CoverStreamSpec extends SparkSpec {

  import spark.implicits._

  // deterministic docs, 1..6 words each from a 97-word pool — short
  // docs fall below τ singleton coverage and must be entry-filtered
  private def text(i: Int): String =
    (0 until 1 + i % 6).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")

  private val docs = (0 until 120).map(i => (i.toLong, text(i)))
  private val B = 512

  /** Per-doc distinct bucket sets via the SAME hash the operator uses. */
  private def bucketSets(ds: Seq[(Long, String)]): Map[Long, Array[Long]] =
    MaxCover.featurePairs(ds.toDF("doc_id", "text"), "text", "doc_id", B)
      .groupBy(col("id")).agg(collect_set(col("bucket")).as("bs"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray.sorted).toMap

  private def sequential(ds: Seq[(Long, String)], k: Int, tau: Long) = {
    val sets = bucketSets(ds)
    CoverStream.insertAll(CoverStream.Empty,
      ds.map(_._1).sorted.map(id => (id, sets.getOrElse(id, Array.empty[Long]))),
      k, tau)
  }

  test("entry-filtered batched stream == pure sequential threshold rule") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("coverstore")
    val input = MemoryStream[(Long, String)]
    val (k, tau) = (8, 3L)
    val q = CoverStream.start(input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", k, tau, B, store, tmpDir("coverckpt"))
    try {
      docs.grouped(40).foreach { b =>
        input.addData(b.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val got = CoverStream.readState(spark, store)
    val want = sequential(docs, k, tau)
    assert(got.selected === want.selected,
      "entry-filtered stream diverged from the sequential threshold rule")
    assert(got.covered === want.covered)
    assert(got.selected.length <= k, "state exceeded k selections")
    // τ was low enough that something must accept, and the filter must
    // actually have dropped the 1-word docs (singleton coverage < 3)
    assert(got.selected.nonEmpty)
    val sets = bucketSets(docs)
    docs.filter { case (id, _) => sets.getOrElse(id, Array.empty[Long]).length < tau }
      .foreach { case (id, _) => assert(!got.selected.contains(id)) }
  }

  test("threshold bound: f_stream >= f_greedy/2 - k at tau = f_greedy/(2k)") {
    val k = 6
    val pairs = MaxCover.featurePairs(docs.toDF("doc_id", "text"),
      "text", "doc_id", B).localCheckpoint()
    val fGreedy = MaxCover.greedyMaxCover(pairs, k).last.covered
    val tau = math.max(1L, fGreedy / (2L * k))
    val st = sequential(docs, k, tau)
    assert(st.covered.size.toDouble >= fGreedy / 2.0 - k,
      s"sieve bound broken: stream ${st.covered.size} vs greedy $fGreedy")
  }

  test("redelivered batch recomputes the identical snapshot") {
    val store = tmpDir("coverstore2")
    val (k, tau) = (5, 2L)
    val b0 = docs.take(60).toDF("doc_id", "text")
    val b1 = docs.slice(60, 120).toDF("doc_id", "text")
    CoverStream.processBatch(spark, b0, "text", "doc_id", k, tau, B, store, 0L)
    CoverStream.processBatch(spark, b1, "text", "doc_id", k, tau, B, store, 1L)
    val after = CoverStream.readState(spark, store)
    CoverStream.processBatch(spark, b1, "text", "doc_id", k, tau, B, store, 1L)
    val replayed = CoverStream.readState(spark, store)
    assert(replayed.selected === after.selected)
    assert(replayed.covered === after.covered)
  }

  test("knob drift: a store written under (k, tau) refuses other knobs") {
    val store = tmpDir("coverstore4")
    CoverStream.processBatch(spark, docs.take(30).toDF("doc_id", "text"),
      "text", "doc_id", 5, 2L, B, store, 0L)
    assert(CoverStream.knobsOf(spark, store) === Some((5, 2L, B)))
    val e = intercept[IllegalArgumentException] {
      CoverStream.processBatch(spark, docs.slice(30, 60).toDF("doc_id", "text"),
        "text", "doc_id", 5, 3L, B, store, 1L)
    }
    assert(e.getMessage.contains("tau=2"))
    // a changed bucket modulus makes the covered-set ids meaningless —
    // refused even with (k, tau) unchanged
    intercept[IllegalArgumentException] {
      CoverStream.processBatch(spark, docs.slice(30, 60).toDF("doc_id", "text"),
        "text", "doc_id", 5, 2L, B / 2, store, 1L)
    }
    // same knobs continue fine
    CoverStream.processBatch(spark, docs.slice(30, 60).toDF("doc_id", "text"),
      "text", "doc_id", 5, 2L, B, store, 1L)
    assert(CoverStream.readState(spark, store).selected.nonEmpty)
  }

  test("empty store is the valid empty state; selection readout matches") {
    val store = tmpDir("coverstore3")
    assert(CoverStream.readState(spark, store).selected.isEmpty)
    assert(CoverStream.selection(spark, store).isEmpty)
    CoverStream.processBatch(spark, docs.take(30).toDF("doc_id", "text"),
      "text", "doc_id", 4, 2L, B, store, 0L)
    val st = CoverStream.readState(spark, store)
    val out = CoverStream.selection(spark, store).orderBy(col("ord")).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === st.selected)
    assert(out.forall(_.getAs[Long]("covered_total") === st.covered.size.toLong))
  }

  test("real documents: batched processBatch == sequential") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(150).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val store = tmpDir("coverreal")
    val (k, tau) = (6, 5L)
    real.grouped(50).zipWithIndex.foreach { case (b, i) =>
      CoverStream.processBatch(spark, b.toDF("doc_id", "text"),
        "text", "doc_id", k, tau, B, store, i.toLong)
    }
    val got = CoverStream.readState(spark, store)
    val want = sequential(real, k, tau)
    assert(got.selected === want.selected)
    assert(got.covered === want.covered)
  }

  test("later batches read the state under its declared schema: no footer-scan job") {
    val store = tmpDir("coverstore-schema")
    def batch(b: Int) = docs.slice(40 * b, 40 * b + 40).toDF("doc_id", "text")
    CoverStream.processBatch(spark, batch(0), "text", "doc_id", 8, 2L, B, store, 0L)
    (1 to 2).foreach { b =>
      val (_, names) = jobNamesOf(CoverStream.processBatch(spark, batch(b),
        "text", "doc_id", 8, 2L, B, store, b.toLong))
      assert(!names.exists(_.startsWith("parquet at CoverStream.scala")),
        s"batch $b ran a schema-inference job: ${names.mkString(", ")}")
    }
    // the schema-less read of the same snapshot pays that job
    val (inferred, inferNames) =
      jobNamesOf(spark.read.parquet(SliceStore.path(store, "state", 2L)))
    assert(inferNames.exists(_.startsWith("parquet at ")), inferNames.mkString(", "))
    val r = inferred.collect().head
    assert(CoverStream.readState(spark, store) === CoverStream.CoverState(
      r.getSeq[Long](r.fieldIndex("selected")).toVector,
      r.getSeq[Long](r.fieldIndex("covered")).toSet))
    assert(CoverStream.knobsOf(spark, store) ===
      Some((r.getAs[Int]("k"), r.getAs[Long]("tau"), r.getAs[Int]("buckets"))))
  }
}
