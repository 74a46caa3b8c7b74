package graft

import graft.streaming.{CoresetStream, SliceStore}
import org.apache.spark.sql.functions._

/** Streaming k-center (doubling algorithm): bounded state, the
  * entry-filter == pure-sequential equivalence, the 4r covering
  * invariant over the whole stream history, and snapshot replay.
  */
class CoresetStreamSpec extends SparkSpec {

  import spark.implicits._

  // deterministic scattered points (same generator as CoresetSpec)
  private def pt(i: Int, dim: Int = 8): Seq[Double] =
    (0 until dim).map { j =>
      val h = ((i * 2654435761L + j * 40503L) & 0xffffL).toDouble
      h / 65536.0 * 4.0 - 2.0
    }

  private val stream = (0 until 120).map(i => (i.toLong, pt(i)))

  test("duplicate ids straddling chunk boundaries are never skipped") {
    // paging on id alone would drop a duplicate id's later rows at a
    // chunk cut; the (id, mid) composite key must process every row.
    // coalesce(1) pins mid order == row order so the sequential
    // reference is deterministic.
    val pts = (0 until 20).map(i => ((i / 2).toLong, pt(i + 500)))
    val store = tmpDir("coreset-dup")
    val k = 5
    val df = pts.toDF("vec_id", "embedding").coalesce(1)
    CoresetStream.processBatch(spark, df, "embedding", "vec_id", k, store,
      batchId = 0L, chunk = 3)
    val got = CoresetStream.readState(spark, store, k)
    val want = CoresetStream.insertAll(CoresetStream.Empty,
      pts.sortBy(_._1).map { case (i, v) => (i, v.toArray) }, k) // stable sort
    assert(got.centers.map(_._1) === want.centers.map(_._1),
      "chunked paging over duplicate ids diverged from sequential insertion")
    assert(got.rSq === want.rSq)
    // covering invariant over EVERY input row, duplicates included
    pts.foreach { case (i, v) =>
      val dmin = got.centers.map(c =>
        graft.operators.Coreset.d2Scalar(v.toArray, c._2)).min
      assert(dmin <= 16.0 * got.rSq, s"row with id $i escaped the 4r cover")
    }
  }

  test("stream == pure sequential doubling; state bounded; 4r covering holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = tmpDir("coresetstore")
    val input = MemoryStream[(Long, Seq[Double])]
    val k = 6
    val q = CoresetStream.start(input.toDF().toDF("vec_id", "embedding"),
      "embedding", "vec_id", k, store, tmpDir("coresetckpt"))
    try {
      stream.grouped(40).foreach { b =>
        input.addData(b.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val got = CoresetStream.readState(spark, store, k)
    // pure sequential reference: every point in stream order, no
    // distributed entry filter anywhere
    val want = CoresetStream.insertAll(CoresetStream.Empty,
      stream.map { case (i, v) => (i, v.toArray) }, k)
    assert(got.centers.map(_._1) === want.centers.map(_._1),
      "batched entry-filtered stream diverged from sequential doubling")
    assert(got.rSq === want.rSq)
    assert(got.centers.length <= k, "state exceeded k centers")
    assert(got.rSq > 0.0)
    // covering invariant: EVERY point ever streamed is within 4r of a
    // current center (squared: 16 rSq)
    stream.foreach { case (i, v) =>
      val dmin = got.centers.map(c =>
        graft.operators.Coreset.d2Scalar(v.toArray, c._2)).min
      assert(dmin <= 16.0 * got.rSq,
        s"point $i escaped the 4r cover: d2 $dmin vs ${16.0 * got.rSq}")
    }
  }

  test("real embeddings: batched stream == sequential, float scan side intact") {
    // the testdata embeddings are float arrays — this drives the raw
    // float scan path (the codegen'd one) end to end
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(200).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val store = tmpDir("coresetreal")
    val k = 5
    emb.grouped(50).zipWithIndex.foreach { case (b, i) =>
      val df = b.toSeq.toDF("vec_id", "embedding") // array<float>, as stored
      CoresetStream.processBatch(spark, df, "embedding", "vec_id", k,
        store, i.toLong)
    }
    val got = CoresetStream.readState(spark, store, k)
    val want = CoresetStream.insertAll(CoresetStream.Empty,
      emb.map { case (i, v) => (i, v.map(_.toDouble).toArray) }.toSeq, k)
    assert(got.centers.map(_._1) === want.centers.map(_._1))
    assert(got.rSq === want.rSq)
  }

  test("redelivered batch recomputes the identical snapshot") {
    val store = tmpDir("coresetstore2")
    val k = 4
    val b0 = stream.take(30).toDF("vec_id", "embedding")
    val b1 = stream.slice(30, 60).toDF("vec_id", "embedding")
    CoresetStream.processBatch(spark, b0, "embedding", "vec_id", k, store, 0L)
    CoresetStream.processBatch(spark, b1, "embedding", "vec_id", k, store, 1L)
    val after = CoresetStream.readState(spark, store, k)
    // redeliver batch 1: must read strictly-before state and rewrite
    // the same snapshot
    CoresetStream.processBatch(spark, b1, "embedding", "vec_id", k, store, 1L)
    val replayed = CoresetStream.readState(spark, store, k)
    assert(replayed.centers.map(_._1) === after.centers.map(_._1))
    assert(replayed.rSq === after.rSq)
  }

  test("empty store is the valid empty state; centers readout matches") {
    val store = tmpDir("coresetstore3")
    assert(CoresetStream.readState(spark, store, 3).centers.isEmpty)
    assert(CoresetStream.centers(spark, store, 3).isEmpty)
    CoresetStream.processBatch(spark,
      stream.take(10).toDF("vec_id", "embedding"),
      "embedding", "vec_id", 3, store, 0L)
    val st = CoresetStream.readState(spark, store, 3)
    val out = CoresetStream.centers(spark, store, 3)
      .orderBy(col("ord")).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === st.centers.map(_._1))
    assert(out.forall(_.getAs[Double]("r_sq") === st.rSq))
  }

  test("later batches read the state under its declared schema: no footer-scan job") {
    val store = tmpDir("coresetstore-schema")
    val k = 5
    def batch(b: Int) = stream.slice(40 * b, 40 * b + 40).toDF("vec_id", "embedding")
    CoresetStream.processBatch(spark, batch(0), "embedding", "vec_id", k, store, 0L)
    (1 to 2).foreach { b =>
      val (_, names) = jobNamesOf(CoresetStream.processBatch(spark, batch(b),
        "embedding", "vec_id", k, store, b.toLong))
      assert(!names.exists(_.startsWith("parquet at CoresetStream.scala")),
        s"batch $b ran a schema-inference job: ${names.mkString(", ")}")
    }
    // the schema-less read of the same snapshot pays that job
    val (inferred, inferNames) =
      jobNamesOf(spark.read.parquet(SliceStore.path(store, "state", 2L)))
    assert(inferNames.exists(_.startsWith("parquet at ")), inferNames.mkString(", "))
    val rows = inferred.orderBy(col("ord")).collect()
    val st = CoresetStream.readState(spark, store, k)
    assert(st.centers.map(c => (c._1, c._2.toSeq)) ===
      rows.map(r => (r.getAs[Long]("id"), r.getAs[Seq[Double]]("vec"))).toVector)
    assert(rows.forall(_.getAs[Double]("r_sq") == st.rSq))
  }
}
