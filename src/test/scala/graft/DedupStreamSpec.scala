package graft

import graft.operators.Dedup
import graft.streaming.DedupStream

/** Streaming near-dup classification: a document stream classified
  * micro-batch by micro-batch against the standing store must be
  * indistinguishable from the batch sibling folded over the same
  * arrival order — and the replay path must not let a batch see its
  * own index slice.
  */
class DedupStreamSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog near the river bank now"
  private val other =
    "completely different content about distributed query engines and shuffles"

  // batch 0: two distinct docs; batch 1: an exact dup of 1, a near-dup
  // of 1, and a fresh doc; batch 2: an exact dup of the batch-1 fresh
  // doc plus a within-batch pair (both unique — same-batch arrivals
  // never see each other)
  private val batches = Seq(
    Seq((1L, base), (2L, other)),
    Seq((3L, base), (4L, nearDup), (5L, "some fresh text about gardens")),
    Seq((6L, "some fresh text about gardens"),
        (7L, "twin sentence arriving together"),
        (8L, "twin sentence arriving together")))

  test("stream-vs-batch differential: per-batch statuses == sequential fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = tmpDir("ddstore")
    val input = MemoryStream[(Long, String)]
    val q = DedupStream.start(input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", store, tmpDir("ddckpt"))
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val got = DedupStream.statuses(spark, store)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[String]("status"), Option(r.getAs[Any]("match_id"))))).toMap

    // batch sibling, folded over the same arrival order: each batch
    // classifies against the union of all earlier batches
    val want = batches.zipWithIndex.flatMap { case (b, i) =>
      val existing = batches.take(i).flatten.toDF("doc_id", "text")
      Dedup.incrementalStatus(existing, b.toDF("doc_id", "text"),
          "text", "doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[String]("status"), Option(r.getAs[Any]("match_id")))))
    }.toMap
    assert(got === want)

    // and the semantics are the planted ones
    assert(got(3L)._1 === "exact" && got(3L)._2 === Some(1L))
    assert(got(4L)._1 === "near" && got(4L)._2 === Some(1L))
    assert(got(5L)._1 === "unique")
    assert(got(6L)._1 === "exact" && got(6L)._2 === Some(5L))
    assert(got(7L)._1 === "unique", "same-batch twin must not match")
    assert(got(8L)._1 === "unique", "same-batch twin must not match")
  }

  test("replayed micro-batch is idempotent and never sees its own slice") {
    import spark.implicits._
    val store = tmpDir("ddstore2")
    val b0 = Seq((1L, base)).toDF("doc_id", "text")
    val b1 = Seq((2L, base)).toDF("doc_id", "text")
    DedupStream.classifyBatch(spark, b0, "text", "doc_id", store, batchId = 0L)
    DedupStream.classifyBatch(spark, b1, "text", "doc_id", store, batchId = 1L)
    val first = DedupStream.statuses(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // at-least-once: batch 1 is re-delivered AFTER its index/docs
    // slices landed — without the strictly-before store view, doc 2
    // would now match its own persisted fingerprint
    DedupStream.classifyBatch(spark, b1, "text", "doc_id", store, batchId = 1L)
    val replay = DedupStream.statuses(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replay === first)
    assert(replay === Set((1L, "unique"), (2L, "exact")))
    val (index, corpus) = DedupStream.readStore(spark, store, "text", "doc_id")
    assert(index.count() === 2L, "index slice doubled on replay")
    assert(corpus.count() === 2L, "docs slice doubled on replay")
  }

  test("restart after a crash between the index and docs writes recovers") {
    import spark.implicits._
    val store = tmpDir("ddstore4")
    val b0 = Seq((1L, base)).toDF("doc_id", "text")
    // simulate the at-least-once crash window: batch 0's index slice
    // landed but its docs slice (and checkpoint commit) did not
    Dedup.dedupIndex(b0, "text", "doc_id")
      .write.parquet(s"$store/index/batch=0")
    // the re-delivery must classify and rewrite, not wedge on the
    // missing docs dir
    DedupStream.classifyBatch(spark, b0, "text", "doc_id", store, batchId = 0L)
    val got = DedupStream.statuses(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "unique")))
    val (index, corpus) = DedupStream.readStore(spark, store, "text", "doc_id")
    assert(index.count() === 1L && corpus.count() === 1L)
  }

  // A crash inside batch 0's first write of a table leaves only the
  // committer's scratch tree under batch=0/; Spark cannot infer a schema
  // from it, so a reader that trusts the directory fails every replay.
  Seq("index", "docs").foreach { table =>
    test(s"replay of batch 0 over an uncommitted $table slice completes") {
      import spark.implicits._
      val b0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
      def classify(store: String) = {
        DedupStream.classifyBatch(spark, b0, "text", "doc_id", store, batchId = 0L)
        DedupStream.statuses(spark, store).collect().toSet
      }
      val store = tmpDir("ddorphan")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
        store, table, "batch=0", "_temporary", "0"))
      assert(classify(store) === classify(tmpDir("ddclean")))
    }
  }

  test("empty store and empty batches are valid states") {
    import spark.implicits._
    val store = tmpDir("ddstore3")
    assert(DedupStream.statuses(spark, store).isEmpty)
    val (index, corpus) = DedupStream.readStore(spark, store, "text", "doc_id")
    assert(index.isEmpty && corpus.isEmpty)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    DedupStream.classifyBatch(spark, empty, "text", "doc_id", store, batchId = 0L)
    assert(DedupStream.statuses(spark, store).isEmpty,
      "an empty batch must not write slices")
  }
}
