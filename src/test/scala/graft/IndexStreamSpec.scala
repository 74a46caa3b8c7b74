package graft

import graft.operators.TermIndex
import graft.streaming.IndexStream

/** Streaming index maintenance: the store built from a document STREAM
  * (several micro-batches) must be indistinguishable — posting for
  * posting and through retrieval — from a from-scratch batch build
  * over the same documents.
  */
class IndexStreamSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "alpha beta delta"),
      (4L, "beta delta epsilon"),
      (5L, "alpha delta zeta"),
      (6L, "gamma epsilon zeta alpha")).toDF("doc_id", "text")
  }

  test("stream-vs-batch differential: maintained store == from-scratch index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = tmpDir("idxstore")
    val input = MemoryStream[(Long, String)]
    val q = IndexStream.start(input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", store, tmpDir("idxckpt"))
    try {
      input.addData((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      q.processAllAvailable()
      input.addData((3L, "alpha beta delta"), (4L, "beta delta epsilon"))
      q.processAllAvailable()
      input.addData((5L, "alpha delta zeta"), (6L, "gamma epsilon zeta alpha"))
      q.processAllAvailable()
    } finally q.stop()
    val (postings, n) = IndexStream.readStore(spark, store)
    assert(n.head().getLong(0) === 6L)
    val viaStream = TermIndex.weightsFromRaw(postings, n)
    val fresh = TermIndex.tfidfIndex(corpus, "text", "doc_id")
    assert(viaStream.exceptAll(fresh).isEmpty &&
      fresh.exceptAll(viaStream).isEmpty,
      "stream-maintained index diverged from the from-scratch build")
    // retrieval through the maintained store == the direct batch path
    val queries = Seq(1L).toDF("doc_id")
    val got = IndexStream.sparseKnn(spark, store, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
    val want = TermIndex.sparseKnnFromIndex(TermIndex.tfidfIndex(corpus, "text", "doc_id"), queries, k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
    assert(got === want)
  }

  test("a replayed micro-batch is idempotent: same batchId overwrites its slice") {
    import spark.implicits._
    val store = tmpDir("idxstore3")
    val batch = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    IndexStream.appendBatch(batch, "text", "doc_id", store, batchId = 7L)
    // foreachBatch is at-least-once: a crash before the checkpoint
    // commit re-delivers the SAME batchId — the store must not double
    IndexStream.appendBatch(batch, "text", "doc_id", store, batchId = 7L)
    val (postings, n) = IndexStream.readStore(spark, store)
    assert(n.head().getLong(0) === 2L, "doc count doubled on replay")
    assert(postings.count() === 4L, "postings doubled on replay")
  }

  test("empty micro-batches append nothing; later batches still merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val store = tmpDir("idxstore2")
    val input = MemoryStream[(Long, String)]
    val q = IndexStream.start(input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", store, tmpDir("idxckpt2"))
    try {
      input.addData((1L, "alpha beta"))
      q.processAllAvailable()
      q.processAllAvailable() // no new data — must not write an empty slice
      input.addData((2L, "beta gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val (postings, n) = IndexStream.readStore(spark, store)
    assert(n.head().getLong(0) === 2L)
    assert(postings.count() === 4L) // alpha,beta + beta,gamma
  }

  test("a store whose only postings slice is uncommitted reads as the empty index") {
    // a crash inside batch 0's postings write leaves only the
    // committer's scratch tree, from which Spark cannot infer a schema
    val store = tmpDir("idxstore5")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      store, "postings", "batch=0", "_temporary", "0"))
    val (postings, n) = IndexStream.readStore(spark, store)
    assert(postings.isEmpty)
    assert(n.head().getLong(0) === 0L)
  }

  test("all-empty stream: readStore returns a valid empty index, not an error") {
    // r12 ADVICE: appendBatch skips empty batches, so a stream whose
    // every micro-batch was empty leaves storeDir with no postings/ or
    // meta/ — that is the EMPTY index (zero postings, N = 0), and both
    // retrieval inputs must come back well-typed and usable.
    import spark.implicits._
    val store = tmpDir("idxstore4")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(store))
    val (postings, n) = IndexStream.readStore(spark, store)
    assert(n.head().getLong(0) === 0L)
    assert(postings.isEmpty)
    assert(postings.columns.toSeq === Seq("id", "word", "tf"))
    // the empty store still composes with the retrieval path
    val got = IndexStream.sparseKnn(spark, store,
      Seq(1L).toDF("doc_id"), k = 3)
    assert(got.isEmpty)
  }
}
