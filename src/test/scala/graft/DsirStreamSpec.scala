package graft

import graft.operators.Dsir
import graft.streaming.DsirStream
import org.apache.spark.sql.functions._

/** Streaming DSIR scoring: micro-batch scores against the frozen model
  * must be indistinguishable from the batch scorer over the same
  * documents, unseen vocabulary must take the smoothed term (not
  * vanish), and a replayed batch must converge to identical rows.
  */
class DsirStreamSpec extends SparkSpec {

  import spark.implicits._

  // fit corpus: target = polished prose, raw = mixed
  private def fitCorpus = Seq(
    (1L, "good clean prose about engines", true),
    (2L, "good clean prose about trains", true),
    (3L, "spam spam buy now click here", false),
    (4L, "mixed clean spam prose now", false)
  ).toDF("id", "text", "tgt")

  private val arrivals = Seq(
    Seq((10L, "good clean prose"), (11L, "buy spam now")),
    Seq((12L, "totally novel vocabulary here")), // unseen buckets
    Seq((13L, "good clean trains")))

  test("stream==batch differential; unseen vocabulary takes the smoothed term") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val buckets = 256
    val terms = Dsir.modelTerms(fitCorpus, "text", "id", col("tgt"), buckets)
      .localCheckpoint() // freeze: the stream must not refit per batch
    val (t, r) = Dsir.featureTotals(fitCorpus, "text", "id", col("tgt"), buckets)
    val dflt = Dsir.unseenTerm(t, r, buckets)

    val store = tmpDir("dsirstore")
    val input = MemoryStream[(Long, String)]
    val q = DsirStream.start(input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", terms, dflt, buckets, store, tmpDir("dsirckpt"))
    try {
      arrivals.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val got = DsirStream.scores(spark, store, "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap

    // batch sibling over the union of all arrivals, same frozen model
    val all = arrivals.flatten.toDF("doc_id", "text")
    val want = Dsir.scoreAgainst(all, "text", "doc_id", terms, buckets,
        defaultTerm = Some(dflt))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(got === want)
    assert(got.keySet === Set(10L, 11L, 12L, 13L))

    // the all-unseen doc scored all 7 features (4 uni + 3 bi) —
    // n_feats proves none were dropped by the model join. (Its exact
    // score may mix observed-bucket terms: at B=256 a novel n-gram can
    // hash-collide into a fitted bucket; that is DSIR's documented
    // hashing tradeoff, not a defect.)
    assert(got(12L)._1 === 7L)
    // the pure default-term path, collision-free by construction:
    // against an EMPTY model every feature takes the smoothed term
    val emptyTerms = terms.filter(lit(false))
    val pure = Dsir.scoreAgainst(Seq((12L, "totally novel vocabulary here"))
        .toDF("doc_id", "text"), "text", "doc_id", emptyTerms, buckets,
        defaultTerm = Some(dflt))
      .collect().head
    assert(pure.getLong(1) === 7L)
    assert(pure.getDouble(2) ===
      (BigDecimal(dflt) * 7).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)

    // target-like text outranks spam-like text under the frozen model
    assert(got(10L)._2 > got(11L)._2)
  }

  test("replayed batch overwrites its slice with identical rows") {
    val buckets = 256
    val terms = Dsir.modelTerms(fitCorpus, "text", "id", col("tgt"), buckets)
      .localCheckpoint()
    val (t, r) = Dsir.featureTotals(fitCorpus, "text", "id", col("tgt"), buckets)
    val dflt = Dsir.unseenTerm(t, r, buckets)
    val store = tmpDir("dsirreplay")
    val b = Seq((20L, "good clean prose"), (21L, "novel words")).toDF("doc_id", "text")
    DsirStream.scoreBatch(b, "text", "doc_id", terms, dflt, buckets, store, 0L)
    val first = DsirStream.scores(spark, store, "doc_id")
      .collect().map(_.toSeq).toSet
    DsirStream.scoreBatch(b, "text", "doc_id", terms, dflt, buckets, store, 0L)
    val second = DsirStream.scores(spark, store, "doc_id")
      .collect().map(_.toSeq).toSet
    assert(first === second)
    assert(first.size === 2)
  }

  test("a frozen model with more rows than buckets fails loud at start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val terms = Dsir.modelTerms(fitCorpus, "text", "id", col("tgt"), 256)
    val buckets = terms.count().toInt - 1 // terms is buckets + 1 rows
    val (t, r) = Dsir.featureTotals(fitCorpus, "text", "id", col("tgt"), 256)
    val e = intercept[IllegalArgumentException](DsirStream.start(
      MemoryStream[(Long, String)].toDF().toDF("doc_id", "text"), "text",
      "doc_id", terms, Dsir.unseenTerm(t, r, 256), buckets,
      tmpDir("dsirbound"), tmpDir("dsirboundckpt")))
    assert(e.getMessage.contains("DsirStream") &&
      e.getMessage.contains(s"buckets=$buckets"))
  }

  test("empty store reads as an empty score table") {
    val got = DsirStream.scores(spark, tmpDir("dsirempty"), "doc_id")
    assert(got.count() === 0L)
    assert(got.columns.toSeq === Seq("doc_id", "n_feats", "score"))
  }
}
