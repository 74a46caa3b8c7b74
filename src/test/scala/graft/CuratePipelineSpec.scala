package graft

import graft.operators.CuratePipeline

/** The composed curation pipeline on a controlled corpus: each gate must
  * drop exactly the documents it should.
  */
class CuratePipelineSpec extends SparkSpec {

  private val goodEn = "the quick brown fox jumps over the lazy dog and it was " +
    "a good day for running in the sun with friends at the park"

  test("dedup, language, and quality gates compose") {
    import spark.implicits._
    val docs = Seq(
      (1L, goodEn),                               // keeper
      (2L, "  " + goodEn.toUpperCase + "  "),     // near-exact dup of 1 (fingerprint)
      (3L, "el perro corre por la calle y la casa es un lugar con los gatos"), // spanish
      (4L, "x!!! ###" ),                          // junk: too short, punct-heavy
      (5L, "the cat sat on the mat and it was warm there for a while today")   // keeper
    ).toDF("doc_id", "text")
    val out = CuratePipeline.curate(docs, "text", "doc_id",
        minQuality = 0.7, keepLang = "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 5L))
    assert(out(1L).getAs[String]("lang_pred") === "en")
    assert(out(1L).getAs[Double]("quality_score") >= 0.7)
    assert(out(1L).getAs[Long]("ws_tokens") === goodEn.split("\\s+").length.toLong)
    assert(out(1L).getAs[String]("fingerprint").length === 32)
  }

  test("rejection audit: first-failing-stage verdicts, kept set == curate survivors") {
    import spark.implicits._
    val docs = Seq(
      (1L, goodEn),                               // kept
      (2L, "  " + goodEn.toUpperCase + "  "),     // dup of 1 (same fingerprint)
      (3L, "el perro corre por la calle y la casa es un lugar con los gatos"), // lang
      (4L, "x!!! ###"),                           // und lang (no stopwords) -> 'lang'
      (5L, "the !!!!!!!"),                        // en but short+punct-heavy -> 'quality'
      (6L, "the cat sat on the mat and it was warm there for a while today")   // kept
    ).toDF("doc_id", "text")
    val verdicts = CuratePipeline.rejectionAudit(docs, "text", "doc_id",
        minQuality = 0.7, keepLang = "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(verdicts === Map(1L -> "kept", 2L -> "dup", 3L -> "lang",
      4L -> "lang", 5L -> "quality", 6L -> "kept"))
    // the audit's kept set must reproduce curate's surviving ids exactly
    val kept = verdicts.filter(_._2 == "kept").keySet
    val curated = CuratePipeline.curate(docs, "text", "doc_id",
        minQuality = 0.7, keepLang = "en")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === curated)
  }

  test("near-dup cluster curation keeps only canonical members") {
    import spark.implicits._
    // doc 2 is a NEAR dup of doc 1 (extra tail) — different fingerprint,
    // so plain curate would keep both; the cluster pass must drop it as
    // a non-canonical member (component 1 != id 2).
    val docs = Seq(
      (1L, goodEn),
      (2L, goodEn + " with a few extra tail words appended"),
      (5L, "the cat sat on the mat and it was warm there for a while today")
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L, 2L), (2L, 1L, 2L))
      .toDF("id", "component", "cluster_size")
    val out = CuratePipeline.curateNearDup(docs, clusters)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(out === Set(1L, 5L))
    val plain = CuratePipeline.curate(docs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(plain === Set(1L, 2L, 5L),
      "sanity: fingerprint dedup alone would have kept the near-dup")
  }

  test("materialize writes split-partitioned shards that prune on read") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("corpus")
    val curated = CuratePipeline.curate(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "text", "doc_id", minQuality = 0.7, keepLang = "en")
    CuratePipeline.materialize(curated, "doc_id", out)
    val back = spark.read.parquet(out)
    assert(back.count() === curated.count())
    // partition pruning: the train read must scan only split=train files
    val trainScan = back.filter(col("split") === "train")
    assert(new java.io.File(out, "split=train").exists)
    assert(trainScan.count() > 0)
    // split assignment is reproducible from the ids alone
    val expected = graft.operators.TextAnalysis
      .withSplit(curated.select("doc_id"), "doc_id")
      .filter(col("split") === "train").count()
    assert(trainScan.count() === expected)
  }
}
