package graft

import graft.operators.{Dsir, IvfIndex}
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Slice reads under each sink's declared schema: no schema-inference
  * job, and the same rows and types as Spark's own inference over the
  * same committed slices.
  */
class SliceStoreSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("(", ",", ")")).sorted.toSeq

  /** The declared read of `table` launches no job and equals the
    * schema-less read of the same slices (which pays a footer-scan
    * job), column order and types included.
    */
  private def assertDeclared(store: String, table: String, schema: StructType,
      slices: Int): Unit = {
    val (got, jobs) = jobsOf(SliceStore.read(spark, store, table, schema))
    assert(jobs === 0, s"$table: declared read launched $jobs job(s)")
    val paths = (0 until slices).map(b => SliceStore.path(store, table, b))
    val (inferred, inferJobs) = jobsOf(
      spark.read.option("basePath", s"$store/$table").parquet(paths: _*))
    assert(inferJobs >= 1, s"$table: the schema-less read launched no job")
    assert(got.schema.map(f => f.name -> f.dataType) ===
      inferred.schema.map(f => f.name -> f.dataType), s"$table: schema")
    assert(rows(got) === rows(inferred), s"$table: rows")
  }

  test("a read of 3 committed slices launches no job and matches the schema-less read") {
    import spark.implicits._
    val ivfStore = tmpDir("slicestore-ivf")
    val emb = spark.range(60).select(col("id").as("vec_id"),
      array((1 to 4).map(i => sin(col("id") * i).cast("float")): _*).as("embedding"))
    val cs = IvfIndex.trainCentroids(emb, "embedding", "vec_id", nlist = 4, iters = 3)
    (0 until 3).foreach { b =>
      IvfStream.appendBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b),
        "embedding", "vec_id", cs, ivfStore, b.toLong)
    }
    assertDeclared(ivfStore, "store", IvfStream.StoreSchema, 3)
    assert(IvfStream.StoreSchema.fieldNames.takeRight(2).toSeq === Seq("batch", "cell"))

    val docs = Seq(
      Seq((1L, "alpha beta gamma delta epsilon"), (2L, "beta gamma delta")),
      Seq((3L, "alpha beta gamma delta epsilon"), (4L, "zeta eta theta iota")),
      Seq((5L, "alpha beta gamma delta zeta"), (6L, "kappa lambda mu")))
    val indexStore = tmpDir("slicestore-index")
    val dedupStore = tmpDir("slicestore-dedup")
    val dsirStore = tmpDir("slicestore-dsir")
    val fit = Seq((1L, "alpha beta gamma", true), (2L, "zeta eta theta", false))
      .toDF("id", "text", "tgt")
    val terms = Dsir.modelTerms(fit, "text", "id", col("tgt"), 64).localCheckpoint()
    val (t, r) = Dsir.featureTotals(fit, "text", "id", col("tgt"), 64)
    docs.zipWithIndex.foreach { case (b, i) =>
      val batch = b.toDF("doc_id", "text")
      IndexStream.appendBatch(batch, "text", "doc_id", indexStore, i.toLong)
      DedupStream.classifyBatch(spark, batch, "text", "doc_id", dedupStore, i.toLong)
      DsirStream.scoreBatch(batch, "text", "doc_id", terms, Dsir.unseenTerm(t, r, 64),
        64, dsirStore, i.toLong)
    }
    assertDeclared(indexStore, "postings", IndexStream.PostingsSchema, 3)
    assertDeclared(indexStore, "meta", IndexStream.MetaSchema, 3)
    assertDeclared(dedupStore, "index", DedupStream.IndexSchema, 3)
    assertDeclared(dedupStore, "docs", DedupStream.docsSchema("doc_id", "text"), 3)
    assertDeclared(dedupStore, "status", DedupStream.statusSchema("doc_id"), 3)
    assertDeclared(dsirStore, "scores", DsirStream.scoresSchema("doc_id"), 3)

    val driftStore = tmpDir("slicestore-drift")
    DriftStream.ensureBaseline(spark, Seq(1L, 5L, 12L, 25L).toDF("v"), "v", 10L,
      driftStore, epsilon = 1e-6)
    Seq(Seq(2L, 14L), Seq(41L, 3L), Seq(5L)).zipWithIndex.foreach { case (b, i) =>
      DriftStream.processBatch(spark, b.toDF("v"), "v", 10L, driftStore, i.toLong)
    }
    assertDeclared(driftStore, "hist", DriftStream.HistSchema, 3)
    assertDeclared(driftStore, "summary", DriftStream.SummarySchema, 3)
  }

  test("a table with no committed slice reads as an empty frame of its schema") {
    val store = tmpDir("slicestore-empty")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(SliceStore.path(store, "store", 0L), "_temporary", "0"))
    val (got, jobs) = jobsOf(SliceStore.read(spark, store, "store", IvfStream.StoreSchema))
    assert(jobs === 0)
    assert(got.schema === IvfStream.StoreSchema)
    assert(got.isEmpty)
  }

  test("a sink fails loud on a non-long id column and writes no slice") {
    import spark.implicits._
    val store = tmpDir("slicestore-intid")
    val batch = Seq((1, "alpha beta"), (2, "beta gamma")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      IndexStream.appendBatch(batch, "text", "doc_id", store, batchId = 0L))
    assert(e.getMessage.contains("IndexStream: id column 'doc_id' must be a bigint, got int"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store, "postings")))
  }
}
