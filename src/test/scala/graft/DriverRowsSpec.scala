package graft

import graft.operators._
import graft.streaming.{CoresetStream, CoverStream, SliceStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bounded driver collect: [[DriverRows]] returns a frame's rows
  * under its bound, fails loud past it naming the site, and runs
  * exactly the jobs a plain `collect()` of the frame runs. Every library
  * site that collects through it fails loud past its own bound.
  */
class DriverRowsSpec extends SparkSpec {

  import spark.implicits._

  private def tripped(what: String, max: Int)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(what) && e.getMessage.contains(s"more than $max"),
      e.getMessage)
  }

  test("under, at and over the bound; the message names the site and the bound") {
    val ids = spark.range(0, 10, 1, 4).toDF("id")
    assert(DriverRows.atMost(ids, 11).map(_.map(_.getLong(0)).toSeq) === Some(0L until 10L))
    assert(DriverRows.atMost(ids, 10).map(_.map(_.getLong(0)).toSeq) === Some(0L until 10L))
    assert(DriverRows.atMost(ids, 9) === None)
    assert(DriverRows.atMost(ids.filter(col("id") < 0), 0).map(_.length) === Some(0))
    assert(DriverRows.collect(ids, 10, "ten ids").length === 10)
    tripped("ten ids", 9)(DriverRows.collect(ids, 9, "ten ids"))
    // a sorted frame keeps its order
    val desc = spark.range(0, 100, 1, 4).toDF("id").orderBy(col("id").desc)
    assert(DriverRows.collect(desc, 100, "desc").map(_.getLong(0)).toSeq ===
      (99L to 0L by -1L))
  }

  test("runs exactly the jobs a plain collect() runs: multi-file scan, multi-partition aggregate") {
    val dir = tmpDir("driverrows-scan")
    spark.range(0, 8000, 1, 8).write.mode("overwrite").parquet(s"$dir/t")
    // fresh frames per run: a Dataset collected once keeps its final
    // adaptive plan, and a second collect of it skips the shuffle stage
    def scan() = spark.read.schema("id BIGINT").parquet(s"$dir/t")
    assert(scan().inputFiles.length === 8)
    def agg() = spark.range(0, 8000, 1, 4)
      .groupBy(pmod(col("id"), lit(97L)).as("g")).agg(count(lit(1)).as("n"))
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst")
    val saved = confs.map(c => c -> spark.conf.getOption(c))
    try {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      for (coalescing <- Seq("true", "false");
           (name, df) <- Seq("scan" -> (() => scan()), "agg" -> (() => agg()))) {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalescing)
        val (plain, plainJobs) = jobsOf(df().collect())
        val (bounded, boundedJobs) = jobsOf(DriverRows.atMost(df(), plain.length))
        assert(boundedJobs === plainJobs, s"$name, coalescing=$coalescing")
        assert(bounded.map(_.map(_.toString).sorted.toSeq) ===
          Some(plain.map(_.toString).sorted.toSeq), s"$name, coalescing=$coalescing")
        val (over, overJobs) = jobsOf(DriverRows.atMost(df(), plain.length - 1))
        assert(over === None && overJobs === plainJobs, s"$name over, coalescing=$coalescing")
      }
    } finally saved.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  // -- bounds from the site's own arguments ---------------------------

  test("shortestPathsBounded: at most maxNodes² edge rows and maxNodes seeds") {
    val five = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    tripped("shortestPathsBounded edge list", 4) {
      LinkGraph.shortestPathsBounded(five, "src", "dst",
        Seq(1L).toDF("n"), "n", maxHops = 2, maxNodes = 2)
    }
    tripped("shortestPathsBounded seeds", 2) {
      LinkGraph.shortestPathsBounded(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
        Seq(1L, 2L, 3L).toDF("n"), "n", maxHops = 2, maxNodes = 2)
    }
  }

  test("kCenterGreedy: the seed id matches at most one row") {
    val vecs = Seq((1L, Seq(0.0, 1.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    tripped("kCenterGreedy seed id 1", 1) {
      Coreset.kCenterGreedy(vecs, "embedding", "vec_id", k = 2, seedId = 1L)
    }
  }

  test("mmrRerank: at most shortlist·(shortlist−1)/2 pair rows") {
    // ids 1 and 2 head the shortlist, but each id has two vectors, so
    // the shortlist's vector self-join yields 4 pairs for 2 ids
    val emb = Seq((1L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1)), (2L, Seq(-1.0, 0.0))).toDF("vec_id", "embedding")
    tripped("mmrRerank shortlist pairs", 1) {
      Similarity.mmrRerank(emb, "embedding", "vec_id", Seq(1.0, 0.0),
        k = 1, shortlist = 2, lambda = 0.5)
    }
  }

  test("sparseKnnFromIndex: at most one norm row per query id") {
    val weights = Seq((7L, "a", 2L)).toDF("id", "word", "w")
    tripped("sparseKnnFromIndex query norms", 1) {
      TermIndex.sparseKnnFromIndex(weights, Seq(7L).toDF("doc_id"),
        precomputedNorms = Some(Seq((7L, 4L), (7L, 4L)).toDF("id", "n2")))
    }
  }

  test("CoresetStream: a snapshot holds at most k centers") {
    val store = tmpDir("driverrows-coreset")
    val far = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(100.0, 0.0)), (3L, Seq(0.0, 100.0)))
      .toDF("vec_id", "embedding")
    CoresetStream.processBatch(spark, far, "embedding", "vec_id", 3, store, 0L)
    assert(CoresetStream.readState(spark, store, 3).centers.length === 3)
    tripped("CoresetStream state snapshot 0", 2)(CoresetStream.readState(spark, store, 2))
  }

  test("CoverStream: a snapshot is one row") {
    val store = tmpDir("driverrows-cover")
    SliceStore.write(Seq((Seq(1L), Seq(5L), 2, 1L, 64), (Seq(2L), Seq(6L), 2, 1L, 64))
      .toDF("selected", "covered", "k", "tau", "buckets"), store, "state", 0L)
    tripped("CoverStream state snapshot 0", 1)(CoverStream.readState(spark, store))
  }

  // -- named constants --------------------------------------------------

  /** One word per character: `n` distinct CJK characters. */
  private def alphabetDocs(n: Int): DataFrame =
    Seq((1L, (0 until n).map(i => (0x4e00 + i).toChar.toString).mkString(" ")))
      .toDF("id", "text")

  test("tokenizer alphabets: at most 1024 symbols") {
    val docs = alphabetDocs(1025)
    tripped("bpeEncodeIds alphabet", 1024) {
      TermIndex.bpeEncodeIds(docs, "text", "id",
        Seq(TermIndex.BpeMerge(1L, "a", "b", 1L)), wordPattern = "^.+$")
    }
    tripped("trainWordPiece alphabet", 1024) {
      WordPiece.trainWordPiece(docs, "text", "id", numMerges = 1, wordPattern = "^.+$")
    }
    tripped("trainUnigram single-character pieces", 1024) {
      TermIndex.trainUnigram(docs, "text", "id", wordPattern = "^.+$")
    }
  }

  test("sparseKnnFromIndex: at most 10000 request rows and 200000 request postings") {
    val weights = Seq((1L, "a", 1L)).toDF("id", "word", "w")
    tripped("sparseKnnFromIndex request batch", 10000) {
      TermIndex.sparseKnnFromIndex(weights, spark.range(10001).toDF("doc_id"))
    }
    val wide = spark.range(200001).select(lit(7L).as("id"),
      concat(lit("w"), col("id").cast("string")).as("word"), lit(1L).as("w"))
    tripped("sparseKnnFromIndex request-batch postings", 200000) {
      TermIndex.sparseKnnFromIndex(wide, Seq(7L).toDF("doc_id"))
    }
  }

  test("fillTokenBudget: at most 100000 distinct priorities") {
    val docs = spark.range(100001).select(col("id"), lit(1L).as("tokens"),
      col("id").cast("double").as("prio"))
    tripped("fillTokenBudget distinct prio values", 100000) {
      BudgetSample.fillTokenBudget(docs, "tokens", "prio", "id", 10L)
    }
  }

  test("CoverStream: at most 10000 survivors per batch") {
    val batch = spark.range(10001).select(col("id").as("doc_id"),
      concat(lit("w"), col("id").cast("string")).as("text"))
    tripped("CoverStream survivors", 10000) {
      CoverStream.processBatch(spark, batch, "text", "doc_id", 5, 1L, 64,
        tmpDir("driverrows-survivors"), 0L)
    }
  }
}
