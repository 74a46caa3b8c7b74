package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {

  private def emb: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val q = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = q.map(x => x + 0.01f)
    val rows = (2L to 50L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    ((0L, q) +: (1L, near) +: rows).toDF("vec_id", "embedding")
  }

  private def queryVec: Seq[Double] =
    emb.filter("vec_id = 0").select(Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")))
      .head().getSeq[Double](0)

  test("brute-force top-k: self first with cosine ~1, near-dup second") {
    val top = Similarity.bruteForceTopK(emb, "embedding", "vec_id", queryVec, k = 5)
      .collect()
    assert(top.head.getAs[Long]("vec_id") === 0L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(top(1).getAs[Long]("vec_id") === 1L)
    assert(top(1).getAs[Double]("cosine") > 0.999)
  }

  test("LSH top-k: probed buckets still surface self + near-dup") {
    val top = Similarity.lshTopK(emb, "embedding", "vec_id", queryVec, k = 5, planes = 6)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(top.take(2).toSeq === Seq(0L, 1L))
  }

  test("LSH recall vs brute force on top-10") {
    val exact = Similarity.bruteForceTopK(emb, "embedding", "vec_id", queryVec, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.lshTopK(emb, "embedding", "vec_id", queryVec, k = 10, planes = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // multi-probe over 2^4 buckets on 51 vectors: expect decent overlap
    assert((exact & approx).size >= 5, s"recall too low: ${(exact & approx).size}/10")
  }

  test("ANN recall@10 >= 0.8 on the full sf0.1 embeddings table") {
    // Pins the multi-table multi-probe design's quality on the HARDEST
    // data regime: these embeddings are iid noise (top-10 cosines only
    // ~0.31-0.41), so single-table LSH recalls ~1/10. Four tables of four
    // planes with Hamming-1 probes compound per-table recall ~0.48 to
    // 1-(1-0.48)^4 ~ 0.93 per neighbor. On real clustered corpora the same
    // design recalls higher while scanning far less.
    val full = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val qv = full.filter("vec_id = 0")
      .select(Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")))
      .head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(full, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.lshTopK(full, "embedding", "vec_id", qv,
        k = 10, planes = 4, tables = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((exact & approx).size >= 8,
      s"recall@10 too low on sf0.1: ${(exact & approx).size}/10")
  }

  test("production multi-probe config (8x8, H<=2) reaches recall >= 0.9 on sf0.1") {
    // The config gated by q_ann_recall_hi: widening the probe radius to
    // Hamming<=2 and compounding over 8 tables lifts recall to ~0.98
    // panel-mean even on this iid-noise worst case (multi-probe recall
    // measurements, SCALE.md). Single query here; the gate averages 10.
    val full = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val qv = full.filter("vec_id = 0")
      .select(Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")))
      .head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(full, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.lshTopK(full, "embedding", "vec_id", qv,
        k = 10, planes = 8, tables = 8, maxHamming = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((exact & approx).size >= 9,
      s"multi-probe recall@10 too low on sf0.1: ${(exact & approx).size}/10")
  }

  test("int8 codes: integer-valued, clamped, max-magnitude maps to ±127") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.withInt8Codes(df, "embedding")
      .orderBy("vec_id").collect()
    val codes = rows(0).getSeq[Float](rows(0).fieldIndex("_q"))
    assert(codes === Seq(64.0f, -127.0f, 32.0f)) // 0.5/ (1/127) = 63.5 -> 64
    assert(codes.forall(c => c == math.rint(c) && math.abs(c) <= 127))
    // zero vector: scale floor keeps codes finite (all zero)
    assert(rows(1).getSeq[Float](rows(1).fieldIndex("_q")).forall(_ == 0.0f))
  }

  test("int8 quantized top-k recalls the exact top-k on real embeddings") {
    val full = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qv = full.filter("vec_id = 0")
      .select(Similarity.toDouble(org.apache.spark.sql.functions.col("embedding")))
      .head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(full, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val quant = Similarity.int8TopK(full, "embedding", "vec_id", qv, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    // int8 quantization error is ~0.4% of full scale per component;
    // orderings at the top of the list survive it.
    assert((exact & quant).size >= 8,
      s"quantized recall@10 too low: ${(exact & quant).size}/10")
  }

  test("centroidOutlierScores: off-mode vector ranks first, scores exact") {
    import spark.implicits._
    // Two tight modes on axes 0 and 1, one vector pointing at neither.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.98f, 0.02f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.97f, 0.03f, 0.0f)),
      (5L, Array(0.5f, 0.5f, 0.7f, 0.0f)) // far from both centroids
    ).toDF("vec_id", "embedding")
    val cs = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val got = Similarity.centroidOutlierScores(vecs, "embedding", "vec_id",
        cs, cs, k = 3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("centroid_cos"), r.getAs[Int]("outlier_rank")))
    assert(got.map(_._1).head === 5L, "the off-mode vector is rank 1")
    assert(got.map(_._4).toSeq === Seq(1, 2, 3))
    // Exact score: cos(v5, c0) with v5 assigned to cell 0 (0.5 dot on
    // both raw centroids — argmax ties break to the LOWEST cell).
    val v5 = Array(0.5, 0.5, 0.7, 0.0)
    val n5 = math.sqrt(v5.map(x => x * x).sum)
    val expected = math.rint(v5(0) / n5 * 1e4) / 1e4
    assert(got.head._2 === 0)
    assert(got.head._3 === expected)
  }

  test("hardNegatives: wrong-label top-k neighbors are flagged, ranks exact") {
    import spark.implicits._
    // query 0 (label A); corpus: same-class twin, wrong-class near
    // neighbor (the hard negative), wrong-class far vector
    val emb = Seq(
      (0L, "A", Array(1.0f, 0.0f, 0.0f)),
      (10L, "A", Array(0.99f, 0.14f, 0.0f)),
      (11L, "B", Array(0.95f, 0.31f, 0.0f)),
      (12L, "B", Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(emb, "embedding", "vec_id", "label",
        isQuery = col("vec_id") === 0L, k = 3)
      .orderBy(col("rn"))
      .collect()
      .map(r => (r.getAs[Int]("rn"), r.getAs[Long]("vec_id"),
        r.getAs[Boolean]("is_hard_negative")))
    assert(got.toSeq === Seq((1, 10L, false), (2, 11L, true), (3, 12L, true)))
    // and the flag agrees with the literal window formulation on the
    // real corpus slice (differential, not just the toy)
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mined = Similarity.hardNegatives(real, "embedding", "vec_id",
      "label", isQuery = col("vec_id") < 4, k = 5)
    val labels = real.select(col("vec_id"), col("label").as("_l"))
    val bad = mined.join(labels, "vec_id")
      .join(labels.select(col("vec_id").as("q_id"), col("_l").as("_ql")), "q_id")
      .filter(col("is_hard_negative") === (col("_l") === col("_ql")))
    assert(bad.count() === 0L)
    assert(mined.count() === 4L * 5L)
  }

  test("zero-norm corpus vector scores 0.0 and never tops the ranking") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq.fill(4)(0.0f)), // zero vector: 0/0 would be NaN (NaN sorts FIRST desc)
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), k = 3, roundTo = 4).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(2L, 3L, 1L))
    assert(top.last.getDouble(1) === 0.0)
    val q = Similarity.int8TopK(df, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0, 0.0), k = 3).collect()
    assert(q.head.getLong(0) === 2L && q.last.getLong(0) === 1L)
  }

  test("zero-norm query vector is rejected loudly") {
    intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, "embedding", "vec_id",
        Seq(0.0, 0.0, 0.0, 0.0), k = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(emb, "embedding", "vec_id",
        Seq.fill(16)(0.0), k = 3)
    }
  }

  test("planes outside [1, 64] are rejected (bucket bits pack one Long)") {
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(emb, "embedding", "vec_id", queryVec, planes = 72)
    }
    intercept[IllegalArgumentException] {
      Similarity.hyperplaneBucket(col("embedding"), planes = 65)
    }
  }

  test("mmrRerank: diversity beats raw relevance once the similar slot is taken") {
    import spark.implicits._
    // Planar unit geometry where the greedy decision is unambiguous:
    //   1 = the query direction  (rel 1.0,  rank 1)
    //   4 = 16.3deg off          (rel .96,  rank 2)
    //   2 = 17.2deg off          (rel .955, but cos(2,4) ~ .9999 —
    //                             a near-duplicate of the selected 4)
    //   3 = -18.2deg off         (rel .95, far from everything picked)
    // Rank 3 must pick id 3 over the HIGHER-relevance id 2, because 2
    // is redundant with 4: .7*.955 - .3*.9999 = .369 < .7*.95 - .3*.95
    // = .38 — the diversity term overruling raw relevance.
    val cands = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(0.955f, 0.2966f)),
      (3L, Array(0.95f, -0.3122f)),
      (4L, Array(0.96f, 0.28f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(cands, "embedding", "vec_id",
        Seq(1.0, 0.0), k = 4, shortlist = 4, lambda = 0.7)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 4L, 3L, 2L))
    // rank 1 is pure relevance: mmr_score == rel == 1.0
    assert(out.head.getAs[Double]("mmr_score") === out.head.getAs[Double]("rel"))
    assert(math.abs(out.head.getAs[Double]("rel") - 1.0) < 1e-9)
    // scores are non-increasing down the greedy ranks 2..k (rank 1 is
    // on the different pure-relevance scale)
    val tail = out.drop(1).map(_.getAs[Double]("mmr_score")).toSeq
    assert(tail === tail.sorted.reverse, s"greedy scores must not increase: $tail")
  }

  test("mmrRerank: shortlist bounds the pool and bad knobs fail loud") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2.map(_.toDouble).toSeq
    val out = Similarity.mmrRerank(df, "embedding", "vec_id", q,
      k = 5, shortlist = 8, lambda = 0.7)
    assert(out.count() === 5)
    // every selected id must come from the shortlist-8 by relevance
    val short = Similarity.bruteForceTopK(df, "embedding", "vec_id", q,
      k = 8, roundTo = 4).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out.collect().map(_.getAs[Long]("vec_id")).forall(short.contains))
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(df, "embedding", "vec_id", q,
        k = 9, shortlist = 8, lambda = 0.7)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(df, "embedding", "vec_id", q,
        k = 2, shortlist = 4, lambda = 1.5)
    }
  }
}
