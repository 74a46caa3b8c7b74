package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame

/** Near/exact dedup families on a controlled corpus: known duplicates must
  * be found, known non-duplicates must not.
  */
class DedupSpec extends SparkSpec {

  private def docs: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = "the quick brown fox jumps over the lazy dog near the river bank now"
    val other = "completely different content about distributed query engines and shuffles"
    Seq(
      (1L, base), (2L, base),            // exact dups
      (3L, nearDup),                     // near-dup of 1/2
      (4L, other), (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact: identical texts collapse to min-id representative") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length === 4)
    val g = out.find(_.getAs[Long]("keep_id") == 1L).get
    assert(g.getAs[Long]("n_copies") === 2)
  }

  test("jaccard pairs: exact dup = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, minJaccard = 0.5)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 3L)) > 0.7 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("containment: an embedded quote scores 1.0 where Jaccard misses it") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val longDoc = s"intro words here $quote plus a very long tail of unrelated " +
      "filler content stretching the container document onward and onward " +
      "with many extra shingles diluting the union"
    val df = Seq((1L, quote), (2L, longDoc), (3L, "completely different text entirely"))
      .toDF("doc_id", "text")
    // Jaccard at any dedup threshold misses the pair...
    val j = Dedup.jaccardPairs(df, "text", "doc_id", n = 3, minJaccard = 0.5)
      .collect()
    assert(j.isEmpty)
    // ...directed containment nails it, in the contained->container direction
    val c = Dedup.containmentPairs(df, "text", "doc_id", n = 3,
        minContainment = 0.9)
      .collect().map(r => (r.getAs[Long]("contained_id"),
        r.getAs[Long]("container_id"), r.getAs[Double]("containment")))
    assert(c.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("chunk-LSH finds the low-Jaccard quote that whole-document LSH misses") {
    import spark.implicits._
    // 36-word quote verbatim inside a ~220-word container: document
    // Jaccard ~ 36/220 << any banding threshold.
    val quote = (1 to 36).map(i => s"quotetoken$i").mkString(" ")
    val filler = (1 to 180).map(i => s"fillerword$i").mkString(" ")
    val container = s"$filler $quote"
    val docs = Seq((1L, quote), (2L, container),
        (3L, (1 to 50).map(i => s"othertext$i").mkString(" ")))
      .toDF("doc_id", "text")
    // whole-document banding at the near-dup threshold: pair absent
    val whole = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 64, bands = 32, threshold = 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!whole.contains((1L, 2L)),
      "document-level LSH must miss the low-Jaccard containment pair")
    // chunk-level banding surfaces it; directed containment confirms 1.0
    val cands = Dedup.chunkLshCandidates(docs, "text", "doc_id",
      chunkWords = 32, stride = 16, numHashes = 32, bands = 16)
    val verified = Dedup.containmentForPairs(cands, docs, "text", "doc_id",
        n = 3, minContainment = 0.9)
      .collect().map(r => (r.getAs[Long]("contained_id"),
        r.getAs[Long]("container_id"), r.getAs[Double]("containment")))
    assert(verified.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("containmentForPairs verifies only the candidate pairs, both directions") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val longDoc = s"intro words here $quote plus a very long tail of unrelated " +
      "filler content stretching the container document onward and onward"
    val docs = Seq((1L, quote), (2L, longDoc),
        (3L, "completely different text entirely here"))
      .toDF("doc_id", "text")
    // candidate list includes a non-pair (1,3): verify must reject it
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.containmentForPairs(cands, docs, "text", "doc_id",
        n = 3, minContainment = 0.5)
      .collect().map(r => (r.getAs[Long]("contained_id"),
        r.getAs[Long]("container_id"), r.getAs[Double]("containment")))
    assert(out.toSeq.sorted === Seq((1L, 2L, 1.0)),
      "quote contained in container at 1.0; reverse direction and the " +
        "unrelated candidate are filtered")
  }

  test("jaccard maxDf cap bounds stop-shingle candidate blowup") {
    import spark.implicits._
    // 40 documents that all share one stop-shingle ("common stop shingle")
    // but are otherwise pairwise unrelated, plus one true near-dup pair.
    val corpus = (1L to 40L).map(i =>
      (i, s"common stop shingle unique$i word$i token$i item$i thing$i")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
          (101L, "alpha beta gamma delta epsilon eta"))
    val df = corpus.toDF("doc_id", "text")
    // Uncapped, the stop shingle alone generates C(40,2) = 780 candidate
    // pairs; with maxDf below 40 it is dropped from the universe and only
    // genuinely-overlapping pairs survive candidate generation.
    val capped = Dedup.jaccardPairs(df, "text", "doc_id",
      n = 3, minJaccard = 0.1, maxDf = 10)
    val pairs = capped.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((100L, 101L)))
    // and the metric over the retained universe is still a true Jaccard
    val j = Dedup.jaccardPairs(df, "text", "doc_id", n = 3, minJaccard = 0.1, maxDf = 10)
      .collect().head.getAs[Double]("jaccard")
    assert(j > 0.3 && j < 1.0)
  }

  test("minhash LSH finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical -> hamming 0; reported pairs respect threshold") {
    val maxH = 15 // pigeonhole completeness requires maxHamming < pieces
    val pairs = Dedup.simHashNearDup(docs, "text", "doc_id",
        maxHamming = maxH, pieces = 16)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs.values.forall(_ <= maxH))
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash candidates stay far below all-pairs under wide-chunk banding") {
    import spark.implicits._
    // 80 pairwise-unrelated docs plus a planted near-dup cluster of 3:
    // word-order permutations of one sentence (SimHash is bag-based, so
    // permutations sit at Hamming 0 — inside any small radius).
    val corpus = (1L to 80L).map(i =>
      (i, s"unique$i totally distinct words$i content$i row$i payload$i value$i")) ++
      Seq((200L, "shared cluster sentence about spark shuffle partitioning at scale"),
          (201L, "about spark shuffle partitioning at scale shared cluster sentence"),
          (202L, "spark shuffle partitioning shared cluster sentence at scale about"))
    val df = corpus.toDF("doc_id", "text")
    val n = corpus.size
    val allPairs = n.toLong * (n - 1) / 2
    val sigs = Dedup.simHash(df, "text", "doc_id")
    // Component defaults: 4 pieces of 16 bits (65,536 bucket values per
    // piece) — unrelated fingerprints almost never share a chunk, so the
    // candidate set is the planted cluster plus at most stray noise. The
    // degenerate narrow-chunk parameterization (16 pieces of 4 bits) would
    // emit ~N^2/32 per piece, i.e. the all-pairs blowup this asserts away.
    for ((maxH, pieces) <- Seq((3, 4), (6, 8))) {
      val nCands = Dedup.simHashPairsFromSigs(sigs, maxH, pieces).count()
      assert(nCands >= 3,
        s"($maxH,$pieces): planted cluster must be candidate-joined (got $nCands)")
      assert(nCands < allPairs / 20,
        s"($maxH,$pieces): candidate count $nCands is not << all-pairs $allPairs")
      // and the end-to-end operator still finds exactly the cluster
      val pairs = Dedup.simHashNearDup(df, "text", "doc_id", maxH, pieces)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(pairs === Set((200L, 201L), (200L, 202L), (201L, 202L)))
    }
  }

  test("simhash direct path emits the same pair set as the grouped path") {
    import spark.implicits._
    val corpus = (1L to 40L).map(i =>
      (i, s"unique$i totally distinct words$i content$i row$i")) ++ Seq(
      (100L, "shared cluster sentence about spark shuffle partitioning at scale"),
      (101L, "about spark shuffle partitioning at scale shared cluster sentence"),
      (102L, "shared cluster sentence about spark shuffle partitioning at scale"),
      (103L, "spark shuffle partitioning shared cluster sentence at scale about"))
    val df = corpus.toDF("doc_id", "text")
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).toSet
    val grouped = pairsOf(Dedup.simHashNearDup(df, "text", "doc_id", 6, 8))
    val direct = pairsOf(Dedup.simHashNearDupDirect(df, "text", "doc_id", 6, 8))
    assert(direct === grouped)
    assert(direct.exists { case (a, b, h) => a == 100L && b == 102L && h == 0 })
  }

  test("simhash combination banding is complete for the Hamming radius") {
    import spark.implicits._
    // Exhaustive check on synthetic fingerprints: plant pairs at every
    // Hamming distance 0..8 off random bases; candidates from (6, 8)
    // banding must contain every pair at distance <= 6.
    val rnd = new scala.util.Random(7)
    val rows = (0 to 8).flatMap { d =>
      val base = rnd.nextLong()
      val flipped = (0 until d).foldLeft(base)((v, i) => v ^ (1L << (i * 7 % 64)))
      Seq((d * 10L, base), (d * 10L + 1L, flipped))
    }
    val sigs = rows.toDF("id", "simhash")
    val cands = Dedup.simHashPairsFromSigs(sigs, maxHamming = 6, pieces = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (d <- 0 to 6)
      assert(cands.contains((d * 10L, d * 10L + 1L)),
        s"pair at Hamming $d must be a candidate under (6, 8) banding")
  }

  test("simhash fingerprints: deterministic, equal only for equal word bags") {
    val sigs = Dedup.simHash(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(4L))
  }

  test("incremental status: exact beats near, min match id, unique falls through") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val existing = Seq(
      (10L, base),                      // exact twin of incoming 100
      (11L, base),                      // same text, larger id — min wins
      (20L, base + " extra trailing words here"), // near-dup of 101
      (30L, "совершенно другой текст " * 20)
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base),                     // exact (match 10, not 11)
      (101L, base + " extra trailing words here plus one"), // near of 20
      (102L, "unrelated content entirely different words " * 10)
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalStatus(existing, incoming, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"))).toSeq ===
      Seq((100L, "exact"), (101L, "near"), (102L, "unique")))
    assert(out(0).getAs[Long]("match_id") === 10L, "smallest exact match id")
    assert(out(1).getAs[Long]("match_id") === 20L)
    assert(out(2).isNullAt(out(2).fieldIndex("match_id")))
  }

  test("incremental status against a persisted index matches the direct path") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    val existing = Seq(
      (10L, base), (11L, base),
      (20L, base + " extra trailing words here"),
      (30L, "совершенно другой текст " * 20)
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base),
      (101L, base + " extra trailing words here plus one"),
      (102L, "unrelated content entirely different words " * 10)
    ).toDF("doc_id", "text")
    val direct = Dedup.incrementalStatus(existing, incoming, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    // round-trip the index through parquet: the persisted form must be
    // semantically invisible
    val dir = java.nio.file.Files.createTempDirectory("dedupindex").toString
    Dedup.dedupIndex(existing, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/index.parquet")
    val viaIndex = Dedup.incrementalStatusWithIndex(
        spark.read.parquet(s"$dir/index.parquet"), existing, incoming,
        "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(viaIndex === direct)
  }

  test("incremental status: empty incoming and empty existing are safe") {
    import spark.implicits._
    val docs = Seq((1L, "some words here")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.incrementalStatus(docs, none, "text", "doc_id").count() === 0L)
    val out = Dedup.incrementalStatus(none, docs, "text", "doc_id").collect()
    assert(out.map(_.getAs[String]("status")).toSeq === Seq("unique"),
      "nothing to match against -> everything unique")
  }

  test("semantic near-dup: within-cell cosine pairs only") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),  // cell 0, cosine ~0.995 to 1
      (3L, Array(-1.0f, 0.05f, 0.0f, 0.0f)), // cell 1 — never meets 1/2
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))    // cell 2, alone
    ).toDF("vec_id", "embedding")
    val cents = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(-1.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0))
    val out = Dedup.semanticNearDup(vecs, "embedding", "vec_id", cents,
      threshold = 0.9).collect()
    assert(out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet ===
      Set((1L, 2L)), "only the within-cell high-cosine pair survives")
    assert(out.head.getAs[Int]("cell") === 0)
    assert(out.head.getAs[Double]("cosine") >= 0.99)
  }

  test("embedding near-dup via LSH buckets") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // ~same direction
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
        threshold = 0.98, planes = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("keepBestPerKey: argmax per key under the given total ordering") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("u1", 10L, 100L), // u1: longest wins
      ("u1", 11L, 300L),
      ("u1", 12L, 300L), // tie on length -> lowest id wins
      ("u2", 20L, 50L)   // singleton key passes through
    ).toDF("url", "id", "len")
    val got = Dedup.keepBestPerKey(df, col("url"),
        Seq(col("len").desc, col("id")))
      .orderBy("url").collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("id")))
    assert(got.toSeq === Seq(("u1", 11L), ("u2", 20L)))
    // Repartition-stable: the ordering is total, so winners don't
    // depend on physical layout.
    val re = Dedup.keepBestPerKey(df.repartition(5), col("url"),
        Seq(col("len").desc, col("id")))
      .orderBy("url").collect().map(_.getAs[Long]("id"))
    assert(re.toSeq === Seq(11L, 20L))
    intercept[IllegalArgumentException] {
      Dedup.keepBestPerKey(df, col("url"), Seq.empty)
    }
  }
  test("duplicatedSpans: corpus-wide windows, interval merge, self-repeat") {
    import spark.implicits._
    // k=3. d1/d2 share the 5-word run 'a b c d e' (3 dup windows each,
    // merging to one 5-word span); d3 repeats its own 4-word phrase
    // (dup windows at 1,2 and 5,6 — the pos-5 window starts exactly
    // where span [1,5) ends, so the whole doc merges to ONE span);
    // d4 has no duplicated window at all and must be absent.
    val docs = Seq(
      (1L, "a b c d e x y z"),
      (2L, "q q q a b c d e"),
      (3L, "m n o p m n o p"),
      (4L, "u v w only once here")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dup_spans"),
        r.getAs[Long]("dup_words")))
    assert(got.toSeq === Seq((1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 8L)))
  }

  test("duplicatedSpans: disjoint duplicated regions stay separate spans") {
    import spark.implicits._
    // the shared trigrams 'p1 p2 p3' and 's1 s2 s3' sit at both ends of
    // d1 with a unique middle — two spans of 3 words each.
    val docs = Seq(
      (1L, "p1 p2 p3 mid1 mid2 mid3 mid4 s1 s2 s3"),
      (2L, "p1 p2 p3 other words s1 s2 s3")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "text", "doc_id", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dup_spans"),
        r.getAs[Long]("dup_words")))
    assert(got.toSeq === Seq((1L, 2L, 6L), (2L, 2L, 6L)))
  }
  test("hammingPairs: banded join == brute force on adversarial longs") {
    import spark.implicits._
    // Deterministic hash population rich in near-collisions: base
    // values plus 1- and 2-bit perturbations of some of them, so the
    // expected output contains pairs at every distance 0, 1, 2.
    val base = (0 until 40).map(i => i.toLong * 0x9E3779B97F4A7C15L)
    val perturbed = base.take(12).map(_ ^ 1L) ++
      base.slice(12, 20).map(_ ^ ((1L << 17) | (1L << 42))) ++
      base.take(4) // exact duplicates
    val vals = (base ++ perturbed).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }
    val df = vals.toDF("id", "h")
    val got = Dedup.hammingPairs(df, "id", "h", maxHamming = 2, pieces = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    val want = (for {
      (ha, ia) <- vals
      (hb, ib) <- vals if ha < hb
      d = java.lang.Long.bitCount(ia ^ ib) if d <= 2
    } yield (ha, hb, d.toLong)).toSet
    assert(got === want, "banded Hamming join diverged from brute force")
    assert(want.exists(_._3 == 0L) && want.exists(_._3 == 1L) &&
      want.exists(_._3 == 2L), "test population must cover all distances")
  }

  test("evalContaminationReport: hits, witnesses, zero-hit eval docs kept") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown cat sleeps")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox"),   // shingles: 2; both in training
      (101L, "entirely novel eval text here"), // 3 shingles, 0 hits
      (102L, "quick brown cat")).toDF("doc_id", "text") // 1 shingle, 1 hit
    val got = Dedup.evalContaminationReport(train, bench, "text", "doc_id",
        n = 3).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_hit"), r.getAs[Long]("n_train_docs")))
    // doc100: 'the quick brown' (train docs 1+2), 'quick brown fox'
    // (train doc 1) -> 2 hits, 2 witnesses.
    assert(got.toSeq === Seq(
      (100L, 2L, 2L, 2L),
      (101L, 3L, 0L, 0L),
      (102L, 1L, 1L, 1L)))
  }

  test("probeJaccard: complete ground truth equals brute-force cross Jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again"),
      (2L, "the quick brown fox jumps over the lazy dog today now"),
      (3L, "completely different words about gardens and rivers flowing"),
      (4L, "another unrelated document mentioning mountains and valleys")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today again"), // == 1
      (11L, "gardens and rivers")                                       // low J vs 3
    ).toDF("doc_id", "text")
    val got = Dedup.probeJaccard(corpus, probe, "text", "doc_id",
        n = 3, minJaccard = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    // brute force over every cross pair via the verified-pair path
    val allPairs = corpus.select(col("doc_id").as("id_a"))
      .crossJoin(probe.select(col("doc_id").as("id_b")))
    val brute = Dedup.exactShingleJaccard(allPairs,
        corpus.unionByName(probe), "text", "doc_id", n = 3, minJaccard = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("jaccard"))).toMap
    // probeJaccard omits only J = 0 pairs (no shared shingle)
    assert(got === brute.filter(_._2 > 0))
    assert(got((1L, 10L)) === 1.0)
    // found-subset invariant behind q_dedup_recall's division: the LSH
    // pipeline's verified pairs are a subset of this complete target
    val universe = corpus.unionByName(probe)
    val found = Dedup.exactShingleJaccard(
      Dedup.minHashLsh(universe, "text", "doc_id",
        numHashes = 64, bands = 32, threshold = 0.35),
      universe, "text", "doc_id", n = 3, minJaccard = 0.8)
      .filter(col("id_b") >= 10L && col("id_a") < 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val target = Dedup.probeJaccard(corpus, probe, "text", "doc_id",
      n = 3, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(target))
    // and the production banding config recalls the exact twin
    assert(found.contains((1L, 10L)))
  }

  test("simHashProbe: pair-identical to brute-force cross Hamming join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the bank"),
      (2L, "completely different content about query engines and shuffles"),
      (3L, "unrelated sentence mentioning mountains valleys rivers gardens")
    ).toDF("doc_id", "text")
    val probe = Seq(
      // word-order permutation of corpus 1: bag-identical, so Hamming 0 —
      // guaranteed inside any radius (a one-word edit on a 12-word doc can
      // land anywhere on the 64-bit sphere, so it is not a stable fixture)
      (10L, "near the bank the quick brown fox jumps over the lazy dog"),
      (11L, "totally disjoint probe words forming another unrelated bag")
    ).toDF("doc_id", "text")
    val (maxH, pieces) = (6, 8)
    val cSigs = Dedup.simHash(corpus, "text", "doc_id")
    val pSigs = Dedup.simHash(probe, "text", "doc_id")
    val got = Dedup.simHashProbe(cSigs, pSigs, maxH, pieces)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming")))
      .toMap
    // brute force: every (corpus, probe) signature pair within the radius —
    // combination banding is pigeonhole-complete for maxHamming < pieces,
    // so the probe join must find EXACTLY this set, not a subset.
    val brute = cSigs.as("x").crossJoin(pSigs.as("y"))
      .filter(expr("bit_count(x.simhash ^ y.simhash)") <= maxH)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Int]("hamming")))
      .toMap
    assert(got === brute)
    assert(got.contains((1L, 10L))) // planted near-dup inside the radius
  }

  test("incremental status randomized: exact == brute force, near is sound (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 40).map(i => s"word$i")
    def sentence(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val existing = (1L to 60L).map(i => (i, sentence(8 + rnd.nextInt(8))))
    // incoming: exact copies (some with whitespace/case jitter — the
    // fingerprint normalizes), light mutations, and fresh docs
    val incoming = (0 until 40).map { k =>
      val id = 1000L + k
      rnd.nextInt(3) match {
        case 0 =>
          val src = existing(rnd.nextInt(existing.size))._2
          (id, if (k % 2 == 0) s"  ${src.toUpperCase}  " else src)
        case 1 =>
          val ws = existing(rnd.nextInt(existing.size))._2.split(" ")
          (id, ws.updated(rnd.nextInt(ws.length), "mutx").mkString(" "))
        case _ => (id, sentence(8 + rnd.nextInt(8)))
      }
    }
    val exDf = existing.toDF("doc_id", "text")
    val inDf = incoming.toDF("doc_id", "text")
    val got = Dedup.incrementalStatus(exDf, inDf, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.getAs[Any]("match_id")).map(_.toString.toLong)))
      .toMap
    // brute-force exact: normalized-content equality, min existing id
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val exByNorm = existing.groupBy(e => norm(e._2)).map { case (k, g) =>
      k -> g.map(_._1).min }
    // complete near ground truth at the production threshold
    val nearTruth = Dedup.probeJaccard(exDf, inDf, "text", "doc_id",
        n = 3, minJaccard = 0.8)
      .collect().map(r => (r.getLong(1), r.getLong(0))).groupBy(_._1)
      .map { case (inc, g) => inc -> g.map(_._2).toSet }
    incoming.foreach { case (id, text) =>
      val (status, m) = got(id)
      exByNorm.get(norm(text)) match {
        case Some(minEx) =>
          // the exact path is LSH-free and must match brute force exactly
          assert(status == "exact" && m.contains(minEx), s"doc $id: got $status/$m")
        case None =>
          // near is LSH-recalled, so it must be SOUND (every reported
          // match is a true >= 0.8 neighbor), never asserted complete
          if (status == "near")
            assert(nearTruth.get(id).exists(_.contains(m.get)),
              s"doc $id: near match ${m.get} is not a true neighbor")
          else
            assert(status == "unique" && m.isEmpty, s"doc $id: got $status/$m")
      }
    }
    // the planted exact copies guarantee the exact branch is exercised
    assert(got.values.count(_._1 == "exact") >= 5)
  }

  test("probe joins broadcast the panel side - the corpus never shuffles for the join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = (1L to 50L).map(i => (i, s"corpus doc number $i with words $i"))
      .toDF("doc_id", "text")
    val probe = Seq((100L, "corpus doc number 7 with words 7")).toDF("doc_id", "text")
    val simPlan = Dedup.simHashProbe(
        Dedup.simHash(corpus, "text", "doc_id"),
        Dedup.simHash(probe, "text", "doc_id"), maxHamming = 6, pieces = 8)
      .queryExecution.executedPlan.toString
    val chunkPlan = Dedup.chunkLshProbe(
        Dedup.chunkBandKeys(corpus, "text", "doc_id"),
        Dedup.chunkBandKeys(probe, "text", "doc_id"))
      .queryExecution.executedPlan.toString
    for ((name, plan) <- Seq("simHashProbe" -> simPlan, "chunkLshProbe" -> chunkPlan)) {
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: probe side must broadcast-join into the corpus scan:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: the corpus must not shuffle for the probe join:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: banded equi-join must not degrade to all-pairs:\n$plan")
    }
  }

  test("probeBagJaccard: complete ground truth equals brute-force bag Jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "alpha beta gamma alpha delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma alpha delta epsilon zeta eta theta kappa"),
      (3L, "completely different words about gardens and rivers flowing")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "alpha beta gamma alpha delta epsilon zeta eta theta iota"), // == 1
      (11L, "gardens and rivers")                                        // low J vs 3
    ).toDF("doc_id", "text")
    val got = Dedup.probeBagJaccard(corpus, probe, "text", "doc_id",
        minJaccard = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("bag_jaccard"))).toMap
    val allPairs = corpus.select(col("doc_id").as("id_a"))
      .crossJoin(probe.select(col("doc_id").as("id_b")))
    val brute = Dedup.exactBagJaccard(allPairs,
        corpus.unionByName(probe), "text", "doc_id", minJaccard = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("bag_jaccard"))).toMap
    // probeBagJaccard omits only J = 0 pairs (no shared word)
    assert(got === brute.filter(_._2 > 0))
    assert(got((1L, 10L)) === 1.0)
  }

  test("chunkLshProbe: pair-identical to the self-join's cross pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 40-word docs so chunking (width 8, stride 4) produces several
    // chunks per doc; probe 10 is a verbatim 12-word slice of doc 1.
    val mk = (tag: String) => (1 to 40).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, mk("alpha")), (2L, mk("beta")), (3L, mk("gamma"))
    ).toDF("doc_id", "text")
    val probe = Seq(
      (10L, (7 to 18).map(i => s"alpha$i").mkString(" ")),
      (11L, mk("delta"))
    ).toDF("doc_id", "text")
    val cfg = (d: org.apache.spark.sql.DataFrame) =>
      Dedup.chunkBandKeys(d, "text", "doc_id", chunkWords = 8, stride = 4,
        numHashes = 32, bands = 16)
    val got = Dedup.chunkLshProbe(cfg(corpus), cfg(probe))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the symmetric self-join over the union, restricted to cross pairs
    val self = Dedup.chunkLshCandidates(corpus.unionByName(probe),
        "text", "doc_id", chunkWords = 8, stride = 4,
        numHashes = 32, bands = 16)
      .filter(col("id_a") < 10L && col("id_b") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === self)
    assert(got.contains((1L, 10L))) // the planted verbatim slice
  }

  test("probeContainment: complete ground truth equals brute-force containment") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "completely different words about gardens and rivers flowing today")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "three four five six seven eight"), // verbatim slice of 1 -> 1.0
      (11L, "unrelated probe tokens entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.probeContainment(corpus, probe, "text", "doc_id",
        n = 3, minContainment = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("containment"))).toMap
    val allPairs = corpus.select(col("doc_id").as("id_a"))
      .crossJoin(probe.select(col("doc_id").as("id_b")))
    val brute = Dedup.containmentForPairs(allPairs,
        corpus.unionByName(probe), "text", "doc_id", n = 3,
        minContainment = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getAs[Double]("containment"))).toMap
    // probeContainment omits only zero-overlap pairs (no shared shingle)
    assert(got === brute.filter(_._2 > 0))
    // the verbatim slice is fully contained in its source
    assert(got((10L, 1L)) === 1.0)
  }
}
