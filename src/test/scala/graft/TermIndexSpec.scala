package graft

import graft.operators.{TermIndex, TextAnalysis}
import org.apache.spark.sql.functions._

/** TF-IDF ranking, inverted-index df banding, domain-mixture capping. */
class TermIndexSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "apple apple apple banana common"),
      (2L, "banana banana cherry common"),
      (3L, "cherry apple common common")
    ).toDF("doc_id", "text")
  }

  test("tfidf: repeated rare term outranks the corpus-wide term") {
    val top = TermIndex.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .filter(col("id") === 1L).orderBy(col("term_rank")).collect()
    // 'apple' tf=3 df=2, 'banana' tf=1 df=2, 'common' tf=1 df=3 (idf=0).
    assert(top(0).getAs[String]("word") === "apple")
    assert(top(0).getAs[Int]("term_rank") === 1)
    // idf of a term present in every doc is ln(4/4) = 0 -> score 0.
    val all = TermIndex.tfidfTopTerms(docs, "text", "doc_id", k = 5).collect()
    assert(all.filter(_.getAs[String]("word") == "common")
      .forall(_.getAs[Double]("tfidf") == 0.0))
  }

  test("tfidf tie on score breaks alphabetically on the word") {
    val top = TermIndex.tfidfTopTerms(docs, "text", "doc_id", k = 3)
      .filter(col("id") === 3L).orderBy(col("term_rank")).collect()
    // doc 3: apple tf=1 df=2, cherry tf=1 df=2 — equal scores.
    assert(top.map(_.getAs[String]("word")).take(2).toSeq ===
      Seq("apple", "cherry"))
  }

  test("inverted index: df band filters terms, postings sorted") {
    val idx = TermIndex.invertedIndex(docs, "text", "doc_id",
        minDf = 2, maxDf = 2).collect()
      .map(r => r.getAs[String]("word") ->
        (r.getAs[Long]("df"), r.getAs[String]("postings"))).toMap
    assert(idx === Map(
      "apple" -> ((2L, "1,3")),
      "banana" -> ((2L, "1,2")),
      "cherry" -> ((2L, "2,3"))))
    // df=3 ('common') is above the band: no posting list built.
    assert(!idx.contains("common"))
  }

  test("capDomains: dominant domain capped, small domains untouched") {
    import spark.implicits._
    // 80 rows of 'big', 10 of 'small' -> total 90, cap 50% = 45 rows:
    // big's rate = floor(45*100/80) = 56%, small's = 100%.
    val df = ((0L until 80L).map(i => (i, "big")) ++
      (100L until 110L).map(i => (i, "small"))).toDF("id", "dom")
    val kept = TextAnalysis.capDomains(df, "dom", "id", capPct = 50)
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom("small") === 10L)
    // Deterministic hash keep under rate 56: recompute expected count.
    val expectedBig = (0L until 80L).count { i =>
      val p = (1L << 31) - 1
      val y = ((i % p) * 2654435761L) % p
      (y * y) % p % 100 < 56
    }
    assert(byDom("big") === expectedBig.toLong)
    // Stable under repartitioning.
    assert(TextAnalysis.capDomains(df.repartition(7), "dom", "id", 50)
      .count() === kept.count())
  }

  test("temperatureResample: tau<1 upweights the tail domain") {
    import spark.implicits._
    // 90 'big' + 10 'small', tau=0.5, budget 50% (= 50 rows).
    // p = (.9, .1); sqrt = (.948..., .316...); q = (.75, .25);
    // rates: big floor(100*50*.75/90) = 41%, small floor(100*50*.25/10)
    // = 100% (capped) — the tail keeps EVERYTHING, the head is cut,
    // which is the whole point of temperature sampling.
    val df = ((0L until 90L).map(i => (i, "big")) ++
      (100L until 110L).map(i => (i, "small"))).toDF("id", "dom")
    val kept = TextAnalysis.temperatureResample(df, "dom", "id",
      tau = 0.5, budgetPct = 50)
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom("small") === 10L)
    val expectedBig = (0L until 90L).count { i =>
      val p = (1L << 31) - 1
      val y = ((i % p) * 2654435761L) % p
      (y * y) % p % 100 < 41
    }
    assert(byDom("big") === expectedBig.toLong)
    // tau=1 is proportional: rate = floor(100*50*p_d/N_d) = 50% for
    // EVERY domain — the tail loses its upweighting.
    val prop = TextAnalysis.temperatureResample(df, "dom", "id",
      tau = 1.0, budgetPct = 50)
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def hashKept(ids: Seq[Long], rate: Long): Long = ids.count { i =>
      val p = (1L << 31) - 1
      val y = ((i % p) * 2654435761L) % p
      (y * y) % p % 100 < rate
    }.toLong
    assert(prop("big") === hashKept(0L until 90L, 50))
    assert(prop("small") === hashKept(100L until 110L, 50))
    intercept[IllegalArgumentException] {
      TextAnalysis.temperatureResample(df, "dom", "id", 0.0, 50)
    }
  }

  test("weightedSample: zero weight never kept, capped weight always kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 100 rows of weight 10, one of weight 0, one massive (cap -> p=1).
    val df = ((0L until 100L).map(i => (i, 10L)) ++
      Seq((200L, 0L), (201L, 1000000L))).toDF("id", "w")
    val kept = TextAnalysis.weightedSample(df, col("id"), col("w"),
        budgetRows = 20L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(!kept.contains(200L), "zero-weight row sampled")
    assert(kept.contains(201L), "capped row must always be kept")
    // Exact expected set: h(id) * sumW < B * w * 1e5, all longs.
    val sumW = 100L * 10L + 1000000L
    val expected = (0L until 100L).filter { i =>
      val p = (1L << 31) - 1
      val y = ((i % p) * 2654435761L) % p
      (y * y) % p % 100000L * sumW < 20L * 10L * 100000L
    }.toSet + 201L
    assert(kept === expected)
    // Partitioning-stable (pure arithmetic, no RNG).
    val re = TextAnalysis.weightedSample(df.repartition(7), col("id"),
        col("w"), budgetRows = 20L)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(re === kept)
  }

  test("vocabCoverage: Zipf head ranks by count then token, shares accumulate") {
    import spark.implicits._
    // counts: aa=4, bb=2, cc=2, dd=1  (bb/cc tie -> alphabetical)
    val docs = Seq(
      (1L, "aa aa bb cc"),
      (2L, "aa bb cc aa dd")).toDF("id", "text")
    val got = TermIndex.vocabCoverage(docs, "text", "id", k = 3)
      .orderBy("token_rank").collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("n_occ"),
        r.getAs[Int]("token_rank"), r.getAs[Double]("cum_share")))
    assert(got.toSeq === Seq(
      ("aa", 4L, 1, 4.0 / 9),
      ("bb", 2L, 2, 6.0 / 9),
      ("cc", 2L, 3, 8.0 / 9)).map(t =>
        (t._1, t._2, t._3, math.rint(t._4 * 1e6) / 1e6)))
  }

  test("unigramLogProbScore: MLE probabilities, OOV pools leftover mass") {
    import spark.implicits._
    // tokens: a=5, b=3, c=1 -> T=9; vocab(top-2) = {a, b}; oov mass = 1.
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a c"),
      (3L, "b b a a")).toDF("doc_id", "text")
    val got = TermIndex.unigramLogProbScore(docs, "text", "doc_id",
        vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("avg_nll")))
    def nll(ps: Double*): Double =
      math.rint(-ps.map(math.log).sum / ps.size * 1e6) / 1e6
    val (pa, pb, poov) = (5.0 / 9, 3.0 / 9, 1.0 / 9)
    assert(got.toSeq === Seq(
      (1L, 3L, nll(pa, pa, pb)),
      (2L, 2L, nll(pa, poov)), // 'c' is out of vocabulary
      (3L, 4L, nll(pb, pb, pa, pa))))
    // The rare-token doc scores strictly worse (higher NLL) than the
    // common-token doc — the filter signal the operator exists for.
    assert(got(1)._3 > got(2)._3)
  }

  test("bm25: tf saturation, idf down-weighting, rank after top-k") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple apple apple apple noise noise noise noise"),
      (2L, "apple banana noise noise noise noise noise noise"),
      (3L, "banana noise noise noise noise noise noise noise"),
      (4L, "noise noise noise noise noise noise noise noise")
    ).toDF("doc_id", "text")
    val got = TermIndex.bm25TopK(corpus, "text", "doc_id",
        queryTerms = Seq("apple", "banana"), k = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[Int]("rank")))
    // Hand-computed: N=4, dl=8=avgdl for every doc, so the length norm
    // is 1 and score(t) = idf * tf * 2.2 / (tf + 1.2).
    // df=2 for both terms: idf = ln(1 + (4 - 2 + 0.5)/(2 + 0.5)) = ln 2.
    def s(idf: Double, tf: Long): BigDecimal =
      BigDecimal(math.rint(idf * tf * 2.2 / (tf + 1.2) * 1e9) / 1e9)
    def total(parts: BigDecimal*): Double =
      (parts.sum * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toDouble / 10000
    val iA = math.log(2.0); val iB = math.log(2.0)
    assert(got.map(_._1).toSeq === Seq(2L, 1L, 3L))
    assert(got.map(_._3).toSeq === Seq(1, 2, 3))
    assert(got(0)._2 === total(s(iA, 1), s(iB, 1))) // both terms
    assert(got(1)._2 === total(s(iA, 4)))           // saturated tf=4
    // tf saturation: 4 occurrences score well under 4x one occurrence.
    assert(got(1)._2 < 4 * total(s(iA, 1)))
  }

  test("bm25: longer documents are length-penalized at equal tf") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple pad"),
      (2L, "apple pad pad pad pad pad pad pad pad pad pad pad")
    ).toDF("doc_id", "text")
    val got = TermIndex.bm25TopK(corpus, "text", "doc_id",
        queryTerms = Seq("apple"), k = 2).orderBy(col("rank")).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    assert(got(0).getAs[Double]("score") > got(1).getAs[Double]("score"))
  }

  test("bpe pair counts: frequency-weighted adjacent pairs, exact") {
    import spark.implicits._
    // 'abab' x3 (pairs ab,ba,ab per occurrence), 'ab' x2, 'x' x1
    // (length-1: contributes no pair).
    val corpus = Seq(
      (1L, "abab ab x"),
      (2L, "abab ab"),
      (3L, "abab")).toDF("doc_id", "text")
    val got = TermIndex.bpePairCounts(corpus, "text", "doc_id", topN = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_count"), r.getAs[Int]("rank")))
    // ab: 2 per 'abab' x3 + 1 per 'ab' x2 = 8; ba: 1 per 'abab' x3 = 3.
    assert(got.toSeq === Seq(("a", "b", 8L, 1), ("b", "a", 3L, 2)))
  }
  test("bpe trainer: Sennrich worked example — first three merges") {
    import spark.implicits._
    // The learn-BPE worked example (Sennrich et al. 2016, without the
    // end-of-word marker): vocab low:5 lower:2 newest:6 widest:3.
    // Pair counts round 1: (e,s)=9 (newest+widest) ties (s,t)=9 —
    // tie breaks on left asc, so (e,s) merges first; round 2 (es,t)=9;
    // round 3 (l,o)=7 ties (o,w)=7 -> (l,o).
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 3)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pair_count)) ===
      Seq((1L, "e", "s", 9L), (2L, "es", "t", 9L), (3L, "l", "o", 7L)))
  }

  test("bpe trainer: greedy merge application is non-overlapping") {
    import spark.implicits._
    // 'aaaa' x2: round 1 pair (a,a) count = 3 adjacencies x 2 = 6.
    // Greedy application turns aaaa into (aa)(aa) — NOT aa,a,a — so
    // round 2's argmax is (aa,aa) with count 1x2=2.
    val corpus = Seq((1L, "aaaa"), (2L, "aaaa")).toDF("doc_id", "text")
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 2)
    assert(merges.map(m => (m.left, m.right, m.pair_count)) ===
      Seq(("a", "a", 6L), ("aa", "aa", 2L)))
  }

  test("bpe trainer: stops early when no pairs remain") {
    import spark.implicits._
    val corpus = Seq((1L, "ab ab"), (2L, "c")).toDF("doc_id", "text")
    // merge 1: (a,b)=2; then every word is a single symbol — trained
    // table has 1 entry even though 5 were requested.
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 5)
    assert(merges.map(m => (m.left, m.right, m.pair_count)) ===
      Seq(("a", "b", 2L)))
  }

  test("bpe encode: token counts follow the trained merges") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val corpus = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 3)
    // After (e,s), (es,t), (l,o): low -> [lo, w] = 2 tokens;
    // lower -> [lo, w, e, r] = 4; newest -> [n, e, w, est] = 4;
    // widest -> [w, i, d, est] = 4.
    val probe = Seq((100L, "low lower newest widest low"))
      .toDF("doc_id", "text")
    val got = TermIndex.bpeTokenCounts(probe, "text", "doc_id", merges)
      .collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("n_words") === 5L)
    assert(got(0).getAs[Long]("n_tokens") === (2 + 4 + 4 + 4 + 2).toLong)
  }

  test("bpe encode: word filter keeps non-alphanumeric words out") {
    import spark.implicits._
    val corpus = Seq((1L, "abc abc a-b c!d abc")).toDF("doc_id", "text")
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 1)
    assert(merges.head.left === "a" || merges.head.left === "b")
    val got = TermIndex.bpeTokenCounts(corpus, "text", "doc_id", merges)
      .collect()
    // only the three 'abc' instances are trainable words.
    assert(got(0).getAs[Long]("n_words") === 3L)
  }
  test("bpe encode ids: alphabet-first vocab, rank-ordered merge ids") {
    import spark.implicits._
    // words: ab x3, b, a -> merge 1 is (a,b). Alphabet sorted: a=0,
    // b=1; merged token 'ab' gets id 2. 'ab ab b a' encodes 2 2 1 0.
    val corpus = Seq((1L, "ab ab b a"), (2L, "ab")).toDF("doc_id", "text")
    val merges = TermIndex.trainBpe(corpus, "text", "doc_id", numMerges = 1)
    assert(merges.map(m => (m.left, m.right)) === Seq(("a", "b")))
    val got = TermIndex.bpeEncodeIds(corpus, "text", "doc_id", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token_ids"),
        r.getAs[Long]("n_tokens")))
    assert(got.toSeq === Seq((1L, "2 2 1 0", 4L), (2L, "2", 1L)))
  }
  test("bigram LM: interpolated mixture matches a scalar replay") {
    import spark.implicits._
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TermIndex.bigramLmScore(corpus, "text", "doc_id", lambda = 0.7)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("total_nll")))
    // scalar replay: cb(a,b)=2 cb(a,c)=1 cp(a)=3; cu a=3 b=2 c=1 T=6
    def nll(cb: Long, cp: Long, cu: Long, t: Long): BigDecimal =
      BigDecimal(-math.log(0.7 * cb.toDouble / cp +
        (1.0 - 0.7) * cu.toDouble / t))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val ab = nll(2, 3, 2, 6)
    val ac = nll(1, 3, 1, 6)
    def tot(x: BigDecimal) =
      x.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq((1L, 1L, tot(ab)), (2L, 1L, tot(ab)),
      (3L, 1L, tot(ac))))
    // the frequent bigram is less surprising than the rare one
    assert(ab < ac)
  }

  test("bigram LM: single-word docs count in the unigram model but emit no row") {
    import spark.implicits._
    // doc 3 has one word ("b") and no bigram: it must emit NO output row
    // yet its word still counts in cu/T — the single-scan marker row's
    // edge case. Scalar replay: cb(a,b)=2 cp(a)=2; cu a=2 b=3 T=5.
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "b"))
      .toDF("doc_id", "text")
    val got = TermIndex.bigramLmScore(corpus, "text", "doc_id", lambda = 0.7)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("total_nll")))
    val ab = BigDecimal(-math.log(0.7 * 2.0 / 2 + 0.3 * 3.0 / 5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val tot = ab.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq((1L, 1L, tot), (2L, 1L, tot)))
  }

  test("bigram LM: repetition scores lower total surprise per bigram") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x y x y x y x y x y"),
      (2L, "p q r s t u v w k m")).toDF("doc_id", "text")
    val got = TermIndex.bigramLmScore(corpus, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("total_nll"))).toMap
    assert(got(1L)._1 === 9L && got(2L)._1 === 9L)
    assert(got(1L)._2 / 9 < got(2L)._2 / 9)
  }

  test("sparseKnn: twin ranks first with sim 1, disjoint docs never appear") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),      // exact twin of 1
      (3L, "alpha beta delta"),      // partial overlap
      (4L, "xx yy zz")).toDF("doc_id", "text") // disjoint
    val q = Seq(1L).toDF("doc_id")
    val r = TermIndex.sparseKnnFromIndex(TermIndex.tfidfIndex(docs, "text", "doc_id"), q, k = 3)
      .orderBy("sim_rank").collect()
    assert(r.map(_.getAs[Long]("id")).toSeq === Seq(2L, 3L))
    assert(math.abs(r.head.getAs[Double]("sim") - 1.0) < 1e-6)
    assert(r(1).getAs[Double]("sim") < 1.0 && r(1).getAs[Double]("sim") > 0)
    // cosine is symmetric: querying the twin mirrors the result
    val r2 = TermIndex.sparseKnnFromIndex(TermIndex.tfidfIndex(docs, "text", "doc_id"),
      Seq(2L).toDF("doc_id"), k = 1).head()
    assert(r2.getAs[Long]("id") === 1L)
    assert(math.abs(r2.getAs[Double]("sim") - 1.0) < 1e-6)
  }

  test("raw-index merge is semantically invisible: merged == from-scratch") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "alpha beta delta"),
      (4L, "beta delta epsilon"),
      (5L, "alpha delta zeta")).toDF("doc_id", "text")
    val standing = docs.filter($"doc_id" <= 3)
    val batch = docs.filter($"doc_id" > 3)
    // merge: postings union (disjoint ids), doc counts add; df/idf
    // derive at weight time — must equal the full-corpus rebuild
    val merged = TermIndex.weightsFromRaw(
      TermIndex.rawIndex(standing, "text", "doc_id")
        .unionByName(TermIndex.rawIndex(batch, "text", "doc_id")),
      TermIndex.docCount(standing).unionByName(TermIndex.docCount(batch))
        .agg(org.apache.spark.sql.functions.sum($"_n").as("_n")))
    val fresh = TermIndex.tfidfIndex(docs, "text", "doc_id")
    assert(merged.exceptAll(fresh).isEmpty && fresh.exceptAll(merged).isEmpty,
      "merged index diverged from the from-scratch build")
    // and retrieval through the merged index matches the direct path
    val q = Seq(1L).toDF("doc_id")
    val viaMerged = TermIndex.sparseKnnFromIndex(merged, q, k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
    val direct = TermIndex.sparseKnnFromIndex(TermIndex.tfidfIndex(docs, "text", "doc_id"), q, k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"))).toSeq
    assert(viaMerged === direct)
  }

  test("pmiCooccur: hand-computed PMI on an alternating doc") {
    import spark.implicits._
    // "a b a b a b": T=6 tokens, lead-1 pairs ab,ba,ab,ba,ab; lead-2
    // pairs aa,bb,aa,bb -> Np=9. n(a,b)=3, n(a)=n(b)=3:
    // pmi = ln(3*6*6 / (9*3*3)) = ln(4/3).
    val df = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val got = TermIndex.pmiCooccur(df, "text", "doc_id",
        maxDist = 2, minPairCount = 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(5)))
      .toMap
    assert(got(("a", "b"))._1 === 3L)
    assert(got(("a", "b"))._2 ===
      BigDecimal(math.log(4.0 / 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(("a", "a"))._1 === 2L && got(("b", "b"))._1 === 2L)
    assert(got(("b", "a"))._1 === 2L)
  }

  test("pmiCooccur: co-occurrence never reaches past maxDist") {
    import spark.implicits._
    val df = Seq((1L, "a x1 x2 x3 b")).toDF("doc_id", "text")
    val pairs = TermIndex.pmiCooccur(df, "text", "doc_id",
        maxDist = 2, minPairCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!pairs.contains(("a", "b")))
    assert(pairs.contains(("a", "x2")) && !pairs.contains(("a", "x3")))
  }

  test("phraseSearch: position chains count overlapping matches per doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "x a b c y a b c"), // two matches
      (2L, "a b x c"),         // broken chain - no match
      (3L, "c b a"),           // reversed - no match
      (4L, "a a a"))           // overlapping 'a a': positions 0 and 1
      .toDF("doc_id", "text")
    val abc = TermIndex.phraseSearch(df, "text", "doc_id", Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(abc === Map(1L -> 2L))
    val aa = TermIndex.phraseSearch(df, "text", "doc_id", Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aa === Map(4L -> 2L))
  }

  test("textrank: path-graph ranks match a scalar PageRank replay") {
    import spark.implicits._
    // Docs build the path graph a—b—c (maxDist 1 keeps the pair stream
    // clean). Replay 5 iterations in scalar doubles with the plan's
    // exact arithmetic: r' = (1-0.85)/n + 0.85 * sum(in-rank/outdeg).
    val df = Seq((1L, "a b a b"), (2L, "b c b c")).toDF("doc_id", "text")
    val got = TermIndex.textrankKeywords(df, "text", "doc_id",
        maxDist = 1, minPairCount = 1, iters = 5, k = 10)
      .collect()
      .map(r => (r.getAs[String]("keyword"), r.getAs[Double]("rank"),
        r.getAs[Int]("kw_rank")))
    var (ra, rb, rc) = (1.0 / 3, 1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 5) {
      val base = (1.0 - 0.85) / 3
      // outdeg: a=1 (->b), b=2 (->a,c), c=1 (->b)
      val (na, nb, nc) =
        (base + 0.85 * (rb / 2), base + 0.85 * (ra / 1 + rc / 1),
          base + 0.85 * (rb / 2))
      ra = na; rb = nb; rc = nc
    }
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // b is the hub: highest rank, kw_rank 1; a and c tie and break
    // alphabetically.
    assert(got.toSeq === Seq(("b", r6(rb), 1), ("a", r6(ra), 2),
      ("c", r6(rc), 3)))
  }

  test("textrank: self-loops and sub-support pairs never enter the graph") {
    import spark.implicits._
    // "a a a a" yields only (a,a) pairs -> empty graph; "x y" appears
    // once, below minPairCount 2.
    val df = Seq((1L, "a a a a"), (2L, "x y")).toDF("doc_id", "text")
    val got = TermIndex.textrankKeywords(df, "text", "doc_id",
      maxDist = 1, minPairCount = 2, iters = 3, k = 10)
    assert(got.count() === 0L)
  }

  test("unigram segment DP: hand-computed argmax and longer-piece tie-break") {
    import graft.functions.UnigramSegmentUtil.segment
    val lp = new java.util.HashMap[String, java.lang.Long]()
    lp.put("a", -10L); lp.put("b", -10L); lp.put("ab", -20L); lp.put("c", -5L)
    // score(ab as piece) = -20 == score(a)+score(b): tie -> longer piece
    assert(segment("abab", lp, 4).toSeq === Seq("ab", "ab"))
    // strictly better multi piece wins outright
    lp.put("ab", -12L)
    assert(segment("abc", lp, 4).toSeq === Seq("ab", "c"))
    // strictly worse multi piece loses to the char path
    lp.put("ab", -25L)
    assert(segment("ab", lp, 4).toSeq === Seq("a", "b"))
    // unknown character: per-character fallback
    assert(segment("axb", lp, 4).toSeq === Seq("a", "x", "b"))
    assert(segment("", lp, 4).isEmpty)
  }

  test("unigram trainer: worked example — dominant word becomes one piece") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low low lowest"),
      (2L, "low low newest west"),
      (3L, "low lowest newest")).toDF("doc_id", "text")
    val model = TermIndex.trainUnigram(docs, "text", "doc_id",
      seedMulti = 20, keepMulti = 10, emRounds = 2)
    val byPiece = model.map(m => m.piece -> m).toMap
    // every corpus character survives pruning
    "lowestn".foreach(c => assert(byPiece.contains(c.toString), s"char $c"))
    // 'low' appears 7 times standalone + inside 'lowest' twice: the
    // seed's heaviest multi piece; after Viterbi-EM every 'low'
    // occurrence segments through it, so its count stays dominant
    assert(byPiece.contains("low"))
    assert(byPiece("low").cnt >= 7L)
    assert(model.forall(m => m.n_chars == m.piece.length && m.n_chars <= 4))
    // log-probs are a proper distribution's floor-scaled logs: all
    // negative, and strictly-heavier count implies >= logp (monotone
    // in count — a sign or formula error inverts this)
    assert(model.forall(_.logp_scaled < 0))
    val sorted = model.sortBy(-_.cnt)
    assert(sorted.zip(sorted.tail).forall { case (x, y) =>
      x.cnt == y.cnt || x.logp_scaled >= y.logp_scaled
    })
    // determinism: retraining yields the identical table
    val again = TermIndex.trainUnigram(docs, "text", "doc_id",
      seedMulti = 20, keepMulti = 10, emRounds = 2)
    assert(again === model)
  }

  test("unigram encode + SequencePacking wiring: counts pack like BPE counts") {
    import spark.implicits._
    import graft.operators.SequencePacking
    val docs = Seq(
      (1L, "low low lower"),
      (2L, "newest widest newest"),
      (3L, "low newest")).toDF("doc_id", "text")
    val model = TermIndex.trainUnigram(docs, "text", "doc_id",
      seedMulti = 20, keepMulti = 12, emRounds = 2)
    val counted = TermIndex.unigramTokenCounts(docs, "text", "doc_id", model)
      .withColumn("shard", lit("s0"))
    val rows = counted.orderBy("doc_id").collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      // between one-piece-per-word and one-char-per-word
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"))
    }
    val packed = SequencePacking.pack(counted, "shard", "doc_id",
      "n_tokens", capacity = 8)
    // packing conserves token mass exactly
    val massIn = rows.map(_.getAs[Long]("n_tokens")).sum
    val massOut = packed.agg(sum(col("n_toks"))).head().getLong(0)
    assert(massOut === massIn)
  }
}
