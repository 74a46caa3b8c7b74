package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Term-level corpus structures: TF-IDF scoring and an inverted index.
  * Both follow the canonical two-aggregate shape — explode words once,
  * aggregate per (doc, term) and per term, equi-join on the term — so
  * every shuffle is keyed on the high-cardinality term column and the
  * plans scale with corpus size, never with vocabulary held in one place.
  */
object TermIndex {

  /** (id, word) occurrence rows of the lowercased whitespace words —
    * one per word INSTANCE (duplicates kept; term frequency needs the
    * multiset, unlike the shingle set ops). Shared with [[WordPiece]].
    */
  private[operators] def occurrences(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(TextAnalysis.words(lower(col(textCol)))).as("word"))

  /** Top-k terms per document by TF-IDF.
    *
    * tf = in-document occurrence count; idf = ln((N+1)/(df+1)) with N =
    * total documents (the +1 smoothing keeps corpus-universal terms
    * finite); score = tf * idf rounded to 4 decimals so the ranking is
    * engine-reproducible (ties then break on the word). Output:
    * (id, word, tfidf, term_rank) with term_rank in 1..k.
    *
    * Plan: one explode scan feeds BOTH aggregates (per-(doc,word) tf and
    * per-word df — Spark computes them as two shuffles over the same
    * child), df re-joins tf on the term key, and the top-k is a
    * row_number window partitioned by document. The df side is
    * vocabulary-sized — orders of magnitude smaller than the occurrence
    * stream — and the join is an equi-join on the term, so nothing in the
    * plan ever holds the vocabulary in a single partition. N arrives via
    * a 1-row cross join (broadcast by construction).
    */
  def tfidfTopTerms(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3): DataFrame = {
    val occ = occurrences(docs, textCol, idCol)
    val tf = occ.groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))
    // df from the tf aggregate — one row per (doc, word) already, so a
    // plain count IS the document frequency (the weightsFromRaw /
    // bm25TopK trick; a countDistinct over the raw occurrence stream
    // would be a second corpus-scale distinct aggregate for nothing)
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("word"))
    // the tf * ln((N+1)/(df+1)) formula is kept TEXTUALLY IN SYNC with
    // weightsFromRaw (which carries it as 10^4-scaled longs); they are
    // not one expression because round(x, 4) on the double and
    // round(x*1e4, 0)/1e4 can disagree at ULP boundaries, and each
    // side's oracle replays its own form — change BOTH or neither
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("_n") + 1).cast("double") /
          (col("df") + 1).cast("double")), 4))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("id"), col("word"), col("tfidf"), col("term_rank"))
  }

  /** The INDEX BUILD half of [[sparseKnnFromIndex]]: the scaled-long TF-IDF
    * posting table (id, word, w) — one corpus explode, tf aggregate,
    * term-keyed df derived FROM the tf rows (no second corpus pass),
    * and the weight formula. This is the artifact a deployment
    * persists once (parquet, term-bucketed at scale) and serves every
    * retrieval from; [[sparseKnnFromIndex]] is the query side that
    * never re-reads the corpus.
    *
    * Weights are 4-decimal TF-IDF values carried as SCALED LONGS
    * (w * 10^4): long sums are exact and order-insensitive like the
    * decimal they replace, but the hot (qid, doc) aggregate then runs
    * on primitive longs instead of Decimal buffers — measurably
    * faster on the pair-expansion stream, identical semantics. The
    * 10^8 scale on dot and norms cancels in the cosine; the oracle
    * replays the same scaled integers.
    */
  def tfidfIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // reuse: the df aggregate and the weight join both read the raw
    // postings, and unpinned each re-runs the corpus explode (no
    // ReusedExchange); q_sparse_knn's standing build, run 1, took
    // 2.65 s pinned vs 2.91 s unpinned (medians of 3 JVMs at sf0.1)
    weightsFromRaw(rawIndex(docs, textCol, idCol).localCheckpoint(),
      docCount(docs))

  /** RAW posting table (id, word, tf) — the MERGEABLE form of the
    * inverted index: df and idf derive from it, so two raw indexes over
    * disjoint document sets merge by plain union (see
    * [[weightsFromRaw]]), which is how a living corpus maintains its
    * index per batch instead of rebuilding — the retrieval twin of the
    * dedup family's persisted-index increment.
    */
  def rawIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    occurrences(docs, textCol, idCol)
      .groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))

  /** Document count as a 1-row DataFrame — N counts ALL docs (a doc
    * with no trainable words still counts in the idf denominator), so
    * it is index metadata, not derivable from the postings alone.
    */
  def docCount(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("_n"))

  /** Weighted postings from the raw mergeable form: df is a term-keyed
    * count over the posting table (one row per (doc, term) — the count
    * IS the document frequency), N arrives as broadcast metadata, and
    * the weight formula is the single source shared by every TF-IDF
    * path (4-decimal values as 10^4-scaled longs; see [[tfidfIndex]]).
    */
  /** Integer envelope: downstream norms and dots accumulate Σ w·w in
    * Long, exact while every doc's norm² stays under 2^63 — |w| up to
    * ~3.0e9 per term (tf·idf ≤ 3.0e5 at the 10^4 scale) with headroom
    * for the sum. Under Spark's default ANSI mode an overflow FAILS
    * LOUD (ARITHMETIC_OVERFLOW during the norm aggregate), never wraps
    * silently; a corpus near the envelope (a doc repeating one rare
    * term ~10^5 times) should cap tf via the df/stop-term rule or move
    * the norm aggregate to DECIMAL(38,0).
    */
  def weightsFromRaw(postings: DataFrame, nDocs: DataFrame): DataFrame = {
    val dfreq = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
    postings.join(dfreq, "word").crossJoin(broadcast(nDocs))
      .withColumn("w",
        round(col("tf") * log((col("_n") + 1).cast("double") /
          (col("df") + 1).cast("double")) * 1e4, 0).cast("long"))
      .select(col("id"), col("word"), col("w"))
  }

  /** Request rows [[sparseKnnFromIndex]] collects: the k-NN request
    * batch, not the corpus (SCALE.md). The largest batch reached is
    * q_sparse_knn's doc_id % 100 panel, 500 queries at sf1.
    */
  private val MaxRequestRows = 10000

  /** Posting rows of one request batch [[sparseKnnFromIndex]] collects:
    * its queries' distinct words. The largest reached is q_sparse_knn
    * at sf1, ~11.6k (500 queries of ~23 distinct words; 1,164 measured
    * for the 50-query sf0.1 panel).
    */
  private val MaxQueryPostings = 200000

  /** Sparse k-NN: for each query document, the k most cosine-similar
    * documents under TF-IDF weights — the classic sparse-retrieval
    * "related documents" query, the lexical counterpart of the dense
    * ANN family (Similarity.scala). Weights reuse [[tfidfTopTerms]]'s
    * formula quantized to 4 decimals and carried as 10^4-scaled LONGS
    * ([[tfidfIndex]]), so dot products and norms accumulate in exact
    * integer arithmetic — order- and partitioning-independent, which is
    * what lets an independent engine reproduce the ranking bit-for-bit
    * (the only double ops left are one sqrt and one division on
    * identical inputs; the 10^8 scale cancels inside the cosine ratio
    * up to the one shared sqrt). Ranking is by the ROUNDED similarity
    * with doc-id tie-break. A production variant drops ultra-common
    * terms by df cap exactly like the LSH stop-shingle rule; the
    * synthetic corpus's tiny vocabulary would go empty, so the gate
    * declares no cap.
    *
    * This is the QUERY half over a standing posting table — norms from a posting-table aggregate (index-sized,
    * not corpus-sized), query vectors looked up by broadcast, the
    * retrieval join keyed on the term with the query side broadcast so
    * the posting table never shuffles. Cost is Σ over query terms of
    * df(term) — the inverted-index retrieval bound.
    *
    * Caller contract: `queries`' FIRST column is the request batch's
    * query doc-id and must be integral (it is collected as Long) —
    * validated here rather than silently cast, since a text-first
    * queries frame would otherwise throw an opaque ANSI cast error or
    * resolve to the wrong ids.
    */
  def sparseKnnFromIndex(weights: DataFrame, queries: DataFrame,
      k: Int = 5, precomputedNorms: Option[DataFrame] = None): DataFrame = {
    val session = weights.sparkSession
    import session.implicits._
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(queries.schema.head.dataType),
      s"queries' first column (${queries.columns.head}: " +
        s"${queries.schema.head.dataType.simpleString}) must be the " +
        "integral query doc-id")
    // Norms are derivable from the posting table but a deployment
    // stores them WITH the index (one aggregate at build time beats one
    // per query) — callers with a persisted index pass them in.
    val norms = precomputedNorms.getOrElse(
      weights.groupBy(col("id"))
        .agg(sum(col("w") * col("w")).as("n2")))
    // Query postings are BOUNDED (they are the k-NN request batch, not
    // the corpus), so they collect once and ship inside the
    // document-at-a-time aggregate ([[graft.functions.MultiDotScore]]):
    // the posting table is scanned ONCE and each doc's dots against ALL
    // queries accumulate in one pass — the query-at-a-time equi-join
    // this replaces shuffled sum-over-query-terms-of-df(term) pair rows
    // (2.3M at sf0.1) just to re-group them by (query, doc).
    val reqIds = DriverRows.collect(
        queries.select(col(queries.columns.head).cast("long")), MaxRequestRows,
        "sparseKnnFromIndex request batch")
      .map(_.getLong(0)).distinct.sorted.toSeq
    // isin on the collected request ids instead of a broadcast join:
    // the predicate pushes into the index scan (row-group pruning on a
    // sorted/bucketed deployment index), and one job replaces two
    val qp = DriverRows.collect(weights.filter(col("id").isin(reqIds: _*))
        .select(col("id"), col("word"), col("w")), MaxQueryPostings,
      "sparseKnnFromIndex request-batch postings")
    val qids: Seq[Long] = qp.map(_.getLong(0)).distinct.sorted.toSeq
    if (qids.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("qid", "id", "sim", "sim_rank")
    val qIdx = qids.zipWithIndex.toMap
    val byWord = qp.groupBy(_.getString(1))
    val qWords = byWord.keys.toSeq.sorted
    val hitIdx = qWords.map(w => byWord(w).map(r => qIdx(r.getLong(0))).toSeq)
    val hitW = qWords.map(w => byWord(w).map(_.getLong(2)).toSeq)
    val nQ = qids.length
    // one norm row per query id
    val qn2Map = DriverRows.collect(norms.filter(col("id").isin(qids: _*)),
        qids.length, "sparseKnnFromIndex query norms (ids must be unique)")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qn2: Seq[Long] = qids.map(q => qn2Map.getOrElse(q,
      sys.error(s"query $q has postings but no norm — corrupt index")))
    val B = org.apache.spark.sql.GraftSqlBridge
    val multiDot = B.column(graft.functions.MultiDotScore(
      B.expression(col("word")), B.expression(col("w")),
      qWords, hitIdx, hitW, nQ).toAggregateExpression())
    // The norm lookup joins BEFORE the per-query explode: the grouped
    // aggregate has one row per DOC (corpus-sized), while the exploded
    // stream has one row per (doc, query) — up to nQ-fold larger (25M
    // rows at sf1's saturated vocabulary, where every pair shares a
    // term). Joining at the doc grain probes the norm relation 50k
    // times instead of 25M and carries n2 through the explode as one
    // extra long. (A document-at-a-time MultiTopK aggregate replacing
    // the explode entirely was built and A/B-measured at wall-clock
    // PARITY — both shapes are single-stage with k-row exchanges; the
    // generator stream is CPU-local, not a shuffle — and rejected, see
    // SCALE.md.)
    val dots = weights.groupBy(col("id")).agg(multiDot.as("_d"))
      .join(norms, "id")
      .select(col("id"), col("n2"), col("_d"),
        posexplode(slice(col("_d"), 1, nQ)).as(Seq("_qi", "dot")))
      // pair-existence contract of the join this replaces: a (query,
      // doc) pair exists iff they share at least one indexed term
      .filter(element_at(col("_d"), col("_qi") + nQ + 1) > 0)
      .select(element_at(typedLit(qids), col("_qi") + 1).as("qid"),
        col("id"), col("dot"), col("n2"),
        element_at(typedLit(qn2), col("_qi") + 1).as("qn2"))
      .filter(col("id") =!= col("qid"))
    val sim = dots
      .withColumn("sim", round(col("dot").cast("double") /
        sqrt(col("qn2").cast("double") * col("n2").cast("double")), 6))
    // Top-k via the map-side-combining native aggregate instead of a
    // window row_number: the window shape sorts every query's FULL
    // candidate list after the shuffle, while the aggregate keeps a
    // k-element heap per task so the exchange carries k rows per
    // (query, task) and nothing is ever sorted. Same result set — the
    // (sim DESC, id) order is total.
    sim.groupBy(col("qid"))
      .agg(graft.functions.GraftFunctions.graftTopK(
        struct((-col("sim")).as("nk"), col("id").as("tk")),
        struct(col("id"), col("sim")), k).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_row")))
      .select(col("qid"), col("_row.id").as("id"), col("_row.sim").as("sim"),
        (col("_pos") + 1).cast("int").as("sim_rank"))
  }

  /** Vocabulary drift between two corpus snapshots — the NLP-ops twin
    * of the numeric drift family (PSI/KS watch a column's distribution;
    * this watches the TOKEN distribution): the k terms whose corpus
    * share moved most between snapshot A and snapshot B, with their raw
    * counts and the rounded share delta. The RANKING is decided wholly
    * in integer arithmetic — |n_a·T_b − n_b·T_a| is the cleared-
    * denominator form of |share_a − share_b|, exact in longs (counts
    * ~1e9 x totals ~1e12 would overflow; at that scale the counts ride
    * DECIMAL(38,0) — the envelope here is orders of magnitude inside
    * long range) — so the top-k is engine-exact and only the reported
    * delta is one rounded double per surviving row.
    *
    * Plan: one scan + term-keyed count per snapshot (map-side
    * combinable), full-outer on the term key (vocabulary-sized), totals
    * via 1-row broadcast cross joins, distributed top-k. Nothing
    * corpus-sized ever shuffles twice.
    */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String, idCol: String,
      k: Int = 20): DataFrame = {
    val ca = occurrences(a, textCol, idCol)
      .groupBy(col("word")).agg(count(lit(1)).as("n_a"))
    val cb = occurrences(b, textCol, idCol)
      .groupBy(col("word")).agg(count(lit(1)).as("n_b"))
    val joined = ca.join(cb, Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    // one combined totals aggregate + one broadcast cross join — two
    // separate totals would re-execute the joined subplan per total
    val totals = joined.agg(sum(col("n_a")).as("_ta"),
      sum(col("n_b")).as("_tb"))
    joined.crossJoin(broadcast(totals))
      .withColumn("_score",
        abs(col("n_a") * col("_tb") - col("n_b") * col("_ta")))
      .orderBy(col("_score").desc, col("word"))
      .limit(k)
      .select(col("word"), col("n_a"), col("n_b"),
        round(col("n_a").cast("double") / col("_ta") -
          col("n_b").cast("double") / col("_tb"), 6).as("delta_share"))
  }

  /** Vocabulary coverage curve — the Zipf head of the corpus: the top-k
    * tokens by occurrence count with rank and the CUMULATIVE share of
    * all token occurrences they cover (the "how big must the vocabulary
    * be to cover 95% of the stream" question tokenizer training asks).
    * Ties break on the token so the ranking is engine-reproducible.
    *
    * Plan: one explode scan, one token-keyed aggregate (map-side
    * partial combine does the heavy lifting — a Zipfian stream collapses
    * hard inside each task), then a distributed top-k
    * (TakeOrderedAndProject, never a full sort), and only THEN a
    * single-partition running-sum window — over exactly k rows, not the
    * vocabulary. The total arrives via a 1-row broadcast cross join.
    */
  def vocabCoverage(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 50): DataFrame = {
    val occ = occurrences(docs, textCol, idCol)
    val counts = occ.groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
    // The stream total is the sum of the per-word counts — derived from
    // the vocabulary-sized aggregate, NOT a second corpus explode.
    val total = counts.agg(sum(col("n_occ")).as("_total"))
    val top = counts.orderBy(col("n_occ").desc, col("word")).limit(k)
    val w = Window.orderBy(col("n_occ").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("token_rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("word"))))
      .withColumn("cum_share",
        round(sum(col("n_occ")).over(w).cast("double") / col("_total"), 6))
      .select(col("word"), col("n_occ"), col("token_rank"), col("cum_share"))
  }

  /** Unigram language-model quality scoring — the CCNet-style filter
    * signal: train a unigram LM on the corpus itself (top-`vocabSize`
    * tokens by occurrence count, ties on the token; everything else
    * pools into one OOV bucket whose mass is the leftover count), then
    * score every document by its average negative log-likelihood under
    * that model. Natural-sounding text full of common tokens scores
    * low; gibberish, boilerplate codes, and rare-token soup score high
    * — sort descending and the junk floats to the top, which is exactly
    * how perplexity filtering curates a crawl.
    *
    * Probabilities are unsmoothed corpus MLE (p = n/T, OOV = mass/T
    * with a floor of one count so the expression is total) — every
    * token's probability is positive by construction since the model is
    * trained on the very stream it scores.
    *
    * Plan: one explode scan; one word-keyed count aggregate (map-side
    * combine collapses the Zipf head in-task); the vocabulary is
    * top-V by construction — BOUNDED, so it broadcasts and the
    * corpus-sized occurrence stream is scored with a broadcast
    * left-join + coalesce, never shuffled on the word; the final
    * per-document average shuffles once on the document id. Totals and
    * OOV mass arrive via a 1-row broadcast cross join.
    */
  def unigramLogProbScore(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      vocabSize: Int = 4096): DataFrame = {
    val occ = occurrences(docs, textCol, idCol)
    val counts = occ.groupBy(col("word")).agg(count(lit(1)).as("_n"))
    val vocab = counts.orderBy(col("_n").desc, col("word")).limit(vocabSize)
    // The stream total is the sum of the per-word counts — derived from
    // the vocabulary-sized aggregate instead of a second corpus explode,
    // so training the model costs ONE corpus scan, scoring the other.
    val totals = counts.agg(sum(col("_n")).as("_t"))
      .crossJoin(broadcast(vocab.agg(sum(col("_n")).as("_inv"))))
      .select(col("_t"),
        greatest(col("_t") - coalesce(col("_inv"), lit(0L)), lit(1L))
          .as("_oov_mass"))
    occ
      .join(broadcast(vocab), Seq("word"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"),
        coalesce(
          log(col("_n").cast("double") / col("_t").cast("double")),
          log(col("_oov_mass").cast("double") / col("_t").cast("double")))
          .as("_lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(-avg(col("_lp")), 6).as("avg_nll"))
      .withColumnRenamed("id", idCol)
  }

  /** BM25 top-k retrieval for a fixed query-term set — the standard
    * lexical ranking function (Robertson/Sparck Jones; the scorer behind
    * Lucene/Elasticsearch defaults and the lexical leg most RAG stacks
    * pair with dense retrieval; the reference's ILIKE-OR search at
    * mply_ingester/backend/mply_ingester/web/api/products.py:49-54 is
    * the boolean ancestor of this ranked form):
    *
    *   score(d, q) = sum over t in q of
    *     idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    *   idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))
    *
    * with dl = document token count, avgdl = corpus mean. Scores are
    * rounded to 4 decimals (the [[tfidfTopTerms]] convention) so the
    * ranking and the stored value are engine-reproducible; ties break
    * on the document id.
    *
    * Plan shape for 100 TB: the query-term filter lands INSIDE the
    * per-row word array (`filter(words, isin(q))`) — only matching
    * occurrences are ever exploded, so the corpus-sized explode of the
    * tf/idf textbook shape never happens; dl is a per-row `size()`
    * projection on the same scan (no second pass). Per-term df and N /
    * avgdl are |q|-sized and 1-row aggregates that broadcast back, the
    * per-doc score is ONE keyed shuffle (docs matching >= 1 term), and
    * the top-k is TakeOrderedAndProject — the global sort never
    * materializes. row_number runs AFTER the limit, over k rows.
    */
  def bm25TopK(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val terms = queryTerms.map(_.toLowerCase)
    val ws = TextAnalysis.words(lower(col(textCol)))
    val base = docs.select(col(idCol).as("id"),
      size(ws).as("_dl"),
      filter(ws, w => w.isInCollection(terms)).as("_hits"))
    val stats = base.agg(count(lit(1)).as("_n_docs"),
      avg(col("_dl")).as("_avgdl"))
    val tf = base.select(col("id"), col("_dl"), explode(col("_hits")).as("word"))
      .groupBy(col("id"), col("_dl"), col("word"))
      .agg(count(lit(1)).as("_tf"))
    // df derives from the tf AGGREGATE (one row per (doc, term) already)
    // instead of a third corpus scan — stats + tf are the only two
    // passes over the data, the textbook minimum without caching.
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("_df"))
    val idf = log(lit(1.0) +
      (col("_n_docs") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val norm = col("_tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("_dl") / col("_avgdl"))
    val ranked = tf
      .join(broadcast(df), "word")
      .crossJoin(broadcast(stats))
      // Per-term contribution rounded to 9 decimals then summed as
      // DECIMAL — the repo's float-parity rule: the sum is exact and
      // order-insensitive, so the score reproduces under any engine,
      // partitioning, or merge order; the 4-decimal final round is the
      // ranking precision.
      .select(col("id"),
        round(idf * col("_tf") * lit(k1 + 1.0) / norm, 9)
          .cast(DecimalType(28, 9)).as("_s"))
      .groupBy(col("id"))
      .agg(round(sum(col("_s")).cast(DoubleType), 4).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    ranked
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id"))))
      .withColumnRenamed("id", idCol)
  }

  /** Byte-pair-encoding merge statistics — the inner loop of tokenizer
    * training (Sennrich et al. 2016; the GPT-2/SentencePiece BPE family):
    * count every ADJACENT symbol pair across the corpus (here: character
    * bigrams inside words, each word weighted by its corpus frequency)
    * and surface the top merge candidates. One call = one BPE iteration's
    * argmax table; a trainer loops this against an evolving symbol
    * vocabulary.
    *
    * Output: (left, right, pair_count, rank) for the top-n pairs,
    * pair_count = total adjacent occurrences corpus-wide, ties broken on
    * (left, right).
    *
    * Plan shape for 100 TB: the corpus-sized occurrence stream collapses
    * to the VOCABULARY first (one word-keyed count aggregate with
    * map-side combine — the same Zipf collapse [[vocabCoverage]] rides),
    * and all character-level work happens on vocabulary rows: the pair
    * explode is |vocab| x word_length, orders of magnitude below corpus
    * scale. One more pair-keyed aggregate sums freq-weighted counts, the
    * top-n is TakeOrderedAndProject, row_number after the limit.
    */
  def bpePairCounts(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      topN: Int = 20): DataFrame = {
    val vocab = occurrences(docs, textCol, idCol)
      .groupBy(col("word")).agg(count(lit(1)).as("_freq"))
    val pairs = vocab
      .filter(length(col("word")) >= 2)
      .select(col("_freq"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => struct(
          col("word").substr(i, lit(1)).as("left"),
          col("word").substr(i + 1, lit(1)).as("right"))))
        .as("_p"))
      .select(col("_p.left").as("left"), col("_p.right").as("right"),
        col("_freq"))
    val ranked = pairs
      .groupBy(col("left"), col("right"))
      .agg(sum(col("_freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left"), col("right"))
      .limit(topN)
    ranked.withColumn("rank", row_number().over(
      Window.orderBy(col("pair_count").desc, col("left"), col("right"))))
  }

  /** One learned merge: `rank` is the training iteration (1-based),
    * `pair_count` the corpus-wide adjacent-occurrence count that made
    * (left, right) the argmax at that iteration.
    */
  case class BpeMerge(rank: Long, left: String, right: String, pair_count: Long)

  /** Word characters as a symbol array (split("") can emit empties on
    * some inputs — filtered defensively).
    */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => length(s) > 0)

  /** Apply ONE merge to a symbol array: greedy left-to-right fold — the
    * exact replacement rule of Sennrich et al.'s learn_bpe (non-
    * overlapping, a just-merged token never re-merges in the same pass
    * because its symbol string differs from `l`). Pure higher-order
    * expression, no UDF.
    */
  private[operators] def applyMerge(syms: Column, l: Column, r: Column, m: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 && element_at(acc, -1) === l && s === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(m)))
        .otherwise(concat(acc, array(s))))

  /** `word`'s BPE symbols: its characters with every merge of the
    * table applied in rank order (the merge table rides as one array
    * literal; the fold runs once per word).
    */
  private def encodeSyms(word: Column, merges: Seq[BpeMerge]): Column =
    aggregate(array(merges.map(m => struct(lit(m.left).as("l"),
        lit(m.right).as("r"), lit(m.left + m.right).as("m"))): _*),
      charSyms(word), (syms, mg) => applyMerge(syms, mg("l"), mg("r"), mg("m")))

  /** Freq-weighted adjacent symbol-pair counts (l, r, cnt) of a
    * (syms, _freq) vocabulary — one pair explode and one aggregate, the
    * per-round count of both subword trainers.
    */
  private[operators] def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("_freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        j => struct(element_at(col("syms"), j).as("l"),
          element_at(col("syms"), j + 1).as("r")))).as("_p"))
      .groupBy(col("_p.l").as("l"), col("_p.r").as("r"))
      .agg(sum(col("_freq")).as("cnt"))

  /** Symbols a tokenizer trainer or encoder collects as its alphabet:
    * the distinct characters of the words matching its `wordPattern`
    * (SCALE.md: bounded by the word pattern). The largest reached is
    * 72, WordPiece's plain and '##' forms of the default pattern's 36
    * characters, at every scale.
    */
  private[operators] val MaxAlphabet = 1024

  /** BPE TRAINER (Sennrich et al. 2016): iterate [[bpePairCounts]]'s
    * argmax — count adjacent symbol pairs weighted by word frequency,
    * merge the winner everywhere, repeat — for `numMerges` iterations,
    * returning the learned merge table in training order. Ties break on
    * (left, right) so the trained tokenizer is engine-reproducible.
    *
    * Training is restricted to words matching `wordPattern` (default
    * lowercase alphanumerics) — the usual pre-tokenizer hygiene, and it
    * keeps the symbol alphabet free of the bracket characters an
    * external replay oracle uses as symbol separators.
    *
    * Plan shape for 100 TB: the corpus collapses to the VOCABULARY
    * (word, freq) in one scan — every later iteration works at
    * vocabulary scale: a pair explode + aggregate, a 1-row argmax
    * collect (bounded driver state, the IVF-centroid precedent), and a
    * fold-per-word merge application. `localCheckpoint` every third
    * merge truncates the iterative lineage exactly as the
    * connected-components loop in [[Dedup]] does — every iteration
    * would double the job count for no benefit, since recomputing at
    * most two pending vocabulary-scale folds is cheaper than the
    * per-job scheduling floor the extra materializations pay.
    */
  def trainBpe(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numMerges: Int,
      wordPattern: String = "^[a-z0-9]+$"): Seq[BpeMerge] = {
    require(numMerges >= 1, "trainBpe needs at least one merge")
    var vocab = occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern))
      .groupBy(col("word")).agg(count(lit(1)).as("_freq"))
      .select(charSyms(col("word")).as("syms"), col("_freq"))
      .localCheckpoint() // loop: the starting vocabulary every merge reads
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var i = 1
    var exhausted = false
    while (i <= numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(i.toLong, l, r, cnt)
        vocab = vocab
          .select(applyMerge(col("syms"), lit(l), lit(r), lit(l + r)).as("syms"),
            col("_freq"))
        if (i % 3 == 0) vocab = vocab.localCheckpoint() // loop: lineage cut
        i += 1
      }
    }
    merges.toSeq
  }

  /** ENCODE with a trained merge table: re-derive per-document token
    * counts by applying the merges (in rank order, greedy per merge —
    * the standard BPE encode) to every distinct word, then joining the
    * per-word token width back to the document word stream. Output:
    * (id, n_words, n_tokens) over the words matching `wordPattern`.
    *
    * Plan shape for 100 TB: the merge table is a BROADCAST LITERAL
    * (bounded by the merge budget); the nested fold — outer over the
    * merge array, inner over the word's symbols — runs once per
    * DISTINCT word (vocabulary scale, never corpus scale); the corpus
    * stream reduces to (doc, word, count) before the vocabulary join,
    * and the final per-doc aggregate is one keyed shuffle.
    */
  def bpeTokenCounts(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[BpeMerge],
      wordPattern: String = "^[a-z0-9]+$"): DataFrame = {
    require(merges.nonEmpty, "bpeTokenCounts needs a trained merge table")
    val docWords = occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern))
    val tfd = docWords.groupBy(col("id"), col("word"))
      .agg(count(lit(1)).as("_c"))
    val vocab = docWords.select(col("word")).distinct()
      .select(col("word"), size(encodeSyms(col("word"), merges)).as("_n_tok"))
    tfd.join(vocab, "word")
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_words"),
        sum(col("_c") * col("_n_tok")).as("n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /** ENCODE TO TOKEN IDS — the artifact a trained tokenizer actually
    * ships: a vocabulary (base alphabet first, sorted, ids 0..B-1; then
    * one merged token per merge in rank order, ids B..B+n-1, first rank
    * winning if two merges produce the same string) and, per document,
    * the token-id sequence of its trainable words in order. Output:
    * (id, token_ids, n_tokens) with `token_ids` the space-joined id
    * string — engine-portable, so an external replay can match it
    * byte-for-byte.
    *
    * Plan shape for 100 TB: the alphabet collect is BOUNDED by the word
    * pattern (≤36 symbols for the default [a-z0-9]); the vocabulary map
    * (alphabet + merges) is a literal; encoding runs once per DISTINCT
    * word; the per-document assembly shuffles (doc, word-position, ids)
    * rows once and sorts only within each document's collected list —
    * bounded by document length, the same bound every per-doc window in
    * the engine rides.
    */
  def bpeEncodeIds(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      merges: Seq[BpeMerge],
      wordPattern: String = "^[a-z0-9]+$"): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeIds needs a trained merge table")
    val docWords = occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern))
    val alphabet = DriverRows.collect(docWords
        .select(explode(charSyms(col("word"))).as("ch")).distinct()
        .orderBy(col("ch")), MaxAlphabet, "bpeEncodeIds alphabet")
      .map(_.getString(0))
    val base = alphabet.zipWithIndex.map { case (c, i) => c -> i }
    val mergedIds = merges.map(m => (m.left + m.right) ->
      (alphabet.length + m.rank.toInt - 1))
    // first occurrence wins on a string collision (two merge paths can
    // produce the same symbol string; it is ONE symbol)
    val tokenIds = (base ++ mergedIds).foldLeft(Map.empty[String, Int]) {
      case (acc, (tok, tid)) => if (acc.contains(tok)) acc else acc + (tok -> tid)
    }
    val idMap = map(tokenIds.toSeq.sortBy(_._2).flatMap {
      case (tok, tid) => Seq(lit(tok), lit(tid))
    }: _*)
    val vocab = docWords.select(col("word")).distinct()
      .select(col("word"), transform(encodeSyms(col("word"), merges),
        s => element_at(idMap, s)).as("_ids"))
      .select(col("word"),
        concat_ws(" ", transform(col("_ids"), i => i.cast("string")))
          .as("_ids_str"),
        size(col("_ids")).as("_n_tok"))
    val positioned = docs
      .select(col(idCol).as("id"), posexplode(TextAnalysis.words(lower(col(textCol)))))
      .withColumnRenamed("pos", "_pos")
      .withColumnRenamed("col", "word")
      .filter(col("word").rlike(wordPattern))
    positioned.join(vocab, "word")
      .groupBy(col("id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_pos"), col("_ids_str")))),
          x => x("_ids_str"))).as("token_ids"),
        sum(col("_n_tok")).as("n_tokens"))
      .withColumnRenamed("id", idCol)
  }

  /** Interpolated BIGRAM language-model scoring — the step up from
    * [[unigramLogProbScore]] toward the KenLM-style filters CCNet-class
    * pipelines actually run: train bigram + unigram MLE counts on the
    * corpus itself, score every adjacent word pair by
    *
    *   -ln( lambda * c(prev,w)/c(prev,·) + (1-lambda) * c(w)/T )
    *
    * and report the per-document total. Trained on the very stream it
    * scores, every bigram has count >= 1, so the mixture is positive
    * and the expression total. Repetitive/templated text scores LOW
    * total surprise per bigram; incoherent word soup scores high.
    *
    * Output: (id, n_bigrams, total_nll) — the SUM, not the average:
    * dividing would force a double division before rounding, exactly
    * the boundary-disagreement trap [[QualityClassifier]] documents;
    * consumers divide the two exact columns themselves.
    *
    * Float parity: each distinct bigram's term rounds to 9 decimals and
    * enters a DECIMAL sum weighted by the occurrence count (narrowed to
    * DECIMAL(9,0) — see QualityClassifier on Spark's silent scale
    * shrink); the final total rounds to 4 ON THE DECIMAL, then casts.
    *
    * Plan shape for 100 TB: one positions explode; bigram occurrences
    * aggregate to (doc, prev, cur, cnt) with map-side combine; the
    * model tables are distinct-bigram- and vocabulary-sized aggregates
    * of the same stream; scoring is one equi-join on the bigram key
    * plus one doc-keyed sum. No iteration, no driver state.
    */
  def bigramLmScore(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, "lambda must be in (0,1)")
    val ws = TextAnalysis.words(lower(col(textCol)))
    val pairs = docs.select(col(idCol).as("id"), ws.as("_ws"))
      .filter(size(col("_ws")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(2), size(col("_ws"))),
        i => struct(element_at(col("_ws"), i - 1).as("prev"),
          element_at(col("_ws"), i).as("cur")))).as("_p"))
      .select(col("id"), col("_p.prev").as("prev"), col("_p.cur").as("cur"))
    val occ = occurrences(docs, textCol, idCol)
    val tf = pairs.groupBy(col("id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("_c"))
    // cb/cp derive from the tf AGGREGATE (one row per (doc, bigram)
    // already) instead of a second pairs explode — the bm25 discipline:
    // two corpus scans total (pairs + unigram occurrences), the
    // textbook minimum without caching.
    val cb = tf.groupBy(col("prev"), col("cur"))
      .agg(sum(col("_c")).as("_cb"))
    val cp = cb.groupBy(col("prev")).agg(sum(col("_cb")).as("_cp"))
    val cu = occ.groupBy(col("word")).agg(count(lit(1)).as("_cu"))
    val total = cu.agg(sum(col("_cu")).as("_t"))
    val model = cb.join(cp, "prev")
      .join(cu.withColumnRenamed("word", "cur"), "cur")
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"),
        round(-log(
          lit(lambda) * col("_cb").cast(DoubleType) / col("_cp").cast(DoubleType) +
          lit(1.0 - lambda) * col("_cu").cast(DoubleType) / col("_t").cast(DoubleType)), 9)
          .cast(DecimalType(28, 9)).as("_nll"))
    // SHUFFLE_HASH: both sides are bigram-vocabulary-scale, but size
    // ESTIMATES here run through two aggregates and a cross join, and
    // the planner was broadcasting the LARGER side (tf — the per-doc
    // bigram table, a strict superset of the model's distinct-bigram
    // rows). A shuffled hash join on the bigram key needs no sort, no
    // driver collect, and no full-table broadcast — the right strategy
    // at every scale for two same-order tables (guide §3.1).
    tf.join(model.hint("shuffle_hash"), Seq("prev", "cur"))
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_bigrams"),
        round(sum(col("_c").cast(DecimalType(9, 0)) * col("_nll")), 4)
          .cast(DoubleType).as("total_nll"))
      .withColumnRenamed("id", idCol)
  }

  /** Inverted index restricted to a document-frequency band: for each
    * term with minDf <= df <= maxDf, its df and the posting list of
    * document ids (sorted, comma-joined — a string so the artifact is
    * engine- and layout-portable).
    *
    * Two-pass on purpose: df is computed FIRST and the band filter
    * applied BEFORE any posting list materializes, so a stop word with
    * df = half the corpus never builds its (huge) posting list at all —
    * the same guard as [[Dedup.jaccardPairs]]'s stop-shingle cap. The
    * band join is a semi-join on the term; at web scale the surviving
    * term set is small enough to broadcast.
    */
  def invertedIndex(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minDf: Int,
      maxDf: Int): DataFrame = {
    val docWords = occurrences(docs, textCol, idCol)
      .select(col("id"), col("word")).distinct()
    val banded = docWords.groupBy(col("word"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    docWords.join(broadcast(banded), "word")
      .groupBy(col("word"), col("df"))
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("id"))),
          i => i.cast("string"))).as("postings"))
      .select(col("word"), col("df"), col("postings"))
  }

  /** Pointwise mutual information over sliding-window word
    * co-occurrence (Church & Hanks 1990) — the distributional word
    * -association statistic feeding embedding-free similarity, collocation
    * detection, and PPMI-SVD word vectors. A pair (w1, w2) is one
    * co-occurrence whenever w2 follows w1 within `maxDist` positions;
    * PMI = ln(p(w1,w2) / (p(w1) p(w2))) with pair probabilities over
    * the emitted-pair total and unigram probabilities over the token
    * total.
    *
    * Scale shape: the pair stream comes from `maxDist` LEAD columns
    * over one per-document window (linear in corpus size — never the
    * per-document position self-join, whose doc-sized cross products
    * melt down on long documents). Counts collapse to vocabulary- and
    * pair-vocabulary-scale aggregates; the two 1-row totals broadcast.
    * The vocabulary join is left to the planner (broadcast when small,
    * shuffle when genuinely large — a 10M-word vocab should not be
    * forced driver-side).
    *
    * Float parity: all counts stay integer; PMI is ONE fixed double
    * expression — ln((n_pair·T·T) / (Np·n1·n2)) evaluated
    * left-to-right in double — rounded to 6 decimals on both engines.
    */
  /** Positional surface-form tokens — shared by [[pmiCooccur]],
    * [[textrankKeywords]], and [[phraseSearch]]. DELIBERATELY
    * case-sensitive, unlike [[words]] (which lowercases for the
    * TF-IDF/BM25 family): co-occurrence graphs and phrase positions are
    * surface-form semantics, and each gate's oracle replays exactly
    * this tokenization. Callers wanting case-folded graphs lower() the
    * text column first.
    */
  private def surfaceTokens(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)

  /** The maxDist lead-window co-occurrence pair stream over
    * [[surfaceTokens]] — ONE per-document window with `maxDist` LEAD
    * columns (linear in corpus size; never the per-document position
    * self-join). The single definition [[pmiCooccur]] and
    * [[textrankKeywords]] both build their graphs from, so the
    * parity-sensitive pair semantics cannot drift between them.
    */
  private def leadWindowPairs(toks: DataFrame, maxDist: Int): DataFrame = {
    val wd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val withLeads = toks.select(col("w").as("w1") +:
      (1 to maxDist).map(k => lead(col("w"), k).over(wd).as(s"_n$k")): _*)
    (1 to maxDist).map(k =>
        withLeads.filter(col(s"_n$k").isNotNull)
          .select(col("w1"), col(s"_n$k").as("w2")))
      .reduce(_ unionAll _)
  }

  def pmiCooccur(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 2, minPairCount: Long = 5): DataFrame = {
    val toks = surfaceTokens(docs, textCol, idCol)
    val pairs = leadWindowPairs(toks, maxDist)
    val pairCounts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val tTokens = uni.agg(sum(col("n_w")).as("t_tokens"))
    val tPairs = pairCounts.agg(sum(col("n_pair")).as("t_pairs"))
    pairCounts.filter(col("n_pair") >= minPairCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(tTokens))
      .crossJoin(broadcast(tPairs))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"),
        round(log(
          (col("n_pair").cast(DoubleType) * col("t_tokens") * col("t_tokens")) /
          (col("t_pairs").cast(DoubleType) * col("n_w1") * col("n_w2"))),
          6).as("pmi"))
  }

  /** Positional-index phrase search — the exact-phrase query a lexical
    * engine answers from word positions (Lucene's phrase query): a doc
    * matches at position p when phrase word i sits at p+i for every i.
    * Output: (id, n_hits) per matching document, n_hits = occurrence
    * count (overlapping matches each count).
    *
    * Plan shape: each phrase word's posting list is a FILTERED slice
    * of the (id, pos, word) occurrence stream — selectivity lands
    * before any join — and the match is a chain of (id, pos−i)
    * equi-joins between those slices: posting-list intersection, cost
    * bounded by the RAREST word's postings, never a corpus scan per
    * word (the occurrence stream is one scan feeding all slices).
    * The oracle answers the same question from the SHINGLE table
    * (window = phrase → count) — an independent formulation, so the
    * position arithmetic is checked, not replayed.
    */
  def phraseSearch(docs: DataFrame, textCol: String, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phraseSearch needs at least two words")
    val toks = surfaceTokens(docs, textCol, idCol)
    val first = toks.filter(col("w") === phrase.head)
      .select(col("id"), col("pos"))
    phrase.zipWithIndex.tail
      .foldLeft(first) { case (acc, (w, i)) =>
        acc.join(toks.filter(col("w") === w)
          .select(col("id"), (col("pos") - i).as("pos")), Seq("id", "pos"))
      }
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): rank words by
    * PageRank over the co-occurrence graph — a word is important when
    * important words co-occur with it. The graph-centrality keyword
    * signal is embedding-free and unsupervised, the standard corpus
    * -level companion to TF-IDF's per-document term weights.
    *
    * Graph construction: the [[pmiCooccur]] sliding-window pair stream
    * (`maxDist` LEAD columns over one per-doc window — linear, never
    * the position self-join), collapsed to pair counts, thresholded at
    * `minPairCount` (prunes the long tail BEFORE the graph
    * materializes — the df-banding discipline), self-loops dropped,
    * then symmetrized (TextRank's graph is undirected; each surviving
    * pair contributes both directions) and deduplicated. PageRank runs
    * [[LinkGraph.pageRank]]'s fixed `iters` with IEEE-replayable
    * constants; top-`k` is a TakeOrdered over the vocabulary-sized rank
    * table, row_number after the limit.
    *
    * Scale shape: corpus-sized work is exactly the one lead-window
    * pass; everything after lives at (pair-)vocabulary scale, and each
    * PageRank iteration is one keyed edge-join + aggregate
    * ([[LinkGraph.pageRank]]'s argument). Ordering ties break on the
    * word, and the ORDER BY runs on the ROUNDED rank, so top-k
    * membership is engine-stable.
    */
  def textrankKeywords(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 2, minPairCount: Long = 5, iters: Int = 5,
      k: Int = 20): DataFrame = {
    val pairs = leadWindowPairs(surfaceTokens(docs, textCol, idCol), maxDist)
    val frequent = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount && col("w1") =!= col("w2"))
    val edges = frequent.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(frequent.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
    LinkGraph.pageRank(edges, "src", "dst", iters = iters)
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .withColumn("kw_rank", row_number().over(
        Window.orderBy(col("rank").desc, col("node"))))
      .withColumnRenamed("node", "keyword")
      .orderBy(col("kw_rank"))
  }

  /** One entry of a trained unigram-LM vocabulary: the piece, its final
    * Viterbi-E-step corpus count, and its 10^6-scaled floor-rounded log
    * probability over the pruned vocabulary.
    */
  case class UnigramPiece(piece: String, n_chars: Int, cnt: Long, logp_scaled: Long)

  /** SentencePiece-STYLE unigram-LM tokenizer trainer (Kudo 2018,
    * arXiv:1804.10959) beside [[trainBpe]] — the r12 verdict item 5
    * machinery, in the hard-EM (Viterbi) variant every statistic of
    * which an external engine can replay exactly:
    *
    *  1. SEED — the corpus collapses ONCE to (word, freq) (words
    *     matching `wordPattern`, length <= `maxWordLen` — the trainer's
    *     candidate cap, like SentencePiece's max sentencepiece length);
    *     candidate pieces are every substring of length 1..`maxPieceLen`
    *     weighted by word frequency (overlapping occurrences counted);
    *     the seed vocabulary keeps ALL single characters (so every word
    *     stays segmentable) plus the top `seedMulti` multi-character
    *     pieces by (count DESC, piece ASC).
    *  2. EM x `emRounds` — E: every word takes its VITERBI-best
    *     segmentation under the current model via the native integer DP
    *     ([[graft.functions.UnigramSegment]] — scores are sums of
    *     10^6-scaled long log-probs, argmax ties broken toward the
    *     longer piece, both total orders an oracle can replay); piece
    *     counts are frequency-weighted uses. M: log P(p) =
    *     floor(ln((cnt+1)/(total+V)) * 1e6) with add-one smoothing over
    *     the FIXED seed vocabulary (probabilities move, the piece set
    *     does not — pruning happens once, at the end).
    *  3. PRUNE — keep single characters plus the top `keepMulti` multi
    *     pieces by final E-step count (ties on the piece string), then
    *     renormalize over the kept set.
    *
    * floor (not round) for the scaled log-probs on purpose: floor of a
    * double is the identical operation in every engine, so the gate
    * never hinges on round-half tie behavior.
    *
    * Plan shape for 100 TB: the corpus is touched once (the word-freq
    * aggregate); every EM iteration runs on the VOCABULARY-scale word
    * table with the bounded piece model broadcast by closure, and the
    * only driver state is the piece table itself (seed + counts
    * collects are bounded by `seedMulti` + the alphabet, the same
    * budget class as [[trainBpe]]'s 1-row argmax per merge).
    */
  def trainUnigram(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      seedMulti: Int = 96,
      keepMulti: Int = 40,
      emRounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12,
      wordPattern: String = "^[a-z0-9]+$"): Seq[UnigramPiece] = {
    require(emRounds >= 1 && seedMulti >= keepMulti)
    val w0 = occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern) && length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .localCheckpoint() // loop: the word table every EM round reads
    // seed counts: one substring explode, (piece)-keyed aggregate
    val subArrs = (1 to maxPieceLen).map { l =>
      when(length(col("word")) >= l,
        transform(sequence(lit(1), length(col("word")) - (l - 1)),
          i => col("word").substr(i, lit(l))))
        .otherwise(array().cast("array<string>"))
    }
    val seedCnt = w0.select(col("freq"), explode(flatten(array(subArrs: _*))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      // reuse: two collects read the seed counts (q_unigram_tokenizer
      // run 1, a standing build: 1.14 s pinned vs 1.21 s unpinned, medians)
      .localCheckpoint()
    val chars = DriverRows.collect(seedCnt.filter(length(col("piece")) === 1),
        MaxAlphabet, "trainUnigram single-character pieces")
      .map(r => r.getString(0) -> r.getLong(1))
    val multi = seedCnt.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(seedMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val seed: Seq[(String, Long)] = (chars ++ multi).toSeq
    def floorLp(num: Double, den: Double): Long =
      math.floor(math.log(num / den) * 1e6).toLong
    val total0 = seed.map(_._2).sum
    var lp: Map[String, Long] =
      seed.map { case (p, c) => p -> floorLp(c.toDouble, total0.toDouble) }.toMap
    val vSize = seed.size
    var lastCnt: Map[String, Long] = Map.empty
    for (_ <- 1 to emRounds) {
      val (ps, ls) = lp.toSeq.sortBy(_._1).unzip
      val segExpr = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.UnigramSegment(
          org.apache.spark.sql.GraftSqlBridge.expression(col("word")), ps, ls, maxPieceLen))
      // the segmenter emits seed pieces only
      val counts = DriverRows.collect(
          w0.select(col("freq"), explode(segExpr).as("piece"))
            .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")),
          vSize, "trainUnigram piece counts (the seed vocabulary)")
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      lastCnt = seed.map { case (p, _) => p -> counts.getOrElse(p, 0L) }.toMap
      val totalR = lastCnt.valuesIterator.sum
      lp = seed.map { case (p, _) =>
        p -> floorLp(lastCnt(p) + 1.0, (totalR + vSize).toDouble)
      }.toMap
    }
    val keptChars = chars.map { case (p, _) => p -> lastCnt(p) }
    val keptMulti = multi.map { case (p, _) => p -> lastCnt(p) }
      .sortBy { case (p, c) => (-c, p) }.take(keepMulti)
    val kept = keptChars ++ keptMulti
    val totalK = kept.map(_._2).sum
    kept.map { case (p, c) =>
      UnigramPiece(p, p.length, c,
        floorLp(c + 1.0, (totalK + kept.size).toDouble))
    }.sortBy(u => (-u.cnt, u.piece)).toSeq
  }

  /** ENCODE with a trained unigram vocabulary — the [[bpeTokenCounts]]
    * twin: per-document trainable-word and unigram-token counts. The
    * piece table is closure-broadcast into the native DP expression;
    * segmentation runs once per DISTINCT word, never per occurrence.
    */
  def unigramTokenCounts(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      model: Seq[UnigramPiece],
      wordPattern: String = "^[a-z0-9]+$"): DataFrame = {
    require(model.nonEmpty, "unigramTokenCounts needs a trained model")
    // the DP's piece-length cap DERIVES from the model (max n_chars):
    // an independent caller-supplied cap smaller than the longest
    // trained piece would silently make those pieces unreachable and
    // change every segmentation with no error
    val maxPieceLen = model.map(_.n_chars).max
    val docWords = occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern))
    val tfd = docWords.groupBy(col("id"), col("word"))
      .agg(count(lit(1)).as("_c"))
    val segExpr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.UnigramSegment(
        org.apache.spark.sql.GraftSqlBridge.expression(col("word")),
        model.map(_.piece), model.map(_.logp_scaled), maxPieceLen))
    val vocab = docWords.select(col("word")).distinct()
      .select(col("word"), size(segExpr).as("_n_tok"))
    tfd.join(vocab, "word")
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_words"),
        sum(col("_c") * col("_n_tok")).as("n_tokens"))
      .withColumnRenamed("id", idCol)
  }
}
