package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Model-based quality filtering — the classifier step real LLM data
  * pipelines run between heuristics and training (GPT-3's curated-vs-
  * crawl logistic filter, LLaMA's Wikipedia-reference classifier,
  * CCNet's LM-based cousin): train a multinomial Naive Bayes model on
  * weakly-labeled documents (a deterministic positive-class predicate —
  * e.g. "comes from a curated source"), then score EVERY document by
  * its token log-likelihood ratio. Documents that look like the
  * positive class float up; boilerplate and junk sink.
  *
  * Naive Bayes rather than logistic regression on purpose: its MLE is
  * CLOSED-FORM over integer count aggregates (no iterative fitting), so
  * the whole train+score pipeline is two aggregates and a join — and an
  * external engine can replay it bit-for-bit, which makes the filter
  * auditable (the repo's float-parity discipline: per-term
  * contributions round to 9 decimals and sum as DECIMAL, exact and
  * order-insensitive; the final score rounds to 4).
  *
  * Model (add-one smoothing, V = corpus distinct-word count):
  *   P(w|c) = (count(w,c) + 1) / (tokens_c + V)
  *   score(d) = sum_w tf(d,w) * [ln P(w|pos) - ln P(w|neg)]
  *              + ln(n_pos_docs) - ln(n_neg_docs)
  *   pred     = score > 0
  *
  * Plan shape for 100 TB: ONE corpus explode feeds a (doc, word, tf)
  * aggregate that serves BOTH training and scoring — the word-class
  * count table and the per-word log-likelihood-ratio table are
  * vocabulary-sized aggregates of it; scoring is one equi-join of the
  * tf table against the ratio table on the word key and one doc-keyed
  * sum. Totals and priors travel as 1-row broadcast cross joins. No
  * iteration, no driver-side model state.
  */
object QualityClassifier {

  /** Train on `posLabel` (a boolean Column over `docs`) and score every
    * document: (id, score, pred). Rounding: 9-decimal per-word LLR,
    * DECIMAL sum, 4-decimal final score; `pred` derives from the
    * ROUNDED score so any replaying engine agrees at the boundary.
    */
  def nbScore(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      posLabel: Column): DataFrame = {
    val base = docs.select(col(idCol).as("id"), posLabel.as("_pos"),
      TextAnalysis.words(lower(col(textCol))).as("_ws"))
    // reuse: tf feeds BOTH the training aggregates and the scoring
    // join — without pinning it, Spark recomputes the corpus explode +
    // (id, word) aggregate once per consumer (the single-explode claim
    // in the class doc would otherwise be false at exactly the corpus
    // scale it targets). q_quality_classifier: 0.88 s pinned vs 0.94 s
    // unpinned at sf0.1 (warm medians, 3 JVMs a side)
    val tf = base
      .select(col("id"), col("_pos"), explode(col("_ws")).as("word"))
      .groupBy(col("id"), col("_pos"), col("word"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint() // reuse: training and scoring read tf
    val wc = tf.groupBy(col("word")).agg(
      coalesce(sum(when(col("_pos"), col("_c"))), lit(0L)).as("_n_pos"),
      coalesce(sum(when(!col("_pos"), col("_c"))), lit(0L)).as("_n_neg"))
    val totals = wc.agg(
      sum(col("_n_pos")).as("_t_pos"),
      sum(col("_n_neg")).as("_t_neg"),
      count(lit(1)).as("_v"))
    val priors = base.agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_d_pos"),
      sum(when(!col("_pos"), 1L).otherwise(0L)).as("_d_neg"))
    val llr = wc.crossJoin(broadcast(totals))
      .select(col("word"),
        round(
          log((col("_n_pos") + 1).cast(DoubleType) /
            (col("_t_pos") + col("_v")).cast(DoubleType)) -
          log((col("_n_neg") + 1).cast(DoubleType) /
            (col("_t_neg") + col("_v")).cast(DoubleType)), 9)
          .cast(DecimalType(28, 9)).as("_w_llr"))
    // a weak-label predicate matching NO documents (or all of them) is
    // a misconfiguration: log(0) would silently null every score and
    // pred — fail loud at scoring time instead
    val priorLlr = when(col("_d_pos") === 0 || col("_d_neg") === 0,
        raise_error(lit("nbScore: a class is empty — the posLabel " +
          "predicate must match some but not all documents"))
          .cast(DecimalType(28, 9)))
      .otherwise(round(
        log(col("_d_pos").cast(DoubleType)) -
        log(col("_d_neg").cast(DoubleType)), 9).cast(DecimalType(28, 9)))
    // broadcast the VOCABULARY-sized ratio table into the scoring join:
    // left to its estimates the planner broadcast the other side — the
    // corpus-scale checkpointed tf (UnknownPartitioning stats read as
    // small) — which collects the corpus to the driver at exactly the
    // scale where that stops working (r18 plan audit; §3.1 broadcast
    // the side that fits: llr is bounded by the smoothed vocabulary).
    val sums = tf.join(broadcast(llr), "word")
      .groupBy(col("id"))
      // _c narrows to DECIMAL(9,0) first: long x DECIMAL(28,9) needs
      // precision 49, which Spark caps at 38 by SHRINKING THE SCALE to
      // 6 — silently rounding every product. (9,0) x (28,9) fits at
      // (38,9), so the sum stays exact; the oracle mirrors the cast.
      .agg(sum(col("_c").cast(DecimalType(9, 0)) * col("_w_llr")).as("_s"))
    // EVERY document gets a verdict: a zero-word doc (empty/whitespace
    // text) has no tf rows and would vanish from the aggregate — for a
    // quality filter those are exactly the rows that must be classified;
    // their correct score is the prior LLR alone (an empty word sum).
    base.select(col("id")).join(sums, Seq("id"), "left")
      .crossJoin(broadcast(priors))
      // round the EXACT decimal, cast to double after: rounding a
      // decimal at scale 4 is the same half-away-from-zero operation in
      // every engine, whereas rounding the double would disagree
      // whenever the exact sum sits on a half-way boundary (measured:
      // 8/500 docs at sf0.01).
      .select(col("id"),
        round(coalesce(col("_s"), lit(0).cast(DecimalType(38, 9))) +
          priorLlr, 4).cast(DoubleType).as("score"))
      .withColumn("pred", col("score") > 0)
      .withColumnRenamed("id", idCol)
  }
}
