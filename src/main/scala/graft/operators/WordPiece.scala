package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — trainer and encoder (Schuster & Nakajima 2012,
  * "Japanese and Korean voice search"; the BERT tokenizer of Devlin et
  * al. 2019). Completes the repo's tokenizer triad beside the BPE
  * ([[TermIndex.trainBpe]]) and unigram-LM ([[TermIndex.trainUnigram]])
  * trainers — the three published subword families a training-data
  * pipeline chooses between.
  *
  * WordPiece differs from BPE in exactly two published ways, both
  * implemented here:
  *
  *  1. TRAINING picks the merge maximizing the LIKELIHOOD ratio
  *     count(lr) / (count(l) * count(r)) — "choose the new word unit
  *     that increases the likelihood of the training data the most" —
  *     not the raw pair count. Scores are exact integers:
  *     (pair_count * 10^9) div (count(l) * count(r)), so the per-round
  *     argmax (score DESC, left, right) is a total order any engine
  *     replays bit-identically.
  *  2. ENCODING is greedy longest-match-first (MaxMatch) against the
  *     final vocabulary ([[graft.functions.WordPieceSegment]]), NOT a
  *     replay of the merge history; continuation pieces carry the
  *     '##' prefix and an unmatchable word becomes the single `[UNK]`
  *     token.
  *
  * Plan shape for 100 TB (the [[TermIndex.trainBpe]] argument): the
  * corpus collapses to the (word, freq) VOCABULARY in one scan; every
  * training iteration is vocabulary-scale — a symbol-count aggregate, a
  * pair-count aggregate, a 1-row argmax collect, and a fold-per-word
  * merge application. Encoding segments each DISTINCT word once with
  * the vocabulary broadcast by closure, then joins the per-word width
  * back onto the reduced (doc, word, count) stream.
  */
object WordPiece {

  /** 10^9 score scale: merge scores are
    * (pair_count * Scale) div (count(l) * count(r)). Integer division
    * in both engines (Spark `div`, DuckDB `//`) — identical floors,
    * zero float drift. The numerator and the count(l)*count(r) product
    * are computed in DECIMAL (19,0 operands — exact for any Long), so
    * neither can overflow for any corpus whose individual counts fit a
    * Long: DECIMAL(19,0)*DECIMAL(19,0) holds (9.2e18)^2 < 10^38
    * exactly, and the floored quotient is <= Scale (pair_count <=
    * count(l)), so the Long `score_scaled` never overflows either.
    */
  val Scale = 1000000000L

  /** Word characters as WordPiece symbols: first character plain, every
    * later character '##'-prefixed. The invariant every merge
    * preserves: a symbol is word-initial iff it has no '##' prefix.
    */
  private def wpSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)),
      i => when(i === 1, word.substr(i, lit(1)))
        .otherwise(concat(lit("##"), word.substr(i, lit(1)))))

  /** One learned merge: `rank` is the training iteration (1-based),
    * `pair_count` the corpus-wide adjacent count, `score_scaled` the
    * integer likelihood score that made (left, right) the argmax.
    */
  case class WpMerge(rank: Long, left: String, right: String,
      pair_count: Long, score_scaled: Long)

  /** A trained model: the base alphabet (every symbol of the initial
    * corpus vocabulary, '##'-prefixed where continuation) plus the
    * merge table in training order. [[vocab]] is what MaxMatch encodes
    * against.
    */
  case class WpModel(alphabet: Seq[String], merges: Seq[WpMerge]) {
    def vocab: Seq[String] =
      alphabet ++ merges.map(m => m.left + m.right.stripPrefix("##"))
  }

  /** WORDPIECE TRAINER: iterate the likelihood-scored argmax merge for
    * `numMerges` rounds over the words matching `wordPattern` (the BPE
    * trainer's pre-tokenizer hygiene — and it keeps '#' and brackets
    * out of the raw alphabet, so the '##' prefix and an external
    * oracle's bracket encoding stay unambiguous).
    *
    * Each round recounts symbols AND pairs from the current vocabulary
    * (both are freq-weighted vocabulary-scale aggregates), scores every
    * adjacent pair (pair_count * [[Scale]]) div (cl * cr), and merges
    * the (score DESC, left, right) argmax everywhere. Returns the
    * alphabet + merge table; training stops early if no pair remains.
    */
  def trainWordPiece(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numMerges: Int,
      wordPattern: String = "^[a-z0-9]+$"): WpModel = {
    require(numMerges >= 1, "trainWordPiece needs at least one merge")
    var vocab = TermIndex.occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern))
      .groupBy(col("word")).agg(count(lit(1)).as("_freq"))
      .select(wpSyms(col("word")).as("syms"), col("_freq"))
      .localCheckpoint() // loop: the starting vocabulary every merge reads
    val alphabet = DriverRows.collect(vocab
        .select(explode(col("syms")).as("s")).distinct()
        .orderBy(col("s")), TermIndex.MaxAlphabet, "trainWordPiece alphabet")
      .map(_.getString(0)).toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var i = 1
    var exhausted = false
    while (i <= numMerges && !exhausted) {
      val symCnt = vocab
        .select(explode(col("syms")).as("s"), col("_freq"))
        .groupBy(col("s")).agg(sum(col("_freq")).as("cnt"))
      val top = TermIndex.pairCounts(vocab)
        .join(symCnt.select(col("s").as("l"), col("cnt").as("lcnt")), "l")
        .join(symCnt.select(col("s").as("r"), col("cnt").as("rcnt")), "r")
        .select(col("l"), col("r"), col("cnt"),
          // DECIMAL(19,0) operands: exact for any Long input, and the
          // product precision (38,0) holds Long*Long exactly — no ANSI
          // overflow throw, no non-ANSI silent wrap, for any corpus.
          expr(s"(CAST(cnt AS DECIMAL(19,0)) * ${Scale}L) div " +
            "(CAST(lcnt AS DECIMAL(19,0)) * CAST(rcnt AS DECIMAL(19,0)))")
            .as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt, score) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2), top(0).getLong(3))
        merges += WpMerge(i.toLong, l, r, cnt, score)
        val m = l + r.stripPrefix("##")
        // the BPE merge fold, with the WordPiece join rule: merged token
        // = left ++ right-without-'##'
        vocab = vocab
          .select(TermIndex.applyMerge(col("syms"), lit(l), lit(r), lit(m))
            .as("syms"), col("_freq"))
        if (i % 3 == 0) vocab = vocab.localCheckpoint() // loop: lineage cut
        i += 1
      }
    }
    WpModel(alphabet, merges.toSeq)
  }

  /** ENCODE with a trained model — the [[TermIndex.bpeTokenCounts]]
    * twin: per-document counts over the words matching `wordPattern`
    * with length <= `maxWordLen` (the oracle's unrolled-MaxMatch
    * bound). Output: (idCol, n_words, n_tokens, n_unk) where an
    * unmatchable word bills 1 `[UNK]` token and 1 unk.
    *
    * The vocabulary is closure-broadcast into the native MaxMatch
    * expression; segmentation runs once per DISTINCT word.
    */
  def wordPieceTokenCounts(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      model: WpModel,
      maxWordLen: Int = 12,
      wordPattern: String = "^[a-z0-9]+$"): DataFrame = {
    require(model.alphabet.nonEmpty, "wordPieceTokenCounts needs a trained model")
    val docWords = TermIndex.occurrences(docs, textCol, idCol)
      .filter(col("word").rlike(wordPattern) &&
        length(col("word")) <= maxWordLen)
    val tfd = docWords.groupBy(col("id"), col("word"))
      .agg(count(lit(1)).as("_c"))
    val segExpr = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WordPieceSegment(
        org.apache.spark.sql.GraftSqlBridge.expression(col("word")),
        model.vocab))
    val unkArr = array(lit(graft.functions.WordPieceSegmentUtil.Unk))
    val wordTok = docWords.select(col("word")).distinct()
      .select(col("word"), segExpr.as("_segs"))
      .select(col("word"), size(col("_segs")).as("_n_tok"),
        (col("_segs") === unkArr).cast("long").as("_unk"))
    tfd.join(wordTok, "word")
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_words"),
        sum(col("_c") * col("_n_tok")).as("n_tokens"),
        sum(col("_c") * col("_unk")).as("n_unk"))
      .withColumnRenamed("id", idCol)
  }
}
