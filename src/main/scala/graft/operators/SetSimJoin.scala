package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Exact set-similarity self-join with prefix filtering (the AllPairs /
  * PPJoin family, Bayardo et al. WWW 2007; Xiao et al. WWW 2008):
  * every document pair whose token-set Jaccard similarity reaches a
  * threshold, WITHOUT the all-pairs comparison — the exact complement
  * to the MinHash-LSH path in [[Dedup]] (which trades recall for
  * speed) and to [[Dedup.jaccardPairs]] (which buys scale by dropping
  * stop-shingles above a df cap, changing the metric's universe; the
  * prefix filter needs NO cap and the metric stays the true Jaccard).
  *
  * Why it scales: order each document's tokens by ascending global
  * document frequency (rarest first, ties on the token string — any
  * one total order shared by all sets works). For Jaccard >= t the
  * overlap must reach ceil(t*|x|) for BOTH sets, and by the prefix
  * -filtering lemma two qualifying sets must then share a token inside
  * their first |x| - ceil(t*|x|) + 1 tokens. So only PREFIX tokens —
  * the rarest sliver of each document — generate candidates via a
  * plain equi-join, and rare tokens by construction have small df, so
  * the candidate count is the sum over prefix tokens of df_prefix^2
  * with df_prefix small: sub-quadratic on real (Zipfian) corpora even
  * though stop-tokens keep their full df. A length filter
  * (min(|a|,|b|) >= t * max(|a|,|b|), a Jaccard necessary condition)
  * prunes candidates before the verify join ever sees them. Exact
  * verification then runs on candidate pairs only: one equi-join back
  * through the (id, token) table per side, one count — O(pairs * doc
  * length), never O(n^2).
  *
  * Every stage is relational: two vocabulary-scale aggregates (df,
  * sizes), one doc-length-bounded window for per-doc token rank, one
  * prefix equi-join, one pairs-bounded verify join. No driver state,
  * no UDFs; the plan shuffles on token and pair keys only.
  *
  * The independent oracle runs the textbook shared-token formulation
  * (join every token occurrence against every token occurrence, group
  * by pair) with no prefix filter at all — if the filter ever dropped
  * a qualifying pair, the gate goes red. The spec additionally
  * re-proves losslessness against a brute-force differential on seeded
  * random sets where most pairs are near the threshold.
  */
object SetSimJoin {

  /** The STOP-TOKEN cap for vocabulary-saturated corpora: tokens whose
    * document frequency exceeds `maxDf` leave the universe BEFORE sizes
    * and prefixes are computed, so both sides of every pair see the same
    * reduced token sets and the metric stays a true Jaccard over the
    * retained universe (the [[Dedup.jaccardPairs]] maxDf trade, applied
    * to the prefix-filter join). Why it exists: AllPairs candidate
    * volume is sum over prefix tokens of df^2 — sub-quadratic on Zipfian
    * corpora where rare-token df stays ~constant, but QUADRATIC when the
    * vocabulary saturates and every token's df grows with the corpus
    * (measured: the uncapped gate went 107x for 10x data on the
    * fixed-32-word synthetic at sf1, SCALE.md rehearsal). The cap
    * bounds per-token fan-out by construction: candidate volume
    * <= maxDf * retained-token-occurrences — linear in the corpus at
    * fixed maxDf. A document whose every token is capped away drops
    * out (it has no retained set to compare). `tokens` is a distinct
    * (id, w) table and is read twice (the df aggregate and its join).
    */
  def capTokens(tokens: DataFrame, maxDf: Int): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val kept = tokens.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("w")
    tokens.join(kept, "w").select("id", "w")
  }

  /** The BUILD half of the join: the (id, w, n, pos) prefix
    * table for a threshold — per-doc token rank in the global
    * (df asc, token) order, truncated to the prefix-filtering bound.
    * A deployment persists this with the (id, token) table (both are
    * per-dataset build products keyed by the threshold) and pays only
    * [[selfJoinFromPrefix]] per run.
    */
  def prefixTable(words: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tokenDf = words.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val sizes = words.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // Per-doc rank in the global (df asc, token) order. The window is
    // keyed by doc — its state is bounded by document LENGTH, never by
    // corpus size; no global rank is ever materialized.
    val pos = Window.partitionBy(col("id")).orderBy(col("df"), col("w"))
    words
      .join(tokenDf, "w")
      .withColumn("pos", row_number().over(pos))
      .join(sizes, "id")
      // 1e-9 slack INSIDE the ceil (the alpha discipline below): the
      // double product n*t over-rounds above the true value at exact
      // boundaries (IEEE: 100*0.07 = 7.000000000000001, ceil -> 8
      // instead of 7), which would SHORTEN the prefix and silently drop
      // qualifying pairs; the slack can only lengthen the prefix —
      // strictly conservative, verify stays exact.
      .filter(col("pos") <=
        col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)).cast(LongType) + 1)
      .select(col("id"), col("w"), col("n"), col("pos"))
  }

  /** The QUERY half of the join: all pairs (id_a < id_b) of token sets
    * at Jaccard >= `threshold` — candidate generation + exact verify
    * over already-built (id, w) and [[prefixTable]] tables. `words`
    * must be a distinct (id, w) table — one row per document token.
    * Output: (id_a, id_b, n_inter, jaccard).
    */
  def selfJoinFromPrefix(words: DataFrame, prefix: DataFrame,
      threshold: Double): DataFrame = {
    // PPJoin positional filter (Xiao et al. 2008): a qualifying pair
    // needs overlap >= alpha = ceil(t/(1+t) * (|a|+|b|)), and a match
    // on prefix positions (pa, pb) can grow to at most
    // 1 + min(|a|-pa, |b|-pb) further overlap (both docs are ordered
    // by the SAME global (df, token) order, so everything shared sits
    // at or after the matched positions). Candidates failing the bound
    // are provably below threshold — dropped BEFORE the distinct and
    // the verify expansion ever see them. The bound kills exactly the
    // candidate mass that hurts: matches on the COMMON tokens at the
    // tail of long prefixes, where df (and thus pair fan-out) is
    // largest. Losslessness: for a qualifying pair, its FIRST shared
    // token in the global order has all shared tokens at or after its
    // positions, so that candidate row's bound >= the true overlap
    // >= alpha and the row survives. The 1e-9 slack makes the double
    // rounding of t/(1+t) strictly conservative (can only keep more).
    val alpha = ceil((col("a.n") + col("b.n")).cast(DoubleType) *
      lit(threshold / (1.0 + threshold)) - lit(1e-9))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      // same 1e-9 slack as alpha/prefix: max*t over-rounds at exact
      // boundaries (7 >= 100*0.07 is FALSE in doubles) and would drop a
      // qualifying pair before the exact verify ever sees it
      .filter(least(col("a.n"), col("b.n")).cast(DoubleType) >=
        greatest(col("a.n"), col("b.n")) * lit(threshold) - lit(1e-9))
      .filter(lit(1) + least(col("a.n") - col("a.pos"),
        col("b.n") - col("b.pos")) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
    val inter = cands
      .join(words.select(col("id").as("id_a"), col("w")), Seq("id_a"))
      .join(words.select(col("id").as("id_b"), col("w")), Seq("id_b", "w"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("jaccard", col("n_inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }
}
