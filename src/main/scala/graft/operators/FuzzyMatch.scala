package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy entity matching by SymSpell-style deletion-neighborhood
  * blocking (Garbe's symmetric-delete algorithm, public domain): two
  * strings within Levenshtein distance 1 MUST share a member of each
  * other's delete-1 neighborhood `D(x) = {x} ∪ {x minus one char}` —
  * substitution at i: delete i from both; insert/delete: delete the
  * extra char from the longer string; equality: x itself. The converse
  * does not hold ("ab"/"ba" share "b" at distance 2), so shared-variant
  * pairs are CANDIDATES verified with an exact `levenshtein` — blocking
  * is lossless (full recall), verification restores precision.
  *
  * The reference (rnjane/client_data_ingester) matches products only by
  * exact `(sku, client_id)` (ingestion/service.py:92-94) and ILIKE
  * substring search (web/api/products.py:49-54); fuzzy linkage of noisy
  * names is the engine-provided extension of that surface.
  *
  * Scale shape (the 100 TB argument): variants are O(len) per distinct
  * name, generated with `transform(sequence(...))` — no UDF, stays in
  * codegen; candidates come from an equi-join on the variant string, so
  * the cost is Σ bucket², bounded by the near-duplicate degree of the
  * dictionary, never all-pairs; the exact verify runs on candidates
  * only, O(pairs). A pathological hot variant (millions of names one
  * delete apart) is a data property, cappable with the same df-cap
  * technique the LSH dedup path uses (Dedup.scala stop-shingles);
  * dictionaries at crawl scale stay far below it.
  */
object FuzzyMatch {

  /** 64-bit hashes of `name` plus every delete-one-character variant,
    * deduplicated (doubled letters collapse), as an array column — pure
    * higher-order expression, codegen-friendly. Hashing INSIDE the
    * generator means the exploded/shuffled variant rows carry an 8-byte
    * long instead of the variant string (measured ~3x on the variant
    * join); a 64-bit collision can only ADD a candidate pair, which the
    * exact levenshtein verify then discards — recall is untouched.
    */
  private val delete1Hashes =
    expr("""array_distinct(transform(concat(array(name),
           |  transform(sequence(1, length(name)),
           |    i -> concat(substr(name, 1, i - 1),
           |                substr(name, i + 1, length(name))))),
           |  s -> xxhash64(s)))""".stripMargin)

  /** Variant table of one dataframe of names: (name, variant-hash).
    *
    * NOT pinned (r18 measurement): the r17 round checkpointed the
    * distinct dictionary on the theory that both self-join sides replay
    * the caller's upstream build, but the interleaved same-JVM A/B on
    * the full q_fuzzy_match dictionary (OPTIMIZATION_r18.md) measured the
    * UNPINNED form consistently faster warm (1.21-1.45 s vs 1.32-1.51 s
    * pinned, 3/3 warm reps) — the duplicated subtrees' exchanges
    * canonicalize identically and AQE stage reuse serves both join
    * sides from one shuffle, so the checkpoint only added its own
    * materialization job. The pin's one win was the COLD first run
    * (2.4 s vs 6.8 s, mostly codegen of the wider plan), which the
    * bench warmup pass absorbs.
    */
  private def variants(entities: DataFrame, nameCol: String): DataFrame =
    entities.select(col(nameCol).as("name")).distinct()
      .select(col("name"), explode(delete1Hashes).as("vh"))

  /** Candidate join + exact verify over a (name, vh) variant table — the
    * ONE definition of the blocking/verify pipeline, shared by the
    * lossless and the df-capped entry points so the verify rule can
    * never diverge between them.
    */
  private def pairsFromVariants(v: DataFrame): DataFrame =
    v.as("a")
      .join(v.as("b"),
        col("a.vh") === col("b.vh") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      // graft_edit_within1 == levenshtein(a, b, 1): -1 past the bound,
      // else the exact distance — one codegen'd two-pointer scan per
      // pair instead of a DP table (this verify dominates the query)
      .withColumn("dist",
        graft.functions.GraftFunctions.graftEditWithin1(
          col("name_a"), col("name_b")))
      .filter(col("dist") >= 0)

  /** All unordered pairs of distinct `nameCol` values within Levenshtein
    * distance 1. Output: name_a < name_b, dist ∈ {0 impossible, 1}.
    */
  def matchPairs(entities: DataFrame, nameCol: String): DataFrame =
    pairsFromVariants(variants(entities, nameCol))
}
