package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.graftMinHash
import graft.functions.MinHash

/** Document deduplication operators for large-scale training-data
  * pipelines. All of them are pure DataFrame plans (no driver loops, no
  * UDFs): exact dedup is a hash aggregate, the near-dup families follow
  * the standard shingle -> signature -> band-bucket -> candidate-join ->
  * verify shape so that the candidate join is an equi-join Spark can
  * shuffle-partition by bucket — never an O(N^2) cross join.
  *
  * The constructions are the classic public ones: shingle-resemblance
  * MinHash (Broder's min-wise permutations, banded for LSH as in the
  * standard MMDS treatment) and Charikar's SimHash random-projection
  * fingerprint with the pigeonhole piece-join used by web-scale near-dup
  * detection.
  *
  * Scale: every self-join here is keyed on a high-cardinality bucket
  * column; skewed buckets (a shingle appearing in half the corpus) are the
  * classic hazard, so [[jaccardPairs]] drops stop-shingles above a
  * document-frequency cap before its self-join, and the LSH candidate
  * joins carry only (id_a, id_b) through their distinct — signatures are
  * re-joined after, so the dedup shuffle moves two longs per pair, not two
  * 64-long arrays.
  */
object Dedup {

  /** Exact duplicate groups: one representative (min id) per identical
    * text, plus the duplicate count. A plain map-side-combinable hash
    * aggregate — the cheapest possible dedup at any scale.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingle array of a text column — the native
    * [[graft.functions.WordShingles]] expression: one codegen'd pass per
    * row. Documents with fewer than n words yield an empty array.
    */
  private def shingleArr(textCol: Column, n: Int): Column =
    graft.functions.GraftFunctions.graftShingles(textCol, n)

  /** Distinct word n-gram shingles per document: (id, shingle).
    *
    * Distinctness is PER DOCUMENT (id is part of the pair), so it comes
    * from the shingle expression itself — a per-row pass — rather than a
    * global `.distinct()` after the explode, which would shuffle every
    * (id, shingle) string in the corpus just to dedup within rows.
    */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(shingleArr(col(textCol), n)).as("shingle"))
      .filter(length(col("shingle")) > 0)

  /** Exact pairwise n-gram Jaccard >= threshold. The shingle equi-join is
    * the candidate generator; Jaccard = |A∩B| / (|A|+|B|-|A∩B|) from three
    * aggregates.
    *
    * `maxDf` is the scale guard: a stop-shingle present in a large
    * fraction of the corpus would make the self-join on that one shingle
    * degenerate toward N^2, so shingles whose document frequency exceeds
    * maxDf are dropped from the universe BEFORE sizes and intersections
    * are computed (both sides see the same filtered shingle sets, so the
    * metric stays a true Jaccard over the retained universe — the standard
    * stop-shingle trade).
    */
  def jaccardPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.8,
      maxDf: Int = 1000): DataFrame =
    shingleIntersections(docs, textCol, idCol, n, maxDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** Shared candidate base for the exact pairwise set metrics:
    * (id_a, id_b, n_inter, n_a, n_b) per pair with id_a < id_b, from the
    * stop-shingle-capped equi-join — see [[jaccardPairs]] for the maxDf
    * rationale. Pairs with an empty intersection never appear (they
    * cannot clear any overlap threshold).
    */
  private def shingleIntersections(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxDf: Int): DataFrame = {
    val all = shingles(docs, textCol, idCol, n)
    val rare = all.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select("shingle")
    val sh = all.join(rare, "shingle")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  /** Directed shingle-set containment |A∩B| / |A| >= threshold — the
    * quote/near-superset detector Jaccard structurally misses: a short
    * document fully embedded in a long one has containment 1.0 but
    * Jaccard ~ |A|/|B|, far below any dedup threshold. Each undirected
    * candidate pair emits up to two directed rows
    * (contained_id, container_id, containment).
    *
    * Candidate generation is the same capped shingle equi-join as
    * [[jaccardPairs]] — complete for pairs sharing at least one
    * sub-maxDf shingle, which any pair at a meaningful containment does.
    * (The asymmetric-MinHash sketch route exists for corpus-scale
    * containment at lower cost per candidate, but the equi-join shape
    * already shuffle-partitions on the shingle key at any scale.)
    */
  def containmentPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minContainment: Double = 0.9,
      maxDf: Int = 1000): DataFrame = {
    val base = shingleIntersections(docs, textCol, idCol, n, maxDf)
    val ab = base.select(col("id_a").as("contained_id"),
      col("id_b").as("container_id"),
      (col("n_inter").cast("double") / col("n_a")).as("containment"))
    val ba = base.select(col("id_b").as("contained_id"),
      col("id_a").as("container_id"),
      (col("n_inter").cast("double") / col("n_b")).as("containment"))
    ab.unionByName(ba)
      .withColumn("containment", round(col("containment"), 4))
      .filter(col("containment") >= minContainment)
  }

  /** Quote-mining candidate pairs via CHUNK-level LSH — the low-Jaccard
    * containment path that whole-document banding structurally misses: a
    * 30-word quote inside a 300-word container has document Jaccard
    * ~0.1, far under any banding threshold, but SOME container chunk
    * near-matches SOME quote chunk, so banding the fixed-width word
    * windows (stride < width, so a verbatim passage always shares a
    * mostly-overlapping window with its source) surfaces the (doc, doc)
    * pair. Emits distinct cross-document (id_a, id_b) — verification
    * (e.g. [[containmentForPairs]]) is the caller's next stage.
    *
    * Scale shape: chunks multiply rows by words/stride (a constant), the
    * signature aggregate is the same bounded-state [[minHashSignatures]]
    * shape keyed by (id, offset), and the candidate join is a band-bucket
    * equi-join carrying only ids — never all-pairs, at any corpus size.
    */
  def chunkLshCandidates(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      chunkWords: Int = 32,
      stride: Int = 16,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val banded = chunkBandKeys(docs, textCol, idCol, chunkWords, stride,
      numHashes, bands, shingleN)
    banded.as("x").join(banded.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** The banded-chunk-key half of [[chunkLshCandidates]]: one (id, bk)
    * row per band of each chunk's MinHash signature. Factored out so a
    * deployment can PERSIST the corpus's banded chunk table as a
    * per-dataset artifact (it is a pure function of the corpus and the
    * config, like the SimHash signature table) and run both the
    * self-join and the asymmetric probe join ([[chunkLshProbe]])
    * against it without re-chunking the corpus.
    */
  def chunkBandKeys(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      chunkWords: Int = 32,
      stride: Int = 16,
      numHashes: Int = 32,
      bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(stride > 0 && stride <= chunkWords, "stride must be in [1, chunkWords]")
    val chunks = docs
      .select(col(idCol).as("id"), TextAnalysis.words(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) > 0)
      .select(col("id"),
        explode(sequence(lit(0), greatest(size(col("_ws")) - 1, lit(0)),
          lit(stride))).as("_off"),
        col("_ws"))
      .select(col("id"), col("_off"),
        concat_ws(" ", slice(col("_ws"), col("_off") + 1, lit(chunkWords))).as("_chunk"))
    val sigs = chunks
      .select(col("id"), col("_off"),
        explode(graft.functions.GraftFunctions.graftShingles(
          col("_chunk"), shingleN)).as("shingle"))
      .filter(length(col("shingle")) > 0)
      .withColumn("h", pmod(xxhash64(col("shingle")), lit(MinHash.MersennePrime)))
      .groupBy("id", "_off")
      .agg(graftMinHash(col("h"), numHashes).as("signature"))
    sigs.select(col("id"),
      explode(graft.functions.GraftFunctions.graftMinHashBands(
        col("signature"), bands)).as("bk"))
  }

  /** ASYMMETRIC chunk-LSH candidates — [[chunkLshCandidates]]'s probe
    * twin (the [[minHashLshProbe]] pattern for the quote-mining
    * family): (corpus, probe) pairs whose chunks share a band bucket,
    * from a probe-side-broadcast equi-join over ALREADY-BANDED chunk
    * key tables ([[chunkBandKeys]] both sides; the corpus side is the
    * persisted artifact). Pair-identical to the self-join — bucket
    * membership is a function of each side's chunks alone — at
    * probe-sized cost. Output: distinct (id_a = corpus, id_b = probe).
    */
  def chunkLshProbe(corpusBands: DataFrame, probeBands: DataFrame): DataFrame =
    corpusBands.as("x").join(broadcast(probeBands.as("y")),
        col("x.bk") === col("y.bk") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** COMPLETE directed containment of a small PROBE set against the
    * corpus — the [[probeJaccard]] twin on the containment metric (the
    * quote family's exact verifier): every (corpus, probe) pair where
    * either direction's |A∩B|/|A| clears `minContainment`, no LSH, no
    * chunking, no df cap. A pair with containment > 0 shares a
    * shingle, so the probe-shingle equi-join (probe side broadcast) is
    * a complete candidate generator; the verify is
    * [[containmentForPairs]]'s own arithmetic (both directions — the
    * caller filters to the direction it plants).
    */
  def probeContainment(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minContainment: Double = 0.5): DataFrame = {
    // shingleArr is distinct per row, so the exploded tables are
    // already (id, shingle)-distinct — no global dedup shuffle needed
    val cs = corpus.select(col(idCol).as("id_a"),
      explode(shingleArr(col(textCol), n)).as("_sh"))
    val ps = probe.select(col(idCol).as("id_b"),
      explode(shingleArr(col(textCol), n)).as("_sh"))
    val cand = cs.join(broadcast(ps), "_sh")
      .select("id_a", "id_b").distinct()
    // side-resolved verify (see probeJaccard): id_a from the corpus
    // only, id_b from the probe only — overlapping id spaces must not
    // cross-contaminate the containment arithmetic
    val base = cand
      .join(corpus.select(col(idCol).as("id_a"),
        shingleArr(col(textCol), n).as("_sh_a")), "id_a")
      .join(probe.select(col(idCol).as("id_b"),
        shingleArr(col(textCol), n).as("_sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sh_a"), col("_sh_b"))).as("_ni"),
        size(col("_sh_a")).as("_na"), size(col("_sh_b")).as("_nb"))
    bothDirections(base, minContainment)
  }

  /** Emit both containment directions of a verified pair base in ONE
    * pass: a union of two projections re-evaluates the whole upstream
    * (candidate generation included) once per branch — union branches
    * canonicalize differently, so exchange reuse cannot merge them —
    * while a 2-element explode reads `base` exactly once (§1.2; the
    * r17 itemCf union-replay lesson applied to the verify tail).
    */
  private def bothDirections(base: DataFrame, minContainment: Double): DataFrame =
    base
      .select(explode(array(
        struct(col("id_a").as("contained_id"), col("id_b").as("container_id"),
          (col("_ni").cast("double") / col("_na")).as("containment")),
        struct(col("id_b").as("contained_id"), col("id_a").as("container_id"),
          (col("_ni").cast("double") / col("_nb")).as("containment")))).as("_d"))
      .select(col("_d.contained_id").as("contained_id"),
        col("_d.container_id").as("container_id"),
        round(col("_d.containment"), 4).as("containment"))
      .filter(col("containment") >= minContainment)

  /** Directed containment for an already-small candidate pair set —
    * the verification stage after LSH candidate generation, same shape
    * as [[exactShingleJaccard]]: join each pair's distinct-shingle
    * arrays back and emit both directions where |A∩B|/|A| clears the
    * threshold. Cost is O(candidate pairs), never all-pairs.
    */
  def containmentForPairs(
      cands: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minContainment: Double = 0.9): DataFrame = {
    val sets = docs.select(col(idCol).as("_id"),
      shingleArr(col(textCol), n).as("_sh"))
    val base = cands.select("id_a", "id_b")
      .join(sets.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
      .join(sets.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sh_a"), col("_sh_b"))).as("_ni"),
        size(col("_sh_a")).as("_na"), size(col("_sh_b")).as("_nb"))
    bothDirections(base, minContainment)
  }

  /** Exact shingle-set Jaccard for an already-small candidate pair set
    * (id_a, id_b): join the texts back and verify with array expressions.
    * This is the verification stage after LSH candidate generation —
    * exact, deterministic, and recomputable by any engine (no hashes).
    */
  def exactShingleJaccard(
      cands: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    val sets = docs.select(col(idCol).as("_id"),
      shingleArr(col(textCol), n).as("_sh"))
    cands.select("id_a", "id_b")
      .join(sets.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
      .join(sets.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
      .withColumn("_ni", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("jaccard", col("_ni").cast("double") /
        (size(col("_sh_a")) + size(col("_sh_b")) - col("_ni")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** COMPLETE exact shingle Jaccard of a small PROBE set against the
    * corpus: every (corpus_id, probe_id) pair whose true n-gram Jaccard
    * clears `minJaccard`, with no LSH and no df cap — the ground-truth
    * side of a banding-recall measurement (and the decontamination
    * shape: benchmark-vs-corpus, never corpus-vs-corpus).
    *
    * Completeness argument: a pair with J > 0 shares at least one
    * shingle, so the probe-shingle equi-join (probe side BROADCAST —
    * the probe is a fixed panel, corpus-size-independent) finds every
    * candidate; the exact verify then recomputes the uncapped Jaccard
    * with [[exactShingleJaccard]]'s own arithmetic, so the output is
    * definitionally comparable with the LSH pipeline's verified pairs.
    * Cost: corpus scan + broadcast join + O(candidates) verify — no
    * corpus self-join ever forms.
    */
  def probeJaccard(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    val cs = shingles(corpus, textCol, idCol, n)
    val ps = shingles(probe, textCol, idCol, n)
    val cand = cs.join(
        broadcast(ps.select(col("id").as("id_b"), col("shingle"))), "shingle")
      .select(col("id").as("id_a"), col("id_b")).distinct()
    // SIDE-RESOLVED verify: id_a joins ONLY the corpus, id_b ONLY the
    // probe — a unioned text table would hold duplicate ids whenever
    // the two id SPACES overlap (both 0-based: the common
    // decontamination case) and multiply the verify join with
    // corpus-text-vs-itself rows.
    cand
      .join(corpus.select(col(idCol).as("id_a"),
        shingleArr(col(textCol), n).as("_sh_a")), "id_a")
      .join(probe.select(col(idCol).as("id_b"),
        shingleArr(col(textCol), n).as("_sh_b")), "id_b")
      .withColumn("_ni", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("jaccard", col("_ni").cast("double") /
        (size(col("_sh_a")) + size(col("_sh_b")) - col("_ni")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact word-multiset (bag) Jaccard for a candidate pair set:
    * sum over shared words of min(count_a, count_b), over
    * total_a + total_b - intersection. Frequency-weighted, so documents
    * sharing a vocabulary but not a word distribution score low — the
    * right exact verifier for SimHash candidates (SimHash itself is
    * frequency-weighted).
    *
    * Shape: relational (per-doc word counts equi-joined through the
    * candidate pairs, then one sum aggregate) rather than a per-pair
    * higher-order-function scan — HOF lambdas are interpreted per element,
    * and quadratic-per-pair word scans dominate once candidates number in
    * the thousands; the join/aggregate stays in codegen and shuffles on
    * high-cardinality (pair, word) keys.
    */
  def exactBagJaccard(
      cands: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double = 0.8): DataFrame = {
    // reuse: the pair list is read three times below (both sides of the doc
    // prune plus the verify join), and candidate generation is usually an
    // expensive self-join whose pruned branches differ per consumer — so
    // exchange reuse cannot deduplicate them and each reference would
    // re-run the whole upstream plan. The pairs are tiny relative to the
    // corpus by construction (that is the point of LSH), so materialize
    // them once up front. Measured: q_dedup_simhash 0.67 s pinned vs
    // 0.91 s unpinned, q_simhash_recall 1.52 vs 2.14 s (sf0.1 ProfQ,
    // warm medians of 3 JVMs a side).
    val pairs = cands.select("id_a", "id_b").localCheckpoint()
    // Only docs referenced by a candidate pair matter: the semi-join
    // prunes the (id, word) count shuffle from the whole corpus to the
    // candidate neighborhood — at full-corpus scale the candidate set is
    // tiny relative to N, so this is the difference between verifying in
    // O(candidate docs) and re-shuffling every document's words.
    val ids = pairs.select(explode(array(col("id_a"), col("id_b"))).as("_cid"))
      .distinct()
    val needed = docs.join(ids, col(idCol) === col("_cid"), "left_semi")
    val words = needed.select(col(idCol).as("_id"),
      explode(TextAnalysis.words(col(textCol))).as("_w"))
    val cnt = words.groupBy("_id", "_w").agg(count(lit(1)).as("_c"))
    verifyBagJaccard(pairs, cnt, minJaccard)
  }

  /** The verify half of [[exactBagJaccard]] over an ALREADY-BUILT
    * (_id, _w, _c) word-count table — the persisted-artifact query
    * side: a deployment stores the representative word counts with the
    * signature table (both are per-dataset build products), so each
    * dedup run pays only the pair joins, not the corpus word explode.
    * `counts` may cover more docs than the pairs reference (the joins
    * prune); the metric is unchanged.
    */
  def exactBagJaccardFromCounts(
      cands: DataFrame,
      counts: DataFrame,
      minJaccard: Double = 0.8): DataFrame =
    verifyBagJaccard(cands.select("id_a", "id_b"), counts, minJaccard)

  /** Shared verify. The size-filtered pair table is one plan subtree
    * read by two consumers (the intersection join and the
    * existence-preserving left join); it is not pinned: both branches
    * carry the identical candidate subtree, so its exchanges run once
    * and the second branch reads them as a ReusedExchange. Pinning it
    * was measured slower on both callers: warm 0.84-0.99 s pinned vs
    * 0.66-0.74 s unpinned on the q_simhash_recall probe stream
    * (OPTIMIZATION_r18.md), and 1.04 s pinned vs 0.96 s unpinned
    * (medians, 6 reps per side) on q_dedup_simhash_full at sf0.1.
    */
  private def verifyBagJaccard(
      pairs0: DataFrame,
      cnt: DataFrame,
      minJaccard: Double): DataFrame = {
    val tot = cnt.groupBy("_id").agg(sum(col("_c")).as("_n"))
    // EXACT size prefilter (the classic length filter, Arasu/Bayardo
    // similarity-join literature): intersection is at most min(na, nb),
    // so bag Jaccard is at most min/max — a pair whose totals are more
    // than a factor 1/t apart can never pass and is dropped BEFORE the
    // per-word intersection join (the expensive explode). Pairs whose
    // id has no word rows drop at the inner tot join, exactly as the
    // final tot joins dropped them before.
    val filtered = pairs0
      .join(tot.select(col("_id").as("id_a"), col("_n").as("_na")), "id_a")
      .join(tot.select(col("_id").as("id_b"), col("_n").as("_nb")), "id_b")
      .filter(least(col("_na"), col("_nb")).cast("double")
        >= lit(minJaccard) * greatest(col("_na"), col("_nb")))
    val inter = filtered.select("id_a", "id_b")
      .join(cnt.select(col("_id").as("id_a"), col("_w"), col("_c").as("_ca")), "id_a")
      .join(cnt.select(col("_id").as("id_b"), col("_w"), col("_c").as("_cb")),
        Seq("id_b", "_w"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("_ca"), col("_cb"))).as("_ni"))
    filtered
      .join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("_ni"))
      .withColumn("bag_jaccard",
        col("_ni").cast("double") / (col("_na") + col("_nb") - col("_ni")))
      .filter(col("bag_jaccard") >= minJaccard)
      .select("id_a", "id_b", "bag_jaccard")
  }

  /** MinHash signature per document: sig[i] = min over shingles of
    * (a_i * xxhash64(shingle) + b_i) mod p — one explode + ONE map-side
    * combinable [[graft.functions.MinHashSig]] aggregate. No posexplode
    * row amplification: each task folds its shingles into a k-slot min
    * array per doc and the shuffle carries one array per doc per task.
    */
  def minHashSignatures(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      shingleN: Int = 3): DataFrame =
    shingles(docs, textCol, idCol, shingleN)
      .withColumn("h", pmod(xxhash64(col("shingle")), lit(MinHash.MersennePrime)))
      .groupBy("id")
      .agg(graftMinHash(col("h"), numHashes).as("signature"))

  /** MinHash-LSH near-duplicate pairs: band the signature, bucket-join on
    * (band, hash(band-slice)), then filter candidates by the signature
    * Jaccard estimate (fraction of equal positions). The candidate
    * distinct runs on bare (id_a, id_b); signatures re-join afterwards.
    */
  def minHashLsh(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleN: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sigs = minHashSignatures(docs, textCol, idCol, numHashes, shingleN)
    // Native packed band keys ((band << 48) | bucket): one static call
    // per signature instead of bands interpreted hash(slice(...))
    // lambdas, and the candidate join keys on a single long column.
    val banded = sigs.select(col("id"),
      explode(graft.functions.GraftFunctions.graftMinHashBands(
        col("signature"), bands)).as("bk"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("signature").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.graftSigOverlap(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** ASYMMETRIC MinHash-LSH candidates: (corpus, probe) pairs only,
    * from a probe-side-broadcast banded equi-join — the pair-level
    * banding, estimate filter, and signature arithmetic are IDENTICAL
    * to [[minHashLsh]]'s self-join (whether a pair shares a band
    * bucket depends only on that pair's two signatures), so a recall
    * measured through this join is the self-join pipeline's recall on
    * cross pairs, at probe-sized cost: the corpus never pairs with
    * itself. Output: (id_a = corpus id, id_b = probe id, est_jaccard).
    */
  def minHashLshProbe(
      corpusSigs: DataFrame,
      probeSigs: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    def banded(sigs: DataFrame) = sigs.select(col("id"),
      explode(graft.functions.GraftFunctions.graftMinHashBands(
        col("signature"), bands)).as("bk"))
    val cand = banded(corpusSigs).as("x")
      .join(broadcast(banded(probeSigs).as("y")),
        col("x.bk") === col("y.bk") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(corpusSigs.select(col("id").as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(broadcast(probeSigs.select(col("id").as("id_b"), col("signature").as("sig_b"))), "id_b")
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.graftSigOverlap(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** ASYMMETRIC SimHash candidates — the [[minHashLshProbe]] twin for
    * the combination-banding family: (corpus, probe) pairs within the
    * Hamming radius, from a probe-side-broadcast banded equi-join with
    * the radius tested inside the join. Pair-identical to
    * [[simHashGroupPairs]]'s self-join (bucket membership and Hamming
    * distance are functions of the pair's two signatures alone), at
    * probe-sized cost. Output: (id_a = corpus, id_b = probe, hamming).
    */
  def simHashProbe(
      corpusSigs: DataFrame,
      probeSigs: DataFrame,
      maxHamming: Int,
      pieces: Int): DataFrame =
    bandedSignatures(corpusSigs, maxHamming, pieces).as("x")
      .join(broadcast(bandedSignatures(probeSigs, maxHamming, pieces).as("y")),
        col("x.ck") === col("y.ck") && col("x.id") =!= col("y.id") &&
          expr("bit_count(x.simhash ^ y.simhash)") <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        // INT like the simhash self-join twins (simHashPairsFromSigs /
        // simHashNearDup) emit — schema-identical outputs keep the
        // pair-identity claim true for consumers too (the generic
        // hammingPairs family is the one that casts to BIGINT)
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()

  /** COMPLETE exact bag Jaccard of a small PROBE set against the
    * corpus — the [[probeJaccard]] twin on the word-MULTISET metric
    * (the SimHash family's exact verifier): every (corpus, probe) pair
    * whose bag Jaccard clears `minJaccard`, no LSH, no radius. A pair
    * with bag J > 0 shares a word, so the probe-word equi-join (probe
    * side broadcast) is a complete candidate generator; the verify is
    * [[exactBagJaccard]]'s own arithmetic.
    */
  def probeBagJaccard(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      minJaccard: Double = 0.8): DataFrame = {
    val cw = corpus.select(col(idCol).as("id_a"),
      explode(TextAnalysis.words(col(textCol))).as("_w")).distinct()
    val pw = probe.select(col(idCol).as("id_b"),
      explode(TextAnalysis.words(col(textCol))).as("_w")).distinct()
    val cand = cw.join(broadcast(pw), "_w")
      .select("id_a", "id_b").distinct()
      // reuse: unpinned, the probe explode and its distinct exchange
      // run twice (the probe-word side is not reused); the standing build
      // in q_simhash_recall's run 1 took 14.8 s pinned vs 15.8 s unpinned
      .localCheckpoint()
    // side-resolved verify (see probeJaccard): word counts for id_a
    // come ONLY from the corpus (pruned to candidate docs), for id_b
    // ONLY from the probe — overlapping id spaces stay independent
    val idsA = cand.select(col("id_a").as("_cid")).distinct()
    val cntA = corpus.join(idsA, col(idCol) === col("_cid"), "left_semi")
      .select(col(idCol).as("id_a"), explode(TextAnalysis.words(col(textCol))).as("_w"))
      .groupBy("id_a", "_w").agg(count(lit(1)).as("_ca"))
    val cntB = probe
      .select(col(idCol).as("id_b"), explode(TextAnalysis.words(col(textCol))).as("_w"))
      .groupBy("id_b", "_w").agg(count(lit(1)).as("_cb"))
    val totA = cntA.groupBy("id_a").agg(sum(col("_ca")).as("_na"))
    val totB = cntB.groupBy("id_b").agg(sum(col("_cb")).as("_nb"))
    val inter = cand
      .join(cntA, "id_a")
      .join(cntB, Seq("id_b", "_w"))
      .groupBy("id_a", "id_b")
      .agg(sum(least(col("_ca"), col("_cb"))).as("_ni"))
    cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("_ni"))
      .join(totA, "id_a")
      .join(totB, "id_b")
      .withColumn("bag_jaccard",
        col("_ni").cast("double") / (col("_na") + col("_nb") - col("_ni")))
      .filter(col("bag_jaccard") >= minJaccard)
      .select("id_a", "id_b", "bag_jaccard")
  }

  /** Incremental dedup — classify INCOMING documents against an EXISTING
    * corpus without ever re-pairing the corpus against itself. This is
    * the production shape at 100 TB: the standing corpus is indexed once
    * (fingerprints + banded MinHash buckets, both persistable tables) and
    * each arriving batch joins only new-vs-old; cost scales with the
    * batch, not the corpus.
    *
    * Per incoming doc: `status` is 'exact' (identical normalized text
    * exists), else 'near' (some existing doc's shingle Jaccard clears
    * `minJaccard`, LSH candidates verified exactly), else 'unique';
    * `match_id` is the smallest matching existing id (deterministic).
    *
    * Bucket joins only (band/bucket, fingerprint) — the all-pairs
    * inc × ex product never materializes.
    */
  /** Canonical content fingerprint: md5 of the lowercased,
    * whitespace-collapsed text — the exact-duplicate key every dedup
    * surface here shares (CuratePipeline, SnapshotDiff, the oracles).
    */
  def contentFingerprint(t: Column): Column =
    md5(regexp_replace(lower(trim(t)), "\\s+", " "))

  /** Standing dedup-index rows for a corpus: (id, fp, signature) — the
    * content fingerprint and the MinHash signature, the two things
    * incremental classification needs from the standing side. The
    * production shape at 100 TB: this table is computed ONCE per corpus
    * snapshot and persisted; per-batch dedup then reads kilobyte index
    * rows, never corpus text (text is joined only to verify the final
    * candidate pairs). Rebuilding signatures per batch — what
    * [[incrementalStatus]] does when handed raw text — re-pays the
    * whole-corpus shingle explode on every batch.
    */
  def dedupIndex(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      shingleN: Int = 3): DataFrame =
    // fingerprint side FIRST with a LEFT join to the signatures: a doc
    // too short to shingle (< shingleN words) has no signature row, and
    // an inner join would drop its fingerprint from the index entirely
    // — its exact duplicates would then classify 'unique', violating
    // the docs-too-short-keep-exact-semantics contract. A null
    // signature is harmless downstream: graftMinHashBands of null
    // explodes to no band keys.
    docs.select(col(idCol).as("id"),
        contentFingerprint(col(textCol)).as("fp"))
      .join(minHashSignatures(docs, textCol, idCol, numHashes, shingleN),
        Seq("id"), "left")
      .select(col("id"), col("signature"), col("fp"))

  def incrementalStatus(
      existing: DataFrame,
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 32,
      estThreshold: Double = 0.35,
      shingleN: Int = 3,
      minJaccard: Double = 0.8): DataFrame =
    incrementalStatusWithIndex(
      dedupIndex(existing, textCol, idCol, numHashes, shingleN),
      existing, incoming, textCol, idCol,
      numHashes, bands, estThreshold, shingleN, minJaccard)

  /** [[incrementalStatus]] against a PRE-BUILT standing index
    * ([[dedupIndex]] rows) plus the corpus text store (read only to
    * verify candidate pairs). Identical classification semantics; the
    * standing side's fingerprints and signatures are never recomputed.
    */
  def incrementalStatusWithIndex(
      index: DataFrame,
      corpus: DataFrame,
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 32,
      estThreshold: Double = 0.35,
      shingleN: Int = 3,
      minJaccard: Double = 0.8): DataFrame =
    incrementalStatusGivenSigs(index, corpus, incoming,
      minHashSignatures(incoming, textCol, idCol, numHashes, shingleN),
      textCol, idCol, numHashes, bands, estThreshold, shingleN, minJaccard)

  /** [[incrementalStatusWithIndex]] with the INCOMING side's MinHash
    * signatures supplied by the caller — the seam a streaming consumer
    * needs to compute the batch's signatures ONCE and feed both the
    * classification and its own index slice (the signature aggregate
    * is the expensive half; fingerprints are a cheap per-row hash and
    * stay computed from `incoming` directly so that docs too short to
    * shingle keep their exact-duplicate semantics).
    */
  def incrementalStatusGivenSigs(
      index: DataFrame,
      corpus: DataFrame,
      incoming: DataFrame,
      incomingSigs: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 32,
      estThreshold: Double = 0.35,
      shingleN: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    val exactM = incoming
      .select(col(idCol), contentFingerprint(col(textCol)).as("_fp"))
      .join(index.select(col("id").as("_ex_id"), col("fp").as("_fp")), "_fp")
      .groupBy(col(idCol)).agg(min(col("_ex_id")).as("_exact_m"))

    def bandedOf(sigs: DataFrame): DataFrame =
      sigs.select(col("id"),
        explode(graft.functions.GraftFunctions.graftMinHashBands(
          col("signature"), bands)).as("bk"))
    val sigsEx = index.select(col("id"), col("signature"))
    val sigsInc = incomingSigs.select(col("id"), col("signature"))
    val cand = bandedOf(sigsInc).as("x")
      .join(bandedOf(sigsEx).as("y"), col("x.bk") === col("y.bk"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val est = cand
      .join(sigsInc.select(col("id").as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigsEx.select(col("id").as("id_b"), col("signature").as("sig_b")), "id_b")
      .withColumn("_est",
        graft.functions.GraftFunctions.graftSigOverlap(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("_est") >= estThreshold)
      .select("id_a", "id_b")
    val union = corpus.select(col(idCol), col(textCol))
      .unionByName(incoming.select(col(idCol), col(textCol)))
    val nearM = exactShingleJaccard(est, union, textCol, idCol, shingleN, minJaccard)
      .groupBy(col("id_a").as(idCol)).agg(min(col("id_b")).as("_near_m"))

    incoming.select(col(idCol))
      .join(exactM, Seq(idCol), "left")
      .join(nearM, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_exact_m").isNotNull, lit("exact"))
          .when(col("_near_m").isNotNull, lit("near"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("_exact_m"), col("_near_m")).as("match_id"))
  }

  /** 64-bit SimHash per document from word-level xxhash64: bit i of the
    * fingerprint is the sign of the sum over words of (+1 if word-hash has
    * bit i set, else -1). One native map-side-combinable aggregate
    * ([[graft.functions.SimHashAgg]]) holding int[64] per group — the
    * 64-sum-column formulation it replaces generated a codegen method so
    * large its compilation dominated the cold run.
    */
  def simHash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("h", xxhash64(col("w")))
      .groupBy("id")
      .agg(graft.functions.GraftFunctions.graftSimHash(col("h")).as("simhash"))

  /** Collapse documents to distinct word MULTISETS: one group row per
    * canonical bag (`_canon` = space-joined sorted words), with the
    * sorted member id list and the min-id representative. SimHash and
    * every bag-based metric (bag Jaccard included) are functions of the
    * multiset alone, so members of a group are fully interchangeable —
    * signature computation, banding, candidate joins, and exact
    * verification all run per GROUP and expand back to ids at the end.
    *
    * This is the scale move for duplicated corpora: a web crawl with
    * mean duplication factor k pays the pairing machinery on N/k rows,
    * and the quadratic intra-bucket collision blowup among identical
    * fingerprints (the dominant cost measured on the 10x-duplicated
    * test corpus) disappears entirely — identical bags never meet in a
    * candidate join at all. Bagless documents (no words) carry no
    * signature, matching [[simHash]]'s explode semantics, so they are
    * dropped here.
    */
  def bagGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // The shuffle key is the 32-byte sha2-256 of the canonical bag, not
    // the bag itself — document text never shuffles here, only
    // (hash, id). sha2 rather than md5: the group key MERGES documents,
    // so a collision silently fuses two distinct documents into one
    // dedup group; on adversarial web corpora md5 collisions are
    // constructible, sha2-256 is collision-resistant at the same
    // shuffle-width rationale.
    // The result is materialized once (localCheckpoint): it is read by
    // the signature join, the pair expansion, and the intra-group
    // emitter, and it is small by construction — (hash, ids, rep)
    // without any text. q_dedup_simhash_full's standing build (run 1,
    // this pin and its representative-docs pin) measured 3.62 s pinned
    // vs 4.60 s unpinned (medians of 3 JVMs a side at sf0.1).
    docs.select(col(idCol).as("id"),
        concat_ws(" ", array_sort(TextAnalysis.words(col(textCol)))).as("_canon"))
      .filter(length(col("_canon")) > 0)
      .select(col("id"), sha2(col("_canon"), 256).as("_bag"))
      .groupBy(col("_bag"))
      .agg(sort_array(collect_list(col("id"))).as("ids"), min(col("id")).as("rep"))
      .localCheckpoint() // reuse: three readers, see above

  /** SimHash candidate pairs BETWEEN distinct bag groups: (rep_a, rep_b,
    * hamming) for group pairs within the Hamming radius, from the
    * pigeonhole banding join over one signature per group. The Hamming
    * test rides INSIDE the bucket equi-join as a residual predicate, so
    * bucket collisions that miss the radius die as a codegen
    * xor+bit_count instead of surviving into the distinct.
    */
  def simHashGroupPairs(
      docs: DataFrame,
      groups: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int,
      pieces: Int): DataFrame = {
    // One signature per GROUP: semi-join the corpus down to the
    // representatives first, so the word-explode aggregate runs on
    // distinct content only (the representative's bag IS the group's
    // bag — any member would give the identical fingerprint).
    val repDocs = docs.join(groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    simHashPairsFromSigs(simHash(repDocs, textCol, idCol), maxHamming, pieces)
  }

  /** The banding self-join half of [[simHashGroupPairs]], over an
    * ALREADY-BUILT signature table (id, simhash) — the query side of a
    * persisted-signature deployment: signatures are a per-dataset
    * artifact (built once, stored with the corpus like the sparse
    * posting index), and each dedup run pays only this join + verify.
    *
    * Construction (the standard block-combination scheme for Hamming-range
    * search over fingerprints, as used by web-scale near-dup detection):
    * split the 64 bits into `pieces` chunks; a pair within Hamming
    * `maxHamming` can differ in at most `maxHamming` chunks, so it agrees
    * EXACTLY on some `shared = pieces - maxHamming` of them. Enumerate all
    * C(pieces, shared) chunk subsets and equi-join on
    * (subset_id, concatenated chunk values) — complete for the radius by
    * pigeonhole, while the join key stays `shared * (64/pieces)` bits wide.
    *
    * Chunk width times `shared` is the scale lever: each subset's equi-join
    * hashes N docs into 2^(shared*width) buckets, so candidates stay
    * sub-quadratic as long as the combined key is wide (>= 16 bits).
    * pieces=4/maxHamming=3 gives 4 single-chunk 16-bit keys; the
    * pieces=8/maxHamming=6 registered configuration gives 28 chunk-PAIR
    * 16-bit keys — same per-key selectivity, twice the Hamming radius.
    * The degenerate corner this replaces (pieces=16/maxHamming=15: 16
    * single-chunk keys of 4 bits = 16 bucket values, ~N^2/32 candidates
    * per piece) is now impossible to reach with a >= 8-bit combined key.
    */
  def simHashPairsFromSigs(sigs: DataFrame, maxHamming: Int, pieces: Int): DataFrame = {
    val banded = bandedSignatures(sigs, maxHamming, pieces)
    banded.as("x").join(banded.as("y"),
        col("x.ck") === col("y.ck") && col("x.id") < col("y.id") &&
          expr("bit_count(x.simhash ^ y.simhash)") <= maxHamming)
      .select(col("x.id").as("rep_a"), col("y.id").as("rep_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
  }

  /** All within-group (id_a < id_b) pairs — identical bags, so Hamming 0
    * and bag Jaccard exactly 1 by construction, no verification needed.
    * Group id lists are sorted, so the inner filter preserves ordering.
    */
  def intraGroupPairs(groups: DataFrame): DataFrame =
    groups.filter(size(col("ids")) > 1)
      .select(col("ids"), explode(col("ids")).as("id_a"))
      .select(col("id_a"),
        explode(filter(col("ids"), i => i > col("id_a"))).as("id_b"))

  /** Expand group-level pair rows (rep_a, rep_b, extra...) to id-level
    * (id_a, id_b, extra...) via the groups' member lists. Groups are
    * disjoint, so expansion never duplicates a pair; least/greatest
    * restores id ordering (members of different groups interleave).
    */
  def expandGroupPairs(gpairs: DataFrame, groups: DataFrame): DataFrame = {
    val extra = gpairs.columns.filterNot(Set("rep_a", "rep_b")).toSeq
    gpairs
      .join(groups.select(col("rep").as("rep_a"), col("ids").as("_ids_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("ids").as("_ids_b")), "rep_b")
      .withColumn("_ia", explode(col("_ids_a")))
      .withColumn("_ib", explode(col("_ids_b")))
      .select(least(col("_ia"), col("_ib")).as("id_a") +:
        greatest(col("_ia"), col("_ib")).as("id_b") +:
        extra.map(col): _*)
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, using the
    * pigeonhole band trick: split 64 bits into `pieces` chunks; any pair
    * within distance maxHamming (< pieces — enforced) shares at least one
    * exact chunk, so candidates come from an equi-join on
    * (chunk_idx, chunk_value) and the candidate set is COMPLETE for the
    * distance bound.
    *
    * Runs on [[bagGroups]]: identical word bags collapse to one
    * signature before banding (their pairs are emitted directly at
    * Hamming 0), and only distinct-bag group pairs go through the
    * candidate join — see bagGroups for why this is the scale shape.
    */
  def simHashNearDup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      pieces: Int = 4): DataFrame = {
    val groups = bagGroups(docs, textCol, idCol)
    val gpairs = simHashGroupPairs(docs, groups, textCol, idCol, maxHamming, pieces)
    expandGroupPairs(gpairs, groups)
      .unionByName(intraGroupPairs(groups).withColumn("hamming", lit(0)))
  }

  /** SimHash near-dup candidates computed directly per document — no bag
    * grouping. Same banding construction and Hamming residual as
    * [[simHashNearDup]], two fewer materialization jobs: the right shape
    * when the corpus slice is small or deduplication factor is low
    * (identical documents then just meet as Hamming-0 candidates). On a
    * heavily duplicated corpus prefer [[simHashNearDup]]: there the
    * within-group collisions this path pays for disappear into
    * [[bagGroups]].
    */
  def simHashNearDupDirect(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int,
      pieces: Int): DataFrame =
    // the per-document signature table goes through the SAME banding
    // self-join as the persisted-signature path — one definition, so a
    // join-predicate fix can never reach one and miss the other
    simHashPairsFromSigs(simHash(docs, textCol, idCol), maxHamming, pieces)
      .withColumnsRenamed(Map("rep_a" -> "id_a", "rep_b" -> "id_b"))

  /** One banded row per (doc, chunk subset): (id, simhash, ck) with ck
    * the packed (comboId << 48) | chunk-bits key — the whole key set per
    * fingerprint comes from one native
    * [[graft.functions.SimHashBandKeys]] call (the per-combo shift/OR
    * expression chains this replaces dominated the stage in Janino
    * compile time: C(pieces, shared) wide expressions on both sides of
    * the self-join). The fingerprint rides along so consumers can
    * evaluate the Hamming test inside the bucket join without re-joining
    * signatures.
    */
  /** Generic banded Hamming self-join over ANY long hash column —
    * COMPLETE for distance <= maxHamming by the multi-block pigeonhole
    * (a pair within maxHamming flips agrees exactly on at least
    * pieces - maxHamming of the `pieces` blocks; the band keys
    * enumerate every agreeing-block combination), then exact
    * `bit_count` verification on candidates only. The SimHash banding
    * machinery lifted off text signatures so any 64-bit perceptual or
    * locality hash (image dHash, audio fingerprints) gets the same
    * sub-quadratic near-dup join.
    */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, pieces: Int): DataFrame = {
    val banded = df.select(col(idCol).as("id"), col(hashCol).as("h"),
      explode(graft.functions.GraftFunctions.graftSimHashBands(
        col(hashCol), pieces, maxHamming)).as("ck"))
    banded.as("x").join(banded.as("y"),
        col("x.ck") === col("y.ck") && col("x.id") < col("y.id") &&
          expr("bit_count(x.h ^ y.h)") <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        expr("CAST(bit_count(x.h ^ y.h) AS BIGINT)").as("hamming"))
      .distinct()
  }

  private def bandedSignatures(sigs: DataFrame, maxHamming: Int, pieces: Int): DataFrame =
    sigs.select(col("id"), col("simhash"),
      explode(graft.functions.GraftFunctions.graftSimHashBands(
        col("simhash"), pieces, maxHamming)).as("ck"))

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates from
    * sign-LSH buckets (see [[Similarity.hyperplaneBucket]]) instead of a
    * cross join.
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      planes: Int = 8,
      dim: Int = 64): DataFrame = {
    val unit = Similarity.withUnitVector(embeddings, vecCol).select(
      col(idCol).as("id"), col("_unit"),
      Similarity.hyperplaneBucket(col("_unit"), planes, dim).as("bucket"))
    unit.as("x").join(unit.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .withColumn("cosine", Similarity.dot(col("x._unit"), col("y._unit")))
      .filter(col("cosine") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("cosine"))
  }

  /** Connected components over a near-dup pair graph: every node gets the
    * MINIMUM id reachable from it, so a "cluster" is the transitive
    * closure of pairwise near-duplicates and the component id doubles as
    * the canonical keep-id. This is the step that turns PAIRS (what LSH
    * emits) into GROUPS (what a curation pipeline actually deletes by):
    * near-duplicate similarity is not transitive, so without the closure
    * a chain A~B~C either keeps a duplicate or double-deletes, and a
    * pair-at-a-time "keep the smaller id" rule is order-dependent.
    *
    * Algorithm: iterative min-label propagation — labels start as own
    * ids, each round every node takes the min of its label and its
    * neighbors' labels (one equi-join + one min aggregate per round),
    * until a fixpoint. Rounds needed = graph diameter, and near-dup
    * graphs are dense little cliques-with-bridges (diameter a small
    * constant), so 3-4 rounds close real corpora; `maxIters` bounds the
    * pathological chain. Per round the shuffle carries (id, candidate
    * label) longs only — never text, never signatures. The convergence
    * probe is a LIMIT-1 existence check, not a collect. localCheckpoint
    * truncates the per-round lineage so the plan does not grow
    * exponentially across iterations (the standard Spark iterative-graph
    * hygiene; GraphX/GraphFrames do the same internally).
    *
    * Input: (id_a, id_b) pair rows (extra columns ignored).
    * Output: (id, component) for every id that appears in a pair.
    *
    * ADAPTIVE EXECUTION (optimization round): the pair list is pinned
    * once (it previously re-ran the upstream candidate pipeline for the
    * second union branch), counted, and — when it fits
    * `driverMaxEdges` — resolved with a driver-side union-find instead
    * of the iterative joins. Min-label propagation's fixpoint IS "every
    * node labeled with its component's minimum id", an all-integer
    * quantity with no ordering sensitivity, so the two paths are
    * exactly interchangeable (differential-tested in DedupSpec); the
    * broadcast-join analogy applies — pick the runtime by the measured
    * input size, not the worst case. Near-dup match graphs after
    * support filtering are typically thousands of edges, where the
    * 3-6 distributed rounds (join + aggregate + checkpoint + probe
    * each) are pure scheduling overhead; a corpus-scale graph stays on
    * the distributed path unchanged. One caveat: a small graph whose
    * diameter exceeds `maxIters` now resolves instead of throwing —
    * the throw guarded unconverged DISTRIBUTED output, and union-find
    * has no such state.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    val p = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      // reuse: counted, then resolved — q_dedup_cluster 0.42 s pinned
      // vs 0.53 s unpinned, q_entity_resolution 0.72 vs 0.91 s (sf0.1
      // ProfQ, warm medians of 3 JVMs a side)
      .localCheckpoint()
    val nEdges = p.count()
    if (nEdges <= driverMaxEdges) return connectedComponentsLocal(p, nEdges)
    val edges = p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint() // loop: the symmetric edges every round reads
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint() // loop: the initial labels
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // One aggregate produces BOTH the new label and the previous one
      // (each id has exactly one labels row, tagged _self=true, so
      // max(component WHERE _self) is the old label): the convergence
      // probe then reads the checkpointed result instead of re-joining
      // next against labels — one shuffle per round, not two.
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "b"), "b")
        .select(col("a").as("id"), col("component"),
          lit(false).as("_self"))
      val next = labels.withColumn("_self", lit(true))
        .unionByName(viaNeighbor)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          max(when(col("_self"), col("component"))).as("_old"))
        .localCheckpoint() // loop: per-round lineage cut
      converged = next.filter(col("component") =!= col("_old"))
        .limit(1).isEmpty
      labels = next.select(col("id"), col("component"))
      it += 1
    }
    // FAIL LOUD on non-convergence: returning the intermediate labels
    // would silently split one true component into several "clusters"
    // and a curation pass would keep multiple representatives of the
    // same duplicate group. min-label propagation converges in
    // O(component diameter) rounds; near-dup graphs have small
    // diameters, so hitting the cap means the graph (or maxIters) is
    // not what the caller thinks.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "a component's diameter exceeds maxIters; raise it (cost is " +
          "one join+aggregate per round) or pre-contract the graph")
    labels
  }

  /** Driver union-find over a collected (a, b) edge list — the small-
    * graph arm of [[connectedComponents]]. Path-halving find, union by
    * attaching the larger root id under the smaller, then every node
    * labeled with its root (== the component's minimum id, the same
    * fixpoint min-label propagation converges to). `nEdges` is the
    * count [[connectedComponents]] took of the pinned `p`.
    */
  private def connectedComponentsLocal(p: DataFrame, nEdges: Long): DataFrame = {
    val spark = p.sparkSession
    val es = DriverRows.collect(p, nEdges, "connectedComponents edge list (its count)")
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val g = parent.getOrElse(parent(r), parent(r))
        parent.update(r, g)
        r = g
      }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // smaller id becomes the root, so the root IS the component min
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    val rows = parent.keysIterator.map(v => (v, find(v))).toSeq.sorted
    spark.createDataFrame(rows).toDF("id", "component")
  }

  /** Cluster rows (id, component, cluster_size) from a pair graph —
    * [[connectedComponents]] plus the per-component size, the shape a
    * curation pass consumes directly (keep id == component, drop the
    * rest; size is the audit column).
    */
  def clusterMembers(pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("id"), col("component"), col("cluster_size"))
  }

  /** Benchmark decontamination report: for every training document that
    * shares at least one word n-gram with a held-out evaluation set,
    * the number of distinct shared shingles and of distinct benchmark
    * documents hit. Flagged documents are what a training pipeline drops
    * before the corpus ships — n-gram overlap against the eval set is
    * the standard test-set-contamination guard.
    *
    * Scale shape: the benchmark side is SMALL by construction (eval sets
    * are thousands of documents against a 100 TB corpus), so its
    * distinct (shingle, id) set is broadcast and the training corpus
    * never shuffles — contamination detection runs at scan speed over
    * the training side, aggregating only the hits. The shingle
    * computation per row is the codegen'd [[graft.functions.WordShingles]]
    * expression.
    */
  def contaminationReport(
      train: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    val trainSh = shingles(train, textCol, idCol, n)
    val benchSh = shingles(benchmark, textCol, idCol, n)
      .withColumnRenamed("id", "bench_id")
    trainSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_benchmark_docs"))
  }

  /** The EVAL-SIDE contamination audit — the inverse direction of
    * [[contaminationReport]] and the number eval-integrity writeups
    * actually publish: for every benchmark document, how many of ITS
    * n-gram shingles appear anywhere in the training corpus, and how
    * many training documents share at least one. All-integer output
    * (n_shingles, n_hit, n_train_docs) — consumers derive the
    * contamination ratio from the two exact counts, so no float ever
    * crosses an engine boundary.
    *
    * Scale shape: the benchmark shingle set is SMALL (eval sets are
    * thousands of docs) and broadcasts; the training corpus streams
    * through one broadcast inner join — no corpus-wide distinct, no
    * shuffle of training shingles; duplicate hits collapse in the
    * bench-keyed (small) aggregate. Zero-hit benchmark docs survive via
    * the final left join of two bench-sized aggregates.
    */
  def evalContaminationReport(
      train: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3): DataFrame = {
    val benchSh = shingles(benchmark, textCol, idCol, n)
      .withColumnRenamed("id", "bench_id")
    val perDoc = benchSh.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = shingles(train, textCol, idCol, n)
      .join(broadcast(benchSh.select(col("bench_id"), col("shingle"))),
        "shingle")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("shingle")).as("n_hit"),
        countDistinct(col("id")).as("n_train_docs"))
    perDoc.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id").as(idCol),
        col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
  }

  /** SemDedup-style embedding-cluster dedup (the public construction
    * from Abbas et al. 2023, "SemDedup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the corpus with
    * a coarse k-means quantizer, then drop near-identical pairs WITHIN a
    * cluster by cosine threshold. Complements [[embeddingNearDup]]'s
    * sign-LSH buckets with data-adaptive cells — on clustered corpora
    * the cells track the actual modes, so the within-cell candidate sets
    * are smaller for the same recall.
    *
    * Scale shape: cell assignment is one scan (centroids are broadcast
    * literals inside a codegen'd argmax — see [[IvfIndex.cellId]]); the
    * pair join is a cell-local equi-join, never all-pairs; the shuffle
    * key is the cell id, so each reducer scores one cell. Emitted rows
    * are (id_a, id_b, cell, cosine >= threshold) — the drop decision
    * (keep the min id per component) is [[clusterMembers]] downstream.
    *
    * Cosines are computed on unit vectors and ROUNDED before the
    * threshold so the pair set is engine-reproducible (same rationale as
    * [[graft.operators.Similarity.bruteForceTopK]]).
    */
  def semanticNearDup(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      roundTo: Int = 4): DataFrame =
    semanticNearDupAssigned(
      assignCells(embeddings, vecCol, idCol, centroids), threshold, roundTo)

  /** The (id, _unit, cell) frame [[semanticNearDup]] pairs over — split
    * out so a caller that needs BOTH the assignment (cell sizes, pair
    * volume) and the pairs computes the per-row unit vector + argmin
    * distance work once and reuses the materialized frame.
    */
  def assignCells(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    Similarity.withUnitVector(embeddings, vecCol).select(
      col(idCol).as("id"), col("_unit"),
      IvfIndex.cellId(Similarity.toDouble(col(vecCol)), centroids).as("cell"))

  /** Within-cell thresholded cosine pairs over a precomputed
    * [[assignCells]] frame.
    */
  def semanticNearDupAssigned(
      unit: DataFrame,
      threshold: Double,
      roundTo: Int = 4): DataFrame =
    unit.as("x").join(unit.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .withColumn("cosine",
        round(Similarity.dot(col("x._unit"), col("y._unit")), roundTo))
      .filter(col("cosine") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.cell").as("cell"), col("cosine"))

  /** Key-level dedup — keep the single best row per key under an
    * explicit ordering (CommonCrawl-style URL dedup: many snapshots of
    * the same canonical URL, keep the longest/freshest capture before
    * any content-level dedup runs). `ordering` decides the winner
    * (first column most significant); callers MUST make it total —
    * include a unique tiebreaker column or winners are
    * partition-order-dependent.
    *
    * Plan: one hash-partition window keyed on `key` — the group size is
    * the per-key duplication factor (bounded: snapshots of one URL),
    * never corpus-scale, and there is no global sort. This is the
    * row_number-over-key idiom, the cheapest "argmax per group" Spark
    * has: one shuffle, map-side nothing to combine, state = one row.
    */
  def keepBestPerKey(
      df: DataFrame,
      key: Column,
      ordering: Seq[Column]): DataFrame = {
    require(ordering.nonEmpty, "ordering must name at least one column")
    val w = Window.partitionBy(key).orderBy(ordering: _*)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
  }

  /** SPAN-LEVEL exact substring duplication (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * primitive, shingle-formulated): every k-word window that occurs
    * MORE THAN ONCE corpus-wide marks its positions as duplicated, and
    * per document the overlapping marked windows merge into maximal
    * spans — the regions a span-level deduplicator would cut. Output:
    * one row per document that contains at least one duplicated span,
    * (id, n_dup_spans, dup_words), where dup_words counts words covered
    * by the merged spans. Exact and case-sensitive by design (this is
    * the EXACT-substring counterpart of the Jaccard/LSH near-dup
    * family).
    *
    * Plan shape for 100 TB: positions explode once (corpus token
    * scale, the same cost class as every occurrence explode in
    * [[graft.operators.TermIndex]]); the duplicate filter is a
    * map-side-combinable count aggregate keyed on the shingle, applied
    * BEFORE the join back, so only duplicated windows — a small
    * fraction of a deduplicated crawl — re-join positions. Interval
    * merging is two windows partitioned BY DOCUMENT (bounded by
    * document length, never corpus-global). The duplicate-count key is
    * the 64-bit xxhash64 of the window (§2.3 shuffle keys, not
    * payloads: the raw k-word strings dominated the materialized
    * window stream and the count shuffle at ~8 bytes/word, and nothing
    * downstream ever reads the string — only (id, pos) survive the
    * duplicate filter). A hash collision (odds 2^-64 per distinct
    * window pair) could only merge two window groups and over-mark a
    * span; the oracle replays the same windows with exact strings, so
    * a collision that ever changed output would turn the gate red.
    */
  def duplicatedSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "duplicatedSpans needs k >= 2")
    val toks = docs
      .select(col(idCol).as("id"), TextAnalysis.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= k)
    // 1-based window start positions, shingle key = xxhash64 of the k
    // words joined on a single space (whitespace runs inside the text
    // collapse, so the join is injective on the word sequence).
    val sh = toks.select(col("id"), explode(transform(
        sequence(lit(1), size(col("_w")) - (k - 1)),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("_w"), i, lit(k)))).as("sh")))).as("_p"))
      .select(col("id"), col("_p.pos").as("pos"), col("_p.sh").as("sh"))
      // reuse: feeds the duplicate count AND the position join-back — the
      // window explode is the corpus-scale cost and must run once
      // (q_dedup_substring 0.91 s pinned vs 1.32 s unpinned at sf0.1)
      .localCheckpoint()
    val dup = sh.groupBy(col("sh")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
    val hits = sh.join(dup, "sh").select(col("id"), col("pos"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(k)).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("_new",
        // strict >: a window starting exactly where the previous span
        // ends extends one contiguous duplicated region — merge it.
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("_span", sum(col("_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("_span"))
      .agg(min(col("pos")).as("_s"), (max(col("pos")) + lit(k)).as("_e"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("_e") - col("_s")).as("dup_words"))
      .withColumnRenamed("id", idCol)
  }
}
