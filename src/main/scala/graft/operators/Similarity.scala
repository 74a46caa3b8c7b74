package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{graftDot, graftNorm2}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Two tiers:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — one codegen'd projection
  *    followed by a distributed TakeOrdered; the correctness baseline and
  *    fine up to ~10^7 vectors.
  *  - [[lshTopK]]: sign-random-projection LSH — deterministic hyperplanes
  *    from a fixed seed hash the corpus into 2^planes buckets; the query
  *    probes its own bucket (multi-probe: plus Hamming-1 neighbors), so at
  *    100 TB the scan prunes to ~corpus/2^planes with bucket as a
  *    partition key.
  *
  * All vector math goes through the native [[graft.functions.DotProduct]]
  * expression (tight primitive loop inside whole-stage codegen — no UDFs,
  * no interpreted higher-order functions, no per-element boxing).
  */
object Similarity {

  /** Codegen'd dot product of two numeric arrays (float or double). */
  def dot(a: Column, b: Column): Column = graftDot(a, b)

  def norm(a: Column): Column = sqrt(graftNorm2(a))

  def toDouble(vec: Column): Column = transform(vec, x => x.cast("double"))

  /** Adds `_unit`: the L2-normalized double-precision copy of vecCol.
    * A zero-norm vector normalizes to ITSELF (all zeros) rather than a
    * NaN array, so downstream cosines read 0 — the [[cosineToQuery]]
    * zero-norm convention.
    */
  def withUnitVector(df: DataFrame, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    df.withColumn("_dvec", v)
      .withColumn("_norm", norm(col("_dvec")))
      .withColumn("_unit", when(col("_norm") === 0.0, col("_dvec"))
        .otherwise(transform(col("_dvec"), x => x / col("_norm"))))
      .drop("_dvec")
  }

  /** Cosine of a corpus vector against a literal query, with the
    * ZERO-NORM CONVENTION: a zero-norm (or null) corpus vector scores
    * 0.0 — "no direction, similar to nothing". Without the guard,
    * 0/0 = NaN, and Spark orders NaN ABOVE every double, so a single
    * all-zeros padding vector would rank FIRST in every descending
    * cosine top-k (and null rows would float wherever the sort's null
    * default puts them). Query-side zero norms are rejected by the
    * callers' require instead — a directionless query has no answer.
    * (The harness corpora contain no zero/null vectors, so the gates'
    * oracle parity is unaffected; the convention matters for library
    * callers with padded or missing embeddings.)
    */
  private[operators] def cosineToQuery(
      v: Column, queryVec: Seq[Double], qNorm: Double): Column = {
    val n2 = graftNorm2(v)
    when(v.isNull || n2 === 0.0, lit(0.0))
      .otherwise(graftDot(v, lit(queryVec.toArray)) / (sqrt(n2) * lit(qNorm)))
  }

  /** The callers' query-side guard. */
  private[operators] def requireQueryNorm(qNorm: Double): Unit =
    require(qNorm > 0.0 && !qNorm.isNaN,
      "query vector must have a nonzero finite norm")

  /** Exact top-k by cosine similarity against a literal query vector.
    * sort+limit compiles to TakeOrderedAndProject: each partition keeps its
    * local k, the driver merges — no full shuffle-sort.
    *
    * `roundTo >= 0` rounds the cosine to that many digits BEFORE ranking,
    * so the (score, id) ordering is reproducible by any engine that agrees
    * on the rounded value — two vectors whose exact cosines differ only
    * past the rounding digit tie-break deterministically by id instead of
    * by sub-ULP noise.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int = 10,
      roundTo: Int = -1): DataFrame = {
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    requireQueryNorm(qNorm)
    val v = col(vecCol)
    val cos = cosineToQuery(v, queryVec, qNorm)
    embeddings
      .withColumn("cosine", if (roundTo >= 0) round(cos, roundTo) else cos)
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (seed fixed) — public
    * sign-random-projection construction. Generation lives in
    * [[graft.functions.LshBucketUtil]] so the native bucket expression
    * and this operator layer can never drift.
    */
  private[graft] def hyperplanes(planes: Int, dim: Int = 64): Array[Array[Double]] =
    graft.functions.LshBucketUtil.hyperplanes(planes, dim)

  /** Bucket id = sign bits of the vector against `planes` hyperplanes.
    * Scale-invariant (sign of v·h), so it works on raw or unit vectors.
    *
    * Formulation note (A/B measured): this single-table bucket is used
    * as a JOIN KEY, where the inlined literal-plane sign tests stay
    * primitive long arithmetic inside codegen and win ~2.5x over the
    * native array-returning call (join keys are evaluated repeatedly —
    * partitioning hash, sort, compare — and each native evaluation
    * allocates its result array). The native [[graft.functions.LshBuckets]]
    * call wins in the opposite regime — the multi-table PROBE FILTER in
    * [[lshTopK]], where planes x tables literal planes are a codegen
    * compile bomb and the bucket array is computed once per row.
    */
  def hyperplaneBucket(vec: Column, planes: Int, dim: Int = 64): Column = {
    require(planes >= 1 && planes <= 64,
      s"planes $planes outside [1, 64] — the bucket packs sign bits into one Long")
    val hp = hyperplanes(planes, dim)
    hp.indices.map { i =>
      when(graftDot(vec, lit(hp(i))) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  private def scalarBucket(v: Seq[Double], hp: Array[Array[Double]]): Long =
    hp.indices.map { i =>
      val d = v.zip(hp(i)).map { case (x, y) => x * y }.sum
      if (d >= 0) 1L << i else 0L
    }.reduce(_ | _)

  /** The `tables` hash tables' hyperplane sets: table t uses rows
    * [t*planes, (t+1)*planes) of one deterministic draw, so adding tables
    * never changes earlier tables' buckets.
    */
  private[graft] def tableHyperplanes(
      planes: Int, tables: Int, dim: Int): Array[Array[Array[Double]]] =
    hyperplanes(planes * tables, dim).grouped(planes).toArray

  /** ANN top-k via multi-table sign-LSH: `tables` independent hyperplane
    * sets; a vector is scored iff in SOME table its bucket matches the
    * query bucket or differs by one bit (multi-probe). Recall compounds
    * across tables (1-(1-p)^L) while the scanned fraction stays ~
    * L*(planes+1)/2^planes of the corpus — the standard quality/cost lever
    * for sign-random-projection LSH. The bucket filter is one codegen'd
    * scan predicate (L*planes dot products per row), and bucket columns
    * are partitionable keys at 100 TB.
    *
    * Note the regime: LSH prunes when near neighbors are meaningfully
    * closer than the bulk (real embedding corpora). On uniform random
    * vectors no sublinear index helps — raise `tables`/`planes` toward a
    * fuller scan, or use [[bruteForceTopK]] (codegen + TakeOrdered), which
    * is exact and already distributed.
    */
  def lshTopK(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int = 10,
      planes: Int = 8,
      tables: Int = 1,
      roundTo: Int = -1,
      maxHamming: Int = 1): DataFrame = {
    require(planes >= 1 && planes <= 64,
      s"planes $planes outside [1, 64] — buckets pack into one Long")
    val dim = queryVec.length
    val hps = tableHyperplanes(planes, tables, dim)
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    requireQueryNorm(qNorm)
    val v = col(vecCol)
    // All table buckets from ONE native call per row (sign is
    // scale-invariant, so the raw vector is fine); "bucket within
    // `maxHamming` sign flips of the query's" is a bit_count test per
    // table over the materialized bucket array — widening maxHamming is
    // the multi-probe recall lever (scan fraction per table is
    // Σ_{i<=H} C(planes,i)/2^planes). The exact cosine only runs on
    // rows surviving some table's probe.
    val qBuckets = hps.map(hp => scalarBucket(queryVec, hp))
    val bks = graft.functions.GraftFunctions.graftLshBuckets(v, planes, tables, dim)
    val tableHit: Seq[Column] = hps.indices.map { t =>
      bit_count(element_at(col("_bks"), t + 1).bitwiseXOR(lit(qBuckets(t)))) <= maxHamming
    }
    val cos = cosineToQuery(v, queryVec, qNorm)
    embeddings
      .withColumn("_bks", bks)
      .filter(tableHit.reduce(_ || _))
      .withColumn("cosine", if (roundTo >= 0) round(cos, roundTo) else cos)
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric per-vector int8 quantization — the memory/bandwidth scale
    * path for vector search: at 100 TB of embeddings, float32 storage is
    * 4x the footprint of int8, and a brute-force or IVF-cell scan over
    * int8 codes moves a quarter of the bytes (the public scalar-
    * quantization construction every production vector store ships).
    *
    * scale = max|v| / 127; code_i = clamp(floor(v_i/scale + 0.5), ±127).
    * floor(x + 0.5) rather than round() pins the half-way tie rule to
    * one deterministic direction across engines. Codes are stored as
    * integer-VALUED floats so the same native [[graft.functions.DotProduct]]
    * codegen path scores them; with |code| <= 127 and dim 64 the dot is
    * at most 2^20 — exact in float arithmetic, so quantized scores are
    * bit-reproducible.
    *
    * Adds `_q` (quantized code array) and `_qscale` (the per-vector
    * scale, kept for asymmetric/reconstruction use).
    */
  def withInt8Codes(df: DataFrame, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    val scale = greatest(array_max(transform(v, x => abs(x))) / lit(127.0),
      lit(1e-30))
    df.withColumn("_qscale", scale)
      .withColumn("_q", transform(toDouble(col(vecCol)),
        x => greatest(least(floor(x / col("_qscale") + lit(0.5)),
          lit(127.0)), lit(-127.0)).cast("float")))
  }

  /** Exact top-k by QUANTIZED cosine against the int8 codes — same
    * TakeOrderedAndProject shape as [[bruteForceTopK]], but every score
    * reads the 4x-smaller code array. Per-vector scales cancel in the
    * cosine, so ranking needs no dequantization.
    */
  def int8TopK(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int = 10,
      roundTo: Int = 4): DataFrame = {
    requireQueryNorm(math.sqrt(queryVec.map(x => x * x).sum))
    val qscale = math.max(queryVec.map(math.abs).max / 127.0, 1e-30)
    val qCode = queryVec.map(x =>
      math.max(math.min(math.floor(x / qscale + 0.5), 127.0), -127.0))
    val qNorm = math.sqrt(qCode.map(x => x * x).sum)
    val coded = withInt8Codes(embeddings, vecCol)
    // zero-norm convention (see cosineToQuery): an all-zeros code —
    // only a zero-norm raw vector produces one — scores 0.0, never NaN
    val n2 = graftNorm2(col("_q"))
    val cos = when(col("_q").isNull || n2 === 0.0, lit(0.0))
      .otherwise(graftDot(col("_q"), lit(qCode.toArray)) /
        (sqrt(n2) * lit(qNorm)))
    coded
      .withColumn("q_cosine", round(cos, roundTo))
      .select(col(idCol), col("q_cosine"))
      .orderBy(col("q_cosine").desc, col(idCol))
      .limit(k)
  }

  /** Centroid-distance outlier scoring — the embedding-space data-pruning
    * signal (the SemDedup/SSL-prototypes family): assign every vector to
    * its nearest trained centroid (same squared-Euclidean argmin as the
    * IVF index), score it by cosine to that centroid's unit vector, and
    * return the k MOST OUTLYING rows (lowest cosine — far from every
    * mode of the corpus: mislabeled junk, off-distribution content, or
    * the long tail worth manual review).
    *
    * The cosine is rounded BEFORE ranking ([[bruteForceTopK]]'s
    * reproducibility contract) and ties break on the id, so the k-row
    * result is engine-exact. `unitCentroids` must be the normalized
    * copies of `centroids` (callers persist both so an external checker
    * scores with bit-identical constants).
    *
    * Plan shape: centroids are LITERALS (driver-broadcast by
    * construction, nlist-bounded), so assignment + scoring is one
    * scan-speed projection; the top-k is sort+limit =
    * TakeOrderedAndProject (per-partition heaps, driver merge of
    * k-row spills — never a global sort); the rank window runs over
    * exactly k collected rows.
    */
  def centroidOutlierScores(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      unitCentroids: Array[Array[Double]],
      k: Int,
      roundTo: Int = 4): DataFrame = {
    require(centroids.nonEmpty && centroids.length == unitCentroids.length,
      "centroids and unitCentroids must be parallel, non-empty arrays")
    val unit = withUnitVector(df, vecCol)
    val cosines = unitCentroids.map(cu =>
      round(dot(col("_unit"), lit(cu)), roundTo))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("centroid_cos"), col(idCol))
    unit
      .withColumn("cell", IvfIndex.cellId(toDouble(col(vecCol)), centroids))
      .withColumn("centroid_cos",
        element_at(array(cosines.toIndexedSeq: _*), col("cell") + 1))
      .select(col(idCol), col("cell"), col("centroid_cos"))
      .orderBy(col("centroid_cos"), col(idCol))
      .limit(k)
      .withColumn("outlier_rank", row_number().over(w))
  }

  /** Hard-negative mining for contrastive embedding training (the
    * DPR/E5 recipe, Karpukhin et al. 2020 §3.2): for each labeled
    * query vector, rank the corpus by cosine and keep the top-k; a
    * top-k member whose label disagrees with the query's is a HARD
    * negative — the high-similarity wrong-class item a bi-encoder
    * learns the most from — while agreeing labels are in-class
    * positives (and candidate false negatives a curation pass should
    * re-label rather than train against).
    *
    * Plan: the query panel BROADCASTS into one corpus scan; per-query
    * state is bounded by [[TopK.perGroupAgg]]'s k-element heap
    * aggregate, so the shuffle moves at most panel x k winner rows.
    * Ranking uses the ROUNDED cosine (ties then vec_id) so the top-k
    * boundary is engine-reproducible. For corpus-scale query sets,
    * route candidate generation through the IVF probes
    * ([[IvfIndex]]) instead of the exhaustive scan — the mining rule
    * downstream of the candidate join is identical.
    */
  def hardNegatives(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      labelCol: String,
      isQuery: Column,
      k: Int,
      roundTo: Int = 4): DataFrame = {
    val queries = embeddings.filter(isQuery)
      .select(col(idCol).as("q_id"), col(labelCol).as("_ql"),
        toDouble(col(vecCol)).as("_qv"))
    val corpus = embeddings.filter(!isQuery)
      .select(col(idCol), col(labelCol).as("_cl"),
        toDouble(col(vecCol)).as("_cv"))
    // zero-norm convention: a directionless side scores 0, never NaN
    // (NaN would silently distort the per-query heap boundary)
    val n2c = graftNorm2(col("_cv"))
    val n2q = graftNorm2(col("_qv"))
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine",
        round(when(n2c === 0.0 || n2q === 0.0, lit(0.0))
          .otherwise(dot(col("_cv"), col("_qv")) /
            (sqrt(n2c) * sqrt(n2q))), roundTo))
    TopK.perGroupAgg(scored, Seq(col("q_id")),
        sortKey = struct(negate(col("cosine")), col(idCol)), k = k)
      .select(col("q_id"), col("rn"), col(idCol), col("cosine"),
        (col("_cl") =!= col("_ql")).as("is_hard_negative"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * from the `shortlist` most query-similar candidates, greedily select
    * `k` maximizing `lambda*rel(d) - (1-lambda)*max_{s in S} sim(d, s)`
    * — relevance traded against redundancy with what is already
    * selected, the standard diversity re-rank for retrieval-augmented
    * training data (near-duplicate passages crowd out coverage).
    *
    * Plan shape: candidate generation is the DISTRIBUTED
    * [[bruteForceTopK]] scan (swap in [[lshTopK]]/[[IvfIndex]] probes at
    * corpus scale — the greedy stage is identical); the m-candidate
    * relevance list and m^2 pairwise-cosine table are computed
    * distributed, then collected — BOUNDED driver state by construction
    * (m is a constant knob like k-center's k, never corpus-sized: the
    * greedy argmax is inherently sequential over <= m*k comparisons, a
    * few thousand doubles — a Spark job per step would be all overhead).
    *
    * Determinism contract (engine-replayable, [[bruteForceTopK]]'s
    * discipline): rel and pairwise sims are ROUNDED to `roundTo` before
    * any comparison; rank-1 is pure relevance (empty selected set) with
    * `mmr_score = rel`; later scores compare raw IEEE doubles computed
    * as `lambda*rel - (1-lambda)*maxSim` from the rounded inputs; ties
    * break on the id ascending. `mmr_score` is rounded only for output.
    */
  def mmrRerank(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      k: Int,
      shortlist: Int,
      lambda: Double,
      roundTo: Int = 4): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1 (got $k, $shortlist)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda $lambda outside [0, 1]")
    val spark = embeddings.sparkSession
    val cand = bruteForceTopK(embeddings, vecCol, idCol, queryVec,
      k = shortlist, roundTo = roundTo)
      .select(col(idCol).cast("long").as("id"), col("cosine").as("rel"))
      // reuse: two collects read the shortlist, and unpinned the
      // second re-runs the whole-table top-k (a full scan and its
      // exchange); a wash at sf0.1, 0.50 s pinned vs 0.50 s unpinned,
      // kept for the corpus-scale rescan
      .localCheckpoint()
    val vecs = embeddings
      .select(col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v"))
      .join(cand.select(col("id")), Seq("id"), "left_semi")
    val a = vecs.select(col("id").as("a"), col("v").as("va"))
    val b = vecs.select(col("id").as("b"), col("v").as("vb"))
    val n2a = graftNorm2(col("va"))
    val n2b = graftNorm2(col("vb"))
    // zero-norm convention (see cosineToQuery): directionless scores 0
    val pairSims = a.join(broadcast(b), col("a") < col("b"))
      .select(col("a"), col("b"),
        round(when(n2a === 0.0 || n2b === 0.0, lit(0.0))
          .otherwise(dot(col("va"), col("vb")) / (sqrt(n2a) * sqrt(n2b))),
          roundTo).as("sim"))
    val relRows = DriverRows.collect(cand.orderBy(col("rel").desc, col("id")),
        shortlist, s"mmrRerank shortlist (shortlist=$shortlist)")
      .map(r => r.getLong(0) -> r.getDouble(1))
    // one row per unordered pair of distinct shortlisted ids
    val simMap = DriverRows.collect(pairSims, shortlist.toLong * (shortlist - 1) / 2,
        s"mmrRerank shortlist pairs (shortlist=$shortlist; ids must be unique)")
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def simOf(x: Long, y: Long): Double =
      if (x < y) simMap((x, y)) else simMap((y, x))
    val rel = relRows.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(relRows.map(_._1): _*)
    while (selected.length < math.min(k, relRows.length)) {
      val best =
        if (selected.isEmpty) (relRows.head._1, relRows.head._2)
        else remaining.iterator.map { id =>
          val maxSim = selected.iterator.map(s => simOf(s._1, id)).max
          (id, lambda * rel(id) - (1.0 - lambda) * maxSim)
        }.minBy { case (id, score) => (-score, id) }
      selected += best
      remaining -= best._1
    }
    import spark.implicits._
    selected.zipWithIndex.map { case ((id, score), i) =>
      (i + 1, id, rel(id), BigDecimal(score).setScale(roundTo,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF("mmr_rank", idCol, "rel", "mmr_score")
  }
}
