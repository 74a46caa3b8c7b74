package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.graftDot

/** Product quantization ANN (the FAISS IVFADC family's compression
  * half, Jégou et al. 2011 "Product Quantization for Nearest Neighbor
  * Search"): split each d-dim vector into `m` subspaces of d/m dims,
  * learn a small codebook per subspace (deterministic Lloyd's over an
  * id-ordered sample — [[IvfIndex.lloyd]]), and store each vector as m
  * small codes. A 64-float vector becomes 8 bytes — the 32x memory cut
  * that makes billion-vector indexes fit in RAM, which is the entire
  * 100 TB argument: the scored table is CODES, not floats.
  *
  * Query scoring is ADC (asymmetric distance computation): the query
  * stays un-quantized; per subspace a `ksub`-entry lookup table holds
  * the squared distance from the query's sub-vector to each codeword,
  * and a row's approximate distance is the SUM of m table lookups —
  * no float vector is ever touched at scan time. The tables are tiny
  * driver-side literals (m·ksub doubles) compiled into the scan.
  *
  * Engine-reproducibility: codebooks are deterministic (seed-free
  * Lloyd's on an id-ordered sample); code assignment maximizes
  * 2·v.c − ||c||² with first-wins ties (the [[IvfIndex.cellId]]
  * contract an external engine replays from the dumped codebooks);
  * each ADC table entry is computed with the EXACT algebra the oracle
  * replays — dot(q,q) − 2·dot(q,c) + dot(c,c), sequential sums — and
  * the m-term ADC sum folds left-to-right, so the rounded distances
  * agree bit-for-bit.
  */
object PqIndex {

  /** Per-subspace codebooks from an id-ordered driver-side sample.
    * Returns `m` codebooks of `ksub` centroids of d/m dims each.
    */
  def trainCodebooks(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 10,
      sampleSize: Int = 2048): Array[Array[Array[Double]]] = {
    val sample = IvfIndex.trainingSample(embeddings, vecCol, idCol, sampleSize)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      IvfIndex.lloyd(sub, ksub, iters)
    }
  }

  /** The m code columns for a vector column — each the first-wins
    * argmax of 2·v_s.c − ||c||² over that subspace's codebook (the
    * [[IvfIndex.cellId]] expression on the sub-vector slice).
    */
  def codeColumns(vec: Column, codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, s) =>
      IvfIndex.cellId(slice(vec, s * dsub + 1, dsub), cb)
    }.toSeq
  }

  /** ADC top-k: encode the corpus, build the query's m x ksub distance
    * tables driver-side, and rank rows by the sum of table lookups —
    * approximate squared L2 distance ascending, id tie-break. The
    * rounded distance is the ranking key so top-k membership is
    * engine-stable.
    */
  /** The rounded ADC distance column for ONE query over pre-computed
    * code columns — the scoring half of [[adcTopK]], exposed so a
    * multi-query eval panel can score EVERY query in a single corpus
    * pass: the m code columns are query-independent and computed once
    * per row, and each additional query costs only m table lookups.
    * Identical table algebra and left-to-right fold to [[adcTopK]]
    * (which delegates here), so rankings agree bit-for-bit with the
    * oracle's replay.
    */
  def adcDistExpr(
      codes: Seq[Column],
      queryVec: Seq[Double],
      codebooks: Array[Array[Array[Double]]],
      roundTo: Int = 6): Column = {
    val q = queryVec.toArray
    val dsub = codebooks.head.head.length
    require(q.length == codebooks.length * dsub,
      s"query dim ${q.length} != m*dsub = ${codebooks.length * dsub} — " +
        "a shorter query would silently truncate the last subspaces' tables")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }
      s
    }
    // Table entry algebra mirrored by the oracle verbatim:
    // d2 = dot(qs,qs) - 2*dot(qs,c) + dot(c,c), sequential sums.
    val tables: Array[Array[Double]] = codebooks.zipWithIndex.map { case (cb, s) =>
      val qs = q.slice(s * dsub, (s + 1) * dsub)
      cb.map(c => dot(qs, qs) - 2.0 * dot(qs, c) + dot(c, c))
    }
    // left-to-right fold matches the oracle's explicit t0 + t1 + ... sum
    round(codes.zipWithIndex.map { case (code, s) =>
      element_at(lit(tables(s)), code + 1)
    }.reduce(_ + _), roundTo)
  }

  def adcTopK(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      codebooks: Array[Array[Array[Double]]],
      k: Int = 10,
      roundTo: Int = 6): DataFrame = {
    val v = Similarity.toDouble(col(vecCol))
    val codes = codeColumns(v, codebooks)
    embeddings
      .withColumn("adc_dist", adcDistExpr(codes, queryVec, codebooks, roundTo))
      .select(col(idCol), col("adc_dist"))
      // nulls LAST: a null embedding yields a null code chain and a null
      // distance; the ascending sort's NULLS FIRST default would let k
      // null rows fill the whole top-k
      .orderBy(col("adc_dist").asc_nulls_last, col(idCol))
      .limit(k)
  }
}
