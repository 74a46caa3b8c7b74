package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.graftDot

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * partitions the corpus into `nlist` cells; a query scores only the
  * `nprobe` cells whose centroids are nearest — the other standard ANN
  * scale path next to sign-LSH ([[Similarity.lshTopK]]), the public
  * inverted-file design popularized by the FAISS/IVFADC line of work
  * (here without product quantization: cells prune, cosine ranks).
  *
  * The coarse quantizer here is deterministic Lloyd's k-means over a
  * bounded driver-side sample (seeded reservoir by id order), which is
  * the honest Spark shape for index BUILD at 100 TB: centroids are tiny
  * (nlist x dim doubles, broadcast as literals inside a codegen'd
  * expression), assignment is one scan, and the cell id becomes a
  * partition/bucket key for the stored index. Unlike LSH the cells adapt
  * to the data distribution, so clustered corpora probe far fewer rows
  * for the same recall.
  */
object IvfIndex {

  /** Deterministic k-means centroids from a sample of the corpus.
    *
    * @param sampleSize driver-side cap: rows are taken in ascending id
    *                   order (deterministic across runs/partitionings).
    */
  def trainCentroids(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int = 16,
      iters: Int = 10,
      sampleSize: Int = 2048): Array[Array[Double]] =
    lloyd(trainingSample(embeddings, vecCol, idCol, sampleSize), nlist, iters)

  /** The first `sampleSize` vectors in ascending id order (deterministic
    * across runs and partitionings) — the training sample of the coarse
    * quantizer and of [[PqIndex]]'s codebooks.
    */
  private[operators] def trainingSample(embeddings: DataFrame, vecCol: String,
      idCol: String, sampleSize: Int): Array[Array[Double]] =
    embeddings.orderBy(col(idCol)).limit(sampleSize)
      .select(Similarity.toDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Deterministic Lloyd's over an in-memory sample — shared by the
    * coarse quantizer above and [[PqIndex]]'s per-subspace codebooks.
    */
  private[operators] def lloyd(
      sample: Array[Array[Double]],
      nlist: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.length >= nlist, s"sample ${sample.length} < nlist $nlist")
    val dim = sample.head.length
    // init: evenly-spaced sample points (deterministic, spread out)
    var centroids = Array.tabulate(nlist)(i => sample(i * sample.length / nlist))
    (1 to iters).foreach { _ =>
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  private[operators] def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var j = 0
      while (j < v.length) { val x = v(j) - cs(c)(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cell id column: argmin over centroid L2 distances (||v||^2 is common
    * to all cells, so argmin d^2 == argmax (2 v.c - ||c||^2), one
    * graftDot per centroid). Argmax is array_position(arr, array_max(arr))
    * — flat expression size in nlist (a when-fold would double the tree
    * per centroid); ties resolve to the FIRST maximal cell, matching the
    * strict-< driver-side assignment in [[trainCentroids]].
    */
  def cellId(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scores = centroids.map { c =>
      val c2 = c.map(x => x * x).sum
      graftDot(vec, lit(c)) * 2.0 - lit(c2)
    }
    val arr = array(scores.toIndexedSeq: _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  /** Standing-store assignment rows: (id, cell, vec) for a batch of
    * embeddings under FROZEN centroids — the persisted half of an IVF
    * deployment (FAISS `add_with_ids` semantics): the coarse quantizer
    * trains once on the standing corpus, the store lays out
    * `partitionBy(cell)`, and new vectors append as one row-local scan
    * (assignment touches nothing standing). Because assignment is a
    * pure per-row function of (vector, centroids), an incrementally
    * maintained store is EXACTLY a from-scratch assignment of
    * everything — the merged==fresh property q_ivf_incr gates.
    */
  def assign(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    embeddings.select(col(idCol).as("id"),
      cellId(col(vecCol), centroids).as("cell"),
      Similarity.toDouble(col(vecCol)).as("vec"))

  /** Retrieval over a persisted (id, cell, vec) store: the query's
    * `nprobe` nearest cells are computed driver-side from the tiny
    * centroid table, and the cell filter hits the store's partition
    * layout as PARTITION PRUNING — at 100 TB a query reads nprobe/nlist
    * of the index and nothing else. Same probe/rank arithmetic as
    * [[ivfTopK]] (which recomputes assignment on the fly — the
    * index-build-time path; this is the query-time path).
    */
  /** The query's `nprobe` nearest cells, computed driver-side with the
    * SAME score formula as cell assignment (2 q.c - ||c||^2, sequential
    * sums, ties on cell id) — the single definition both the build-time
    * ([[ivfTopK]]) and query-time ([[ivfTopKFromStore]]) paths share,
    * so the "same probe arithmetic" contract can never drift.
    */
  private[operators] def probeCellsOf(
      q: Array[Double],
      centroids: Array[Array[Double]],
      nprobe: Int): Array[Int] = {
    require(q.length == centroids.head.length,
      s"query dim ${q.length} != centroid dim ${centroids.head.length}")
    centroids.zipWithIndex
      .map { case (c, i) =>
        val score = 2.0 * c.zip(q).map { case (x, y) => x * y }.sum -
          c.map(x => x * x).sum
        (score, i)
      }
      .sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)
  }

  /** Shared cosine-rank tail of the two probe paths: zero-norm rows
    * score 0 ([[Similarity.cosineToQuery]]'s convention — NaN would
    * rank first in the descending sort).
    */
  private def rankProbed(probed: DataFrame, v: Column, id: Column,
      queryVec: Seq[Double], k: Int, roundTo: Int): DataFrame = {
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    Similarity.requireQueryNorm(qNorm)
    val cos = Similarity.cosineToQuery(v, queryVec, qNorm)
    probed
      .withColumn("cosine", if (roundTo >= 0) round(cos, roundTo) else cos)
      .select(id, col("cosine"))
      .orderBy(col("cosine").desc, id)
      .limit(k)
  }

  def ivfTopKFromStore(
      store: DataFrame,
      queryVec: Seq[Double],
      centroids: Array[Array[Double]],
      k: Int = 10,
      nprobe: Int = 4,
      roundTo: Int = -1): DataFrame = {
    val probeCells = probeCellsOf(queryVec.toArray, centroids, nprobe)
    rankProbed(
      store.filter(col("cell").isin(probeCells.toIndexedSeq: _*)),
      col("vec"), col("id"), queryVec, k, roundTo)
  }

  /** ANN top-k: score only rows whose cell is among the query's `nprobe`
    * nearest centroids, then exact-cosine rank (same contract as
    * [[Similarity.lshTopK]]).
    */
  def ivfTopK(
      embeddings: DataFrame,
      vecCol: String,
      idCol: String,
      queryVec: Seq[Double],
      centroids: Array[Array[Double]],
      k: Int = 10,
      nprobe: Int = 4,
      roundTo: Int = -1): DataFrame = {
    val probeCells = probeCellsOf(queryVec.toArray, centroids, nprobe)
    val v = col(vecCol)
    rankProbed(
      embeddings
        .withColumn("_cell", cellId(v, centroids))
        .filter(col("_cell").isin(probeCells.toIndexedSeq: _*)),
      v, col(idCol), queryVec, k, roundTo)
  }
}
