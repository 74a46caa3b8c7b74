package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation joins for the hot-key case AQE cannot always save:
  * a shuffle join where a handful of keys own a large fraction of the
  * rows, so the tasks holding those keys straggle (or OOM) while the rest
  * of the cluster idles.
  *
  * AQE's skew-join split (on by default) already handles most sort-merge
  * skew by splitting oversized partitions, so PREFER plain joins + AQE.
  * Salting is for the residual cases: aggregate-after-join pipelines where
  * one key's partition exceeds what a single task can hold, or a
  * broadcast-ineligible dimension joined on a power-law key.
  *
  * [[saltedJoin]] decomposes `big JOIN small ON keys` as:
  *  - big side: deterministic salt in [0, factor) from a hash of the whole
  *    row's spread columns — splits each hot key's rows across `factor`
  *    shuffle partitions;
  *  - small side: replicated `factor` times (one copy per salt value) via
  *    an explode of a literal sequence — no extra shuffle of the big side
  *    beyond the join itself, small side grows by `factor`.
  * Join keys become (keys :+ salt), restoring exact join semantics for
  * inner/left joins (every big row still meets every matching small row
  * exactly once).
  */
object SkewJoin {

  /** Deterministic salt for a row: spread the big side's rows uniformly
    * without RNG (reproducible plans, works under retries/speculation —
    * a nondeterministic salt recomputed for a lost shuffle block while
    * other blocks keep their old values can double-count or drop rows).
    *
    * LIMITATION of any deterministic salt: rows IDENTICAL in the spread
    * columns hash to the same salt, so a hot key whose payloads repeat
    * verbatim does not spread. Callers with duplicate payloads should
    * pass a unique row id in `spreadCols` — a truly content-identical
    * row set has no deterministic handle to split on.
    */
  private def salt(spreadCols: Seq[Column], factor: Int): Column =
    pmod(hash(spreadCols: _*), lit(factor))

  /** `big.join(small, keys, joinType)` with hot-key salting. `joinType`
    * must be "inner" or "left" (right/full-outer would need the salted
    * small side deduplicated on the probe-miss path — use AQE for those).
    *
    * @param spreadCols columns of `big` whose hash spreads a hot key's
    *                   rows; default = all non-key columns.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      factor: Int = 16,
      spreadCols: Seq[String] = Nil): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, got $joinType")
    require(factor > 0, "factor must be positive")
    val spread =
      (if (spreadCols.nonEmpty) spreadCols
       else big.columns.toSeq.filterNot(keys.contains)) match {
        case Nil => keys // degenerate: key-only relation, salt is moot
        case cs  => cs
      }
    val saltedBig = big.withColumn("_salt", salt(spread.map(col), factor))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    saltedBig.join(replicated, keys :+ "_salt", joinType).drop("_salt")
  }
}
