package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based merge primitives.
  *
  * The reference implements upsert as a per-row SELECT-then-write loop
  * (N+1 round trips, reference ingestion/service.py:83-106) and full-update
  * deactivation as one bulk UPDATE (service.py:73-81). Both are re-expressed
  * here as single distributed plans:
  *
  *  - upsert      = full-outer equi-join on the natural key + column-wise
  *                  COALESCE(staged, target);
  *  - deactivate  = left-anti membership against the ingested key set.
  *
  * Scale notes (100 TB): the join shuffles both sides by the key — with the
  * target table written `partitionBy(client_id)` (see [[ProductStore]]) a
  * single client's batch touches only its partition (only its touched sku
  * buckets on a bucketed store). Spark cannot broadcast either side of a
  * FULL OUTER join, so even a small staged batch plans as a sort-merge
  * join that shuffles and sorts the whole target partition on every
  * upload — the dominant per-upload merge cost for a large tenant. No
  * driver-side loops anywhere.
  */
object MergeOps {

  /** Within-batch duplicate-key resolution: the reference processes rows in
    * file order, so a later occurrence of the same key *updates* the earlier
    * one column-by-column — per column the last non-null value wins, and a
    * later row's null does NOT erase an earlier value
    * (reference ingestion/service.py:92-102 only applies supplied, non-None
    * columns). One window pass, no self-join.
    */
  def lastNonNullWins(
      staged: DataFrame,
      keys: Seq[String],
      orderCol: String,
      dataCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pick = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    staged
      .select(
        keys.map(col) ++
          dataCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)) :+
          row_number().over(pick).as("_rn"): _*)
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Full-outer coalesce-merge.
    *
    * For every key: if present in both, staged non-null values overwrite
    * target values (target value survives a staged NULL); staged-only keys
    * insert; target-only keys pass through unchanged. `touchedCol`, when
    * set, is (re)stamped with `stamp` on EVERY row the staged side has the
    * key for — the reference's update path sets `last_changed_on = now()`
    * unconditionally, even when no non-sku column was supplied
    * (service.py:95-100: the setattr loop may apply nothing, the timestamp
    * assignment always runs) — and the column default covers inserts
    * (db/models.py:43).
    */
  def coalesceMerge(
      target: DataFrame,
      staged: DataFrame,
      keys: Seq[String],
      touchedCol: Option[String] = None,
      stamp: Column = current_timestamp()): DataFrame = {
    val stagedData = staged.columns.filterNot(keys.contains).toSeq
    val targetData = target.columns.filterNot(keys.contains).toSeq
    val t = target.as("t")
    val s = staged.withColumn("_in_s", lit(true)).as("s")
    val joined = t.join(s, keys, "full_outer")

    val inS = col("s._in_s").isNotNull

    val merged: Seq[Column] = targetData.map { c =>
      val base =
        if (stagedData.contains(c)) coalesce(col(s"s.`$c`"), col(s"t.`$c`"))
        else col(s"t.`$c`")
      touchedCol match {
        case Some(tc) if tc == c =>
          when(inS, stamp).otherwise(base).as(c)
        case _ => base.as(c)
      }
    }
    joined.select(keys.map(col) ++ merged: _*)
  }

  /** Bulk deactivation for full-update mode: rows of `target` whose key is
    * NOT in `ingestedKeys` (and matches `scope`) get the `updates` applied
    * — the reference's one set-based
    * `UPDATE ... WHERE sku NOT IN (...)` (service.py:73-81) as a left join
    * + conditional projection (never a driver-side isin literal: the
    * ingested-key set can be arbitrarily large).
    */
  def antiUpdate(
      target: DataFrame,
      ingestedKeys: DataFrame,
      joinKeys: Seq[String],
      scope: Column,
      updates: Map[String, Column]): (DataFrame, Column) = {
    val marked = ingestedKeys.select(joinKeys.map(col): _*).distinct()
      .withColumn("_hit", lit(true))
    val joined = target.join(marked, joinKeys, "left")
    // SQL NOT IN parity (the reference's UPDATE ... WHERE sku NOT IN
    // (...)): a NULL left-side key compares unknown and is NEVER
    // updated — without the guard, a null-key target row finds no join
    // match and would be treated as "not ingested" and updated.
    // (`ingestedKeys` must be null-free, as the reference's batch key
    // list is by construction — a null IN-list member would make SQL
    // NOT IN update nothing at all, a footgun this operator rejects by
    // contract rather than emulating.)
    val affected = scope && col("_hit").isNull &&
      joinKeys.map(col(_).isNotNull).reduce(_ && _)
    val projected = target.columns.toSeq.map { c =>
      updates.get(c) match {
        case Some(u) => when(affected, u).otherwise(col(s"`$c`")).as(c)
        case None    => col(s"`$c`").as(c)
      }
    }
    (joined.select(projected :+ affected.as("_deactivated"): _*), col("_deactivated"))
  }
}
