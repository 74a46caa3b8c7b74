package graft.operators

import graft.ProductSchema
import graft.sources.IngestSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.sql.Timestamp

/** Batch ingestion outcome — reference IngestionReport
  * (ingestion/base.py:25-30, service.py:36-54). Any failure anywhere in
  * the batch yields success=false and *nothing written*. `report` carries
  * up to [[IngestionService.MaxReportedErrors]] per-row failure details
  * (row index, column, offending raw value) so a failed batch is
  * debuggable, mirroring the reference's `IngestionReport.report` list.
  */
case class IngestionReport(
    success: Boolean,
    message: String,
    processedCount: Long,
    stats: Map[String, Long],
    report: Seq[String] = Nil)

object IngestionService {
  /** Cap on per-row error details collected to the driver on a failed
    * batch — bounded regardless of batch size.
    */
  val MaxReportedErrors = 10
}

/** End-to-end ingest orchestration — the reference's
  * DataIngestionService.ingest_data (ingestion/service.py:27-64)
  * re-expressed as one declarative pipeline:
  *
  *   source read (all-string) -> mapping select (rename+coerce) ->
  *   strict-error count (abort gate) -> within-batch last-wins dedup ->
  *   [full-update: anti-join deactivation] -> full-outer coalesce-merge ->
  *   atomic table swap.
  *
  * Semantics pinned by the reference tests (tests/web/api/test_products.py):
  *  - rows with EMPTY ('') sku always insert, never merge (:216-236);
  *    rows whose sku cell is physically ABSENT abort the batch (the DDL's
  *    NOT NULL on sku, 001_up_init.sql:27);
  *  - a merge updates only supplied, non-null, non-sku columns and bumps
  *    last_changed_on (:187-214, 238-267);
  *  - full-update deactivates absent skus BEFORE upserting, so re-ingested
  *    skus end active (:321-339); default mode never deactivates (:341-359);
  *  - one unparseable strict value fails the whole batch, nothing committed.
  *
  * Deliberate deviation: a mapped `client_id` is always ignored and the
  * row is pinned to the authenticated tenant, on the insert path AND the
  * update path. The reference pins only its INSERT path (service.py:109's
  * dict union puts the service's client last); its UPDATE path setattrs
  * every supplied non-None column, so a mapped client_id MOVES an existing
  * row to another tenant mid-upsert (service.py:95-100) — a tenancy
  * escape, and one the partition-sharded store could not publish
  * atomically anyway (it would take a second, per-target-tenant publish).
  */
class IngestionService(
    spark: SparkSession,
    store: ProductBackend,
    clientId: Int) {

  /** `marker`: an ingest token committed ATOMICALLY with the batch's
    * publish (see [[ProductBackend.overwriteClientAtomic]]) — after a
    * successful ingest [[alreadyIngested]] returns true for it, and a
    * crash anywhere before the publish leaves both the table and the
    * marker untouched. At-least-once callers (the drop-directory
    * stream) use it to make redelivered files no-ops.
    */
  def ingest(
      cfg: ParserConfig,
      path: String,
      fullUpdate: Boolean = false,
      batchTs: Timestamp = new Timestamp(System.currentTimeMillis()),
      marker: Option[String] = None): IngestionReport =
    try {
      val raw = IngestSource(cfg.parserId).read(spark, path)
      val mapped = ColumnMapping(raw, cfg.validated())
        .persist(StorageLevel.MEMORY_AND_DISK)
      try doIngest(mapped, fullUpdate, batchTs, marker)
      finally mapped.unpersist()
    } catch {
      case e: Exception =>
        IngestionReport(success = false,
          s"Error during data ingestion: ${e.getMessage}", 0L, Map.empty)
    }

  /** True iff a marker token passed to a prior [[ingest]] call was
    * committed with its publish — i.e. that file's batch is fully
    * reflected in the live table.
    */
  def alreadyIngested(marker: String): Boolean = store.hasMarker(marker)

  /** Retire committed ingest markers failing `keep` — passthrough to
    * [[ProductBackend.retireMarkers]], which owns the cost argument;
    * the CALLER owns the safety argument (only retire tokens whose
    * batches can no longer be redelivered).
    */
  def retireMarkers(keep: String => Boolean): Unit = store.retireMarkers(keep)

  /** The whole read-merge-publish sequence runs under the backend's
    * per-client ingest lock: without it two concurrent SAME-client
    * batches each merge against the same starting state and the second
    * publish silently discards the first batch's rows (the lost update
    * the reference's database row-locking prevents). Different tenants
    * hold different monitors and still ingest fully in parallel.
    */
  private def doIngest(
      mapped: DataFrame,
      fullUpdate: Boolean,
      batchTs: Timestamp,
      marker: Option[String]): IngestionReport =
    store.withIngestLock(clientId) {
      doIngestLocked(mapped, fullUpdate, batchTs, marker)
    }

  private def doIngestLocked(
      mapped0: DataFrame,
      fullUpdate: Boolean,
      batchTs: Timestamp,
      marker: Option[String]): IngestionReport = {
    // Reference parity (parsers.py:41-43 + service.py:88-90): interpret
    // keeps only MAPPED elements whose cell was physically PRESENT in
    // the row, and a row whose record_data comes out EMPTY is skipped
    // without counting. Presence is the RAW-cell test computed by
    // ColumnMapping (`_present`), never the transformed outputs — the
    // source keeps a present-but-empty cell as '' (DictReader yields ''
    // for it, so the reference COUNTS and INSERTS such rows even when
    // every other value sits in unmapped columns), while a short row /
    // missing source column is NULL and genuinely unsupplied. A strict
    // error can only flag a PRESENT cell, so error rows always survive
    // this filter and stay visible to the abort gate below.
    val mapped =
      if (mapped0.columns.contains(ColumnMapping.PRESENT))
        mapped0.filter(col(ColumnMapping.PRESENT))
      else mapped0
    val errCols = mapped.columns.filter(_.startsWith("_err_"))
    // One pass over the batch yields the strict-error count (abort gate),
    // the processed count, AND the distinct-sku count full-update needs —
    // not three separate jobs. Only a full update reports that count, so
    // a default upload skips the distinct aggregate (its exchange).
    val errOr =
      if (errCols.isEmpty) lit(false) else errCols.map(col).reduce(_ || _)
    val rawHasSku = mapped.columns.contains("sku")
    val distinctSkus =
      if (rawHasSku && fullUpdate)
        countDistinct(when(col("sku").isNotNull && length(col("sku")) > 0, col("sku")))
      else lit(0L)
    // Touched-bucket discovery rides the SAME gate pass (the one-pass
    // discipline above — not a second job over the batch). The sku is
    // hashed AFTER a string cast, matching the store's own post-schema-
    // cast hashing in align(): a non-text sku mapping (integer sku ids)
    // hashes differently in its native type, and a mismatched bucket set
    // would abort every valid batch at the stray-bucket guard.
    val bucketSet = store.skuBuckets match {
      case Some(n) if !fullUpdate =>
        collect_set(ProductStore.bucketOf(
          (if (rawHasSku) col("sku") else lit(null)).cast("string"), n))
      case _ => typedLit(Seq.empty[Int])
    }
    // The reference DDL declares sku NOT NULL (001_up_init.sql:27): a
    // COUNTED row whose record_data lacks a sku key entirely (short row,
    // sku source column absent from the header, or no sku mapping at
    // all) reaches ClientProduct(**record_data) with sku=None and the
    // INSERT dies on the constraint — failing the whole batch. An EMPTY
    // sku ('') is a present value and inserts fine (the anonymous-row
    // path). Transform errors abort FIRST: the reference interprets
    // every item before any database work (parsers.py:21-24).
    val skuIsNull =
      if (rawHasSku) col("sku").isNull else lit(true)
    val gate = mapped.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(errOr, 1L).otherwise(0L)), lit(0L)).as("bad"),
      distinctSkus.as("n_skus"),
      bucketSet.as("bkts"),
      coalesce(sum(when(skuIsNull, 1L).otherwise(0L)), lit(0L)).as("nullsku")).head()
    val (processed, badCount, nSkus) =
      (gate.getLong(0), gate.getLong(1), gate.getLong(2))
    val touched: Seq[Int] = gate.getSeq[Int](3).sorted
    val nullSkuCount = gate.getLong(4)
    if (badCount > 0)
      return IngestionReport(success = false,
        s"Error during data ingestion: $badCount row(s) failed transformation",
        0L, Map.empty, errorDetails(mapped, errCols))
    if (nullSkuCount > 0)
      return IngestionReport(success = false,
        s"Error during data ingestion: $nullSkuCount row(s) with no sku " +
          "value violate NOT NULL (client_products.sku)",
        0L, Map.empty, nullSkuDetails(mapped, rawHasSku))

    // ZERO processable rows (header-mismatched file, everything skipped):
    // the reference succeeds with processed 0 (service.py's loop simply
    // never runs) — in DEFAULT mode that is a pure no-op, so return
    // without a publish (the empty-staging guard exists precisely to stop
    // an accidental truncation). A FULL UPDATE with zero rows is NOT a
    // no-op — the reference's UPDATE ... NOT IN (empty set) deactivates
    // every non-null-sku row — so that path falls through to the normal
    // deactivate+publish flow; only when the tenant has no rows either is
    // it a no-op too (and publishing nothing would trip the same guard).
    if (processed == 0L && !fullUpdate)
      return IngestionReport(success = true,
        "Successfully processed 0 items", 0L, Map("processed_count" -> 0L))

    val stamp = lit(batchTs)
    val aux = mapped.columns.filter(c =>
      c.startsWith("_err_") || c.startsWith("_raw_") ||
        c == ColumnMapping.PRESENT)
    val clean = mapped.drop(aux.toIndexedSeq: _*)

    val hasSku = clean.columns.contains("sku")
    val skuPresent =
      if (hasSku) col("sku").isNotNull && length(col("sku")) > 0 else lit(false)

    // client_id is pinned to the authenticated tenant unconditionally,
    // overriding any mapped value (the reference allows mapping a source
    // column to client_id — base.py's reflective target list excludes
    // only `id`); see the class doc for the deviation on the update path.
    val staged = clean.withColumn("client_id", lit(clientId))
    val keyed = staged.filter(skuPresent)
    val inserts = staged.filter(!skuPresent).drop(IngestSource.ROW_IDX)

    // Tenant scope from the start: the merge reads ONLY this client's
    // partition (pruned scan) and the final write rewrites only that
    // partition — another tenant's files are never touched by this batch.
    //
    // Sub-tenant scope on a bucketed backend (the 100 TB single-giant-
    // tenant story): a default-mode batch's merge keys all hash into the
    // batch's own sku buckets (`touched`, collected in the gate pass —
    // <= n values, bounded driver state), so the merge reads and
    // rewrites ONLY those buckets — every untouched bucket of the SAME
    // client hard-links forward. Full-update keeps the whole partition:
    // absent skus in ANY bucket must deactivate.
    val target =
      if (touched.nonEmpty) store.readClientBuckets(clientId, touched)
      else store.readClient(clientId)
    // the remaining zero-row case: a FULL UPDATE with nothing to ingest
    // AND nothing stored deactivates nothing — succeed without a publish
    // (isEmpty is one job over the tenant-pruned read, on a rare path)
    if (processed == 0L && fullUpdate && target.isEmpty)
      return IngestionReport(success = true,
        "Successfully processed 0 items", 0L,
        Map("processed_count" -> 0L, "deactivated_count" -> 0L,
          "total_ingested_skus" -> 0L))
    var stats = Map("processed_count" -> processed)

    // Within-batch duplicate skus: later row wins column-wise (reference
    // processes file order sequentially; second occurrence hits the update
    // path — service.py:83-102).
    val dataColsInBatch =
      keyed.columns.toSeq.filterNot(ProductSchema.mergeKeys.contains)
        .filterNot(_ == IngestSource.ROW_IDX)
    val deduped =
      if (hasSku)
        MergeOps.lastNonNullWins(keyed, ProductSchema.mergeKeys,
          IngestSource.ROW_IDX, dataColsInBatch)
      else keyed.drop(IngestSource.ROW_IDX)

    // Full-update: deactivate this client's skus absent from the batch,
    // BEFORE the merge so re-ingested skus are reactivated/updated by it.
    // Deactivation scope is `sku IS NOT NULL` exactly like the
    // reference's UPDATE (service.py:74-79 — an empty-string sku is
    // non-null there and IS deactivated; only genuinely null skus stay
    // out of full-update scope).
    var toUnpersist = Option.empty[DataFrame]
    try {
      val (base, deactStats) =
        if (fullUpdate) {
          // With no sku column mapped the key set is EMPTY (the
          // reference's `UPDATE ... NOT IN (empty)` deactivates every
          // non-null-sku row) — reachable only at processed==0, since
          // any counted sku-less row already aborted on NOT NULL above.
          val ingestedSkus =
            if (hasSku) deduped.select("client_id", "sku")
            else deduped.select(col("client_id"),
              lit(null).cast(org.apache.spark.sql.types.StringType).as("sku")).limit(0)
          val (updated, affectedFlag) = MergeOps.antiUpdate(
            target, ingestedSkus, Seq("client_id", "sku"),
            scope = col("client_id") === clientId && col("sku").isNotNull,
            updates = Map(
              "active" -> lit(false),
              "last_changed_on" -> stamp))
          val materialized = updated.persist(StorageLevel.MEMORY_AND_DISK)
          toUnpersist = Some(materialized)
          val deactivated = materialized.filter(affectedFlag).count()
          (materialized.drop("_deactivated", "_hit"),
            Map("deactivated_count" -> deactivated,
              "total_ingested_skus" -> nSkus))
        } else (target, Map.empty[String, Long])
      stats ++= deactStats

      // No sku column mapped at all: only reachable with zero counted
      // rows (any counted row aborted on NOT NULL above) — a merge on
      // the sku key would fail ANALYSIS on the missing USING column, so
      // skip it and keep the (possibly full-update-deactivated) base.
      val merged =
        if (hasSku)
          MergeOps.coalesceMerge(
            base, deduped, ProductSchema.mergeKeys,
            touchedCol = Some("last_changed_on"), stamp = stamp)
        else base

      val result = merged
        .unionByName(inserts, allowMissingColumns = true)
        .withColumn("active", coalesce(col("active"), lit(true)))
        .withColumn("last_changed_on", coalesce(col("last_changed_on"), stamp))

      if (touched.nonEmpty)
        store.overwriteClientBucketsAtomic(clientId, touched, result, marker)
      else
        store.overwriteClientAtomic(clientId, result, marker)

      IngestionReport(success = true,
        s"Successfully processed $processed items", processed, stats)
    } finally toUnpersist.foreach(_.unpersist())
  }

  /** Bounded per-row details for a NOT NULL sku abort: the first
    * [[IngestionService.MaxReportedErrors]] counted rows whose sku cell
    * is physically absent (or every counted row, when no sku column is
    * mapped at all).
    */
  private def nullSkuDetails(mapped: DataFrame, rawHasSku: Boolean): Seq[String] = {
    val idxCol = rowIdx(mapped)
    val offending =
      if (rawHasSku) mapped.filter(col("sku").isNull) else mapped
    offending
      .select(idxCol.as("_i"))
      .orderBy(col("_i"))
      .limit(IngestionService.MaxReportedErrors)
      .collect()
      .map(r => s"row ${r.getLong(0)}: column 'sku' null value violates " +
        "NOT NULL constraint")
      .toSeq
  }

  /** The source row index a report names, -1 when the frame has none. */
  private def rowIdx(mapped: DataFrame): Column =
    if (mapped.columns.contains(IngestSource.ROW_IDX)) col(IngestSource.ROW_IDX)
    else lit(-1L)

  /** Per-row failure details for the abort report: up to
    * [[IngestionService.MaxReportedErrors]] (row, column, raw value)
    * triples, smallest row indexes first, then by column. One job: the
    * flagged cells of every error column are unioned and cut by one
    * ordered limit — never a full-table driver fetch.
    */
  private def errorDetails(mapped: DataFrame, errCols: Array[String]): Seq[String] = {
    val idxCol = rowIdx(mapped)
    errCols.zipWithIndex.map { case (ec, ord) =>
      val dst = ec.stripPrefix("_err_")
      // VARCHAR(n) violations ride the same flag channel under a `len_`
      // sub-prefix (width message); INTEGER range violations under
      // `range_` (overflow message); plain strict-parse flags carry the
      // bare target name.
      val target = dst.stripPrefix("len_").stripPrefix("range_")
      val kind =
        if (dst.startsWith("len_")) "len"
        else if (dst.startsWith("range_")) "range"
        else "parse"
      val rawCol =
        if (mapped.columns.contains(s"_raw_$dst")) col(s"_raw_$dst")
        else lit(null).cast("string")
      // `_o` keeps the flag columns' order among a row's same-target
      // flags, so the report order is deterministic
      mapped.filter(col(ec)).select(idxCol.as("_i"), lit(target).as("_t"),
        lit(ord).as("_o"), lit(kind).as("_k"), rawCol.as("_v"))
    }
      .reduce(_ union _)
      .orderBy(col("_i"), col("_t"), col("_o"))
      .limit(IngestionService.MaxReportedErrors)
      .collect()
      .toSeq
      .map { r =>
        val (i, dst, v) =
          (r.getLong(0), r.getString(1), Option(r.getString(4)).getOrElse("<null>"))
        r.getString(3) match {
          case "len" =>
            s"row $i: column '$dst' value exceeds VARCHAR(${graft.ProductSchema.varcharLen(dst)}): '$v'"
          case "range" =>
            s"row $i: column '$dst' value out of INTEGER range: '$v'"
          case _ =>
            s"row $i: column '$dst' could not interpret value '$v'"
        }
      }
  }
}
