package graft.operators

import org.apache.spark.sql.DataFrame

/** Storage contract the ingestion/query operators run against — the seam
  * where the reference's single hardwired Postgres
  * (default_settings.py:1-8, db/models.py:34-50) becomes a selectable
  * backend. Two implementations:
  *
  *  - [[ProductStore]]: versioned parquet directories with an atomic
  *    CURRENT pointer — the data-lake shape, where the 100 TB corpus
  *    lives and where a real deployment would swap in a transaction-log
  *    table format (Delta/Iceberg);
  *  - [[JdbcProductStore]]: a JDBC database via `spark.read/write.jdbc`,
  *    matching the reference's actual storage; transactional swap
  *    semantics come from the database itself.
  *
  * Shared contract (what the operators rely on, regardless of backend):
  *
  *  1. `overwriteClientAtomic` replaces exactly one tenant's rows and is
  *     all-or-nothing: readers see the old tenant state or the new one,
  *     never a partial batch — and an EMPTY staged batch ABORTS rather
  *     than truncating (deliberate truncation is [[truncateClient]]).
  *  2. Writes for different tenants must not lose each other's commits.
  *  3. `readClient` prunes to one tenant's data (partition pruning on
  *     parquet, predicate pushdown over JDBC).
  */
trait ProductBackend {
  def exists: Boolean
  def read(): DataFrame
  def readClient(clientId: Int): DataFrame
  def overwriteAtomic(df: DataFrame): Unit

  /** Replace one tenant's rows, optionally COMMITTING an ingest marker
    * token in the SAME atomic publish: the marker becomes visible via
    * [[hasMarker]] if and only if the new tenant state is the live one.
    * This is how at-least-once delivery (the drop-directory stream's
    * foreachBatch) gets effectively-once ingestion even for the
    * non-idempotent sku-less insert path — a replayed file whose marker
    * is present was FULLY committed, and one whose marker is absent
    * wrote NOTHING (all-or-nothing publish), so re-running it is safe.
    * The reference gets the same property from bundling its bookkeeping
    * and data writes in one Postgres commit (ingestion/service.py:108).
    * Tokens must be file-name-safe: `[A-Za-z0-9._-]+`.
    */
  def overwriteClientAtomic(
      clientId: Int, df: DataFrame, marker: Option[String] = None): Unit
  def truncateClient(clientId: Int): Unit
  def append(df: DataFrame): Unit

  /** True iff a marker token committed by a prior
    * [[overwriteClientAtomic]] publish is reflected in the LIVE table
    * state. Carried forward across later publishes of any tenant
    * (each new version derives from the current one); a full-table
    * [[overwriteAtomic]] discards markers — it replaces state the
    * markers vouched for.
    */
  def hasMarker(token: String): Boolean

  /** Drop committed marker tokens failing `keep` — the RETENTION half
    * of the marker contract. Without it markers accumulate for the
    * store's whole lifetime: on the parquet backend every publish
    * hard-links every live token forward, so per-publish cost grows
    * O(total files ever ingested) — unbounded on a deployment doing
    * hourly drops for years. Retirement is safe ONLY for tokens whose
    * batches can no longer be redelivered (the drop-directory stream
    * replays at most batches at-or-after the last unconverged
    * checkpoint commit, so tokens a safe window older than the current
    * batch are dead); retiring a live token re-opens the duplicate
    * window [[overwriteClientAtomic]] closes. Callers own that safety
    * argument — see [[graft.streaming.IngestStream]]'s batch-window
    * predicate. Tokens failing `keep` that the caller does not own
    * must be kept by the caller's predicate, not by this method.
    */
  def retireMarkers(keep: String => Boolean): Unit

  /** Sub-tenant merge granularity (the 100 TB single-giant-tenant
    * story): when Some(n), the backend physically clusters each
    * tenant's rows into n sku-hash buckets, [[readClientBuckets]]
    * prunes a read to the named buckets, and
    * [[overwriteClientBucketsAtomic]] replaces ONLY those buckets —
    * a small batch against a huge tenant rewrites the few buckets its
    * skus hash into while every other bucket's files carry over
    * untouched (hard links on the parquet store). None (the default,
    * and always for transactional backends whose DELETE..WHERE is
    * already row-granular) keeps whole-partition semantics; both
    * bucket methods then fall back to their whole-partition twins, so
    * callers can be written once against the bucket API.
    */
  def skuBuckets: Option[Int] = None

  /** Pruned tenant read: only the named sku-hash buckets (computed
    * with [[ProductStore.bucketOf]]). Fallback: the whole tenant.
    */
  def readClientBuckets(clientId: Int, buckets: Seq[Int]): DataFrame =
    readClient(clientId)

  /** Replace only the named buckets of one tenant, atomically, with
    * the same marker contract as [[overwriteClientAtomic]]. Every
    * staged row must hash into `buckets` — anything else would be
    * silently dropped and MUST abort instead. Fallback: whole-tenant
    * replace.
    */
  def overwriteClientBucketsAtomic(clientId: Int, buckets: Seq[Int],
      df: DataFrame, marker: Option[String] = None): Unit =
    overwriteClientAtomic(clientId, df, marker)

  /** Serialize one tenant's READ-MERGE-PUBLISH sequence
    * (IngestionService.doIngest): two concurrent ingests for the SAME
    * client would each read the same starting state, merge their batch
    * against it, and the second publish would silently discard the
    * first batch's rows — the lost update the reference's database
    * row-locking prevents (ingestion/service.py:92-106). Per-client
    * locks keep DIFFERENT tenants' ingests fully parallel; only
    * same-client ingests serialize (exactly the contention a
    * transactional backend serializes too).
    *
    * Abstract: the transaction inside a backend's publish does NOT cover
    * the read-merge span, so every backend supplies its own lock.
    * [[ProductStore]] uses a monitor-wrapped OS FILE lock (two processes
    * on one filesystem); [[JdbcProductStore]] uses a database row lock
    * held for the whole sequence (any number of processes sharing the
    * database — the reference's own mechanism).
    */
  def withIngestLock[T](clientId: Int)(body: => T): T
}

object ProductBackend {
  /** Marker-token rule BOTH backends enforce — parity matters because a
    * deployment may restore a parquet store into a database (or back):
    * a token accepted by one backend and rejected by the other would
    * make the replay-dedup contract backend-dependent. File-name-safe
    * for the parquet store's `_markers/` entries, within the JDBC
    * store's VARCHAR(128) column, never dot-led (hidden files).
    */
  def validateMarkerToken(token: String): Unit =
    require(token.length <= 128 && token.matches("[A-Za-z0-9._-]+") &&
        !token.startsWith("."),
      "ingest marker token must be <=128 chars of [A-Za-z0-9._-], " +
        s"not dot-led: '$token'")
}
