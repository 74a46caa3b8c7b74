package graft

import graft.operators.{CatalogQueries, IngestionReport, IngestionService, ParserConfig, ProductStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp

/** The reference's service surface in one place — what a user of
  * `rnjane/client_data_ingester` calls after switching to this library:
  *
  *  - `ingest` is POST /products/ingest (web/api/products.py:77-95):
  *    a parser-config JSON (the reference's wire format) + an uploaded
  *    file path, per-tenant, returning the all-or-nothing report;
  *  - `listProducts` is GET /products/list (web/api/products.py:36-74):
  *    tenant-scoped search with relevance ranking and offset/limit
  *    pagination.
  *
  * Auth/session state is a deliberate non-goal (SURVEY.md §7.5) —
  * tenancy survives as the mandatory `clientId` argument, which is the
  * analytically meaningful part.
  */
class GraftEngine(val spark: SparkSession, val store: operators.ProductBackend) {

  /** Default backend: the versioned parquet store rooted at `storeRoot`.
    * Pass a [[operators.JdbcProductStore]] instead to run against the
    * reference's storage shape (a JDBC database).
    */
  def this(spark: SparkSession, storeRoot: String) =
    this(spark, new ProductStore(spark, storeRoot))

  def ingest(
      clientId: Int,
      parserConfigJson: String,
      dataPath: String,
      fullUpdate: Boolean = false,
      batchTs: Timestamp = new Timestamp(System.currentTimeMillis())): IngestionReport =
    new IngestionService(spark, store, clientId)
      .ingest(ParserConfig.fromJson(parserConfigJson), dataPath, fullUpdate, batchTs)

  /** Money columns stay DecimalType(12,2); a caller that needs the
    * reference's float-typed response model (web/api/products.py:27-29)
    * wraps the page in [[CatalogQueries.restView]].
    */
  def listProducts(
      clientId: Int,
      query: Option[String] = None,
      offset: Int = 0,
      limit: Int = CatalogQueries.DefaultLimit): DataFrame =
    // list applies the tenant predicate itself (a partition filter, so
    // the scan still prunes to the tenant); readClient would add a second
    // copy of it to analyze on every call
    CatalogQueries.list(store.read(), clientId, query, offset, limit)
}

object GraftEngine {

  /** A SparkSession wired the way the engine expects: graft native SQL
    * functions registered, UTC session time, shuffle parallelism sized
    * to the given core count (not the 200 default).
    */
  def session(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Workload mixes of 100+ distinct plans overflow the 100-entry
      // Janino class cache and re-bill codegen compile on every replay
      // (static conf; entries are kilobyte-scale compiled classes).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
}
