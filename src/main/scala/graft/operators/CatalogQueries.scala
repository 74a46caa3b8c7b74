package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tenant-scoped product listing: search + relevance rank + pagination —
  * reference GET /products/list (web/api/products.py:36-74).
  *
  * The 3-key relevance sort (exact sku match, sku prefix match, sku) is
  * scalar CASE ranking, not a window — Catalyst plans sort+limit as
  * TakeOrderedAndProject, i.e. a distributed top-k without a full sort,
  * which is exactly what a paginated search needs at scale.
  */
object CatalogQueries {

  val DefaultLimit = 5
  val MaxLimit = 50

  def list(
      products: DataFrame,
      clientId: Int,
      query: Option[String] = None,
      offset: Int = 0,
      limit: Int = DefaultLimit): DataFrame = {
    require(limit >= 1 && limit <= MaxLimit, s"limit must be in [1,$MaxLimit]")
    require(offset >= 0, "offset must be >= 0")
    val search = query.filter(_.nonEmpty)
    // tenant and search predicates in ONE filter: each Dataset op is a
    // separate analysis on the driver, and Catalyst would combine the
    // two filters into this conjunction anyway
    val tenant = col("client_id") === clientId
    val scoped = products.filter(search.fold(tenant) { q =>
      val contains = s"%$q%"
      tenant && (col("title").ilike(contains) ||
        col("remote_id").ilike(contains) ||
        col("sku").ilike(contains))
    })
    // Sku ordering parity with the reference's Postgres ORDER BY:
    // anonymous no-sku inserts persist as EMPTY STRINGS (DictReader
    // yields '' and the DDL forbids NULL), and '' sorts FIRST under
    // ascending text order on both engines — so ''-rows LEAD page one
    // here exactly as they do there. NULLS LAST is retained for foreign
    // tables that do carry NULL skus (our own ingest can't: the NOT NULL
    // gate aborts such batches): Postgres's ascending default puts NULLs
    // last, Spark's puts them first, and without the modifier a legacy
    // NULL row would lead every page instead of trailing them.
    val ordered = search match {
      case Some(q) =>
        scoped.orderBy(
          when(lower(col("sku")) === lower(lit(q)), 0).otherwise(1),
          when(col("sku").ilike(s"$q%"), 0).otherwise(1),
          col("sku").asc_nulls_last)
      case None => scoped.orderBy(col("sku").asc_nulls_last)
    }
    ordered.offset(offset).limit(limit)
  }

  /** The reference's REST boundary re-types the DECIMAL(12,2) price
    * columns as Python floats (`ClientProductOut.max_price:
    * Optional[float]`, web/api/products.py:27-29): pydantic's orm_mode
    * coerces each Decimal with float(d) — the nearest IEEE-754 double.
    * The engine keeps exact decimals end-to-end (a deliberate semantic
    * upgrade over the reference's storage-to-wire path); this projection
    * reproduces the documented LOSSY edge for API-parity consumers.
    * Apply it LAST — after every filter/merge/aggregate — never before
    * arithmetic, or the float rounding leaks into stored state.
    */
  def restView(products: DataFrame): DataFrame = {
    val priceCols = Seq("max_price", "min_price", "reference_price")
    priceCols.foldLeft(products)((df, c) =>
      if (df.columns.contains(c))
        df.withColumn(c, col(c).cast(org.apache.spark.sql.types.DoubleType))
      else df)
  }
}
