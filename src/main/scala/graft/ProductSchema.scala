package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Canonical target schema for the product catalog.
  *
  * Mirrors the reference's `client_products` table
  * (reference: db/migrations/000/001_up_init.sql:22-36, db/models.py:34-50)
  * minus the `SERIAL id` surrogate: at scale the natural key is
  * `(client_id, sku)` and a global sequence does not distribute across
  * executors. Money columns stay `DecimalType(12,2)` end-to-end (the
  * reference stores NUMERIC(12,2) and only floats at the REST view layer).
  */
object ProductSchema {

  val CLIENT_PRODUCTS_SCHEMA: StructType = StructType(Seq(
    StructField("client_id", IntegerType, nullable = false),
    StructField("sku", StringType, nullable = true),
    StructField("remote_id", StringType, nullable = true),
    StructField("brand", StringType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("last_changed_on", TimestampType, nullable = true),
    StructField("stock_quantity", IntegerType, nullable = true),
    StructField("active", BooleanType, nullable = true),
    StructField("max_price", DecimalType(12, 2), nullable = true),
    StructField("min_price", DecimalType(12, 2), nullable = true),
    StructField("reference_price", DecimalType(12, 2), nullable = true)
  ))

  /** Valid column-mapping targets: every canonical column except the
    * surrogate id (reference: ingestion/base.py:13-17 derives
    * ALL_MULTIPLY_COLUMN_NAMES reflectively as table columns minus `id`).
    */
  val allowedTargets: Set[String] = CLIENT_PRODUCTS_SCHEMA.fieldNames.toSet

  /** Data columns that participate in merge-upsert value coalescing —
    * everything except the natural key. `sku` is never updated by a merge
    * (reference: ingestion/service.py:96-99 pops sku from updates).
    */
  val mergeKeys: Seq[String] = Seq("client_id", "sku")
  val dataCols: Seq[String] =
    CLIENT_PRODUCTS_SCHEMA.fieldNames.toSeq.filterNot(mergeKeys.contains)

  def fieldType(name: String): DataType =
    CLIENT_PRODUCTS_SCHEMA(name).dataType

  /** `df` in canonical column order and types: each schema column is
    * `df`'s same-named column cast to the schema type, or a typed NULL
    * when `df` lacks it; other columns drop. Both product stores write
    * through this one alignment.
    */
  def align(df: DataFrame): DataFrame =
    df.select(CLIENT_PRODUCTS_SCHEMA.fields.toSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)): _*)

  /** Declared VARCHAR(n) widths from the reference DDL
    * (db/migrations/000/001_up_init.sql:22-36). Spark strings are
    * unbounded, so the mapping layer enforces these lengths explicitly
    * (see ColumnMapping's `_err_len_` flags) — otherwise a >n-char value that
    * the reference's database would reject silently round-trips here.
    */
  val varcharLen: Map[String, Int] = Map(
    "sku" -> 100,
    "remote_id" -> 100,
    "brand" -> 100,
    "title" -> 255)
}
