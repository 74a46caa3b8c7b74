package graft

/** The facade end-to-end: the reference's wire-format config JSON in,
  * report + queryable catalog out — the "switch from the reference"
  * surface exercised as one flow.
  */
class GraftEngineSpec extends SparkSpec {

  private val cfgJson =
    """{"parser_id": "csv", "column_mapping": {
      |  "sku": ["sku", "text"],
      |  "title": ["title", "text"],
      |  "active": ["active", "boolean"],
      |  "price": ["max_price", "decimal"]
      |}}""".stripMargin

  test("ingest + listProducts through the facade") {
    val engine = new GraftEngine(spark, tmpDir("engine"))
    val dir = tmpDir("upload")
    val p = writeText(dir, "upload.csv",
      """sku,title,active,price
        |A1,Red Widget,1,$10.00
        |A2,Blue Widget,yes,"1,234.50"
        |B1,Green Gadget,0,£9.99
        |""".stripMargin)
    val rep = engine.ingest(clientId = 7, cfgJson, p)
    assert(rep.success && rep.processedCount === 3)

    // tenant scoping: another client sees nothing
    assert(engine.listProducts(clientId = 8).count() === 0)

    // search + relevance: exact sku match ranks first
    val hits = engine.listProducts(clientId = 7, query = Some("A1"), limit = 10)
      .collect()
    assert(hits.head.getAs[String]("sku") === "A1")

    // pagination bounds mirror the reference's API validation
    intercept[IllegalArgumentException] {
      engine.listProducts(7, limit = 51)
    }

    // a second batch upserts through the same facade
    val p2 = writeText(dir, "upload2.csv",
      "sku,title\nA1,Red Widget v2\n")
    assert(engine.ingest(7, """{"parser_id": "csv", "column_mapping": {
      |  "sku": ["sku", "text"], "title": ["title", "text"]}}""".stripMargin, p2).success)
    val a1 = engine.listProducts(7, Some("A1")).collect().head
    assert(a1.getAs[String]("title") === "Red Widget v2")
    assert(a1.getAs[Boolean]("active")) // untouched by the partial update
  }

  test("restView re-types money columns at the API boundary only") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val engine = new GraftEngine(spark, tmpDir("engine"))
    val dir = tmpDir("upload")
    val p = writeText(dir, "upload.csv",
      """sku,title,active,price
        |A1,Widget,1,$10.10
        |""".stripMargin)
    assert(engine.ingest(clientId = 7, cfgJson, p).success)
    val exact = engine.listProducts(7, limit = 10)
    val floaty = operators.CatalogQueries.restView(engine.listProducts(7, limit = 10))
    assert(exact.schema("max_price").dataType === DecimalType(12, 2))
    assert(floaty.schema("max_price").dataType === DoubleType)
    // same value, same column names, only the type differs (the
    // reference's response model declares prices as float)
    assert(floaty.schema.fieldNames === exact.schema.fieldNames)
    assert(floaty.collect().head.getAs[Double]("max_price") === 10.10)
    assert(exact.collect().head.getAs[java.math.BigDecimal]("max_price")
      .compareTo(new java.math.BigDecimal("10.10")) === 0)
  }

  test("a bad strict value aborts through the facade, nothing committed") {
    val engine = new GraftEngine(spark, tmpDir("engine"))
    val dir = tmpDir("upload")
    val good = writeText(dir, "g.csv", "sku,title,active,price\nA1,Keep,1,1.00\n")
    assert(engine.ingest(7, cfgJson, good).success)
    val bad = writeText(dir, "b.csv", "sku,title,active,price\nA2,Bad,maybe,2.00\n")
    val rep = engine.ingest(7, cfgJson, bad)
    assert(!rep.success)
    assert(rep.report.exists(_.contains("'maybe'")))
    assert(engine.listProducts(7, limit = 50).count() === 1)
  }
}
