package graft

import graft.operators.CatalogQueries
import org.apache.spark.sql.DataFrame

/** List/search/rank/paginate — reference web/api/products.py:36-74 and
  * pagination tests (:118-141).
  */
class CatalogQueriesSpec extends SparkSpec {

  private def products: DataFrame = {
    import spark.implicits._
    Seq(
      (1, "apple-1", "r1", "Apple One"),
      (1, "apple-2", "r2", "Apple Two"),
      (1, "banana", "r3", "Yellow Banana"),
      (1, "cherry", "apple", "Cherry"),
      (2, "apple-1", "x", "Other Tenant Apple")
    ).toDF("client_id", "sku", "remote_id", "title")
  }

  test("tenant filter is always applied") {
    assert(CatalogQueries.list(products, clientId = 1, limit = 50).count() === 4)
    assert(CatalogQueries.list(products, clientId = 2, limit = 50).count() === 1)
  }

  test("null-sku rows trail every page (Postgres NULLS LAST parity)") {
    import spark.implicits._
    // the no-sku insert path persists NULL skus; the reference's ORDER
    // BY runs on Postgres (ascending = NULLS LAST) while Spark's default
    // is NULLS FIRST — unfixed, the anonymous rows Lead page 1
    val withNulls = products.unionByName(Seq(
      (1, null: String, "rn", "Anonymous Apple")).toDF(
      "client_id", "sku", "remote_id", "title"))
    val page1 = CatalogQueries.list(withNulls, clientId = 1, limit = 4)
      .select("sku").collect().map(r => Option(r.getString(0)))
    assert(page1.forall(_.isDefined), "page 1 must be the non-null skus")
    val page2 = CatalogQueries.list(withNulls, clientId = 1, offset = 4, limit = 4)
      .select("sku").collect().map(r => Option(r.getString(0)))
    assert(page2.toSeq === Seq(None), "the null-sku row trails")
    // a title-matched search carrying a null sku: still last in rank
    val hits = CatalogQueries.list(withNulls, clientId = 1,
        query = Some("Apple"), limit = 50)
      .select("sku").collect().map(r => Option(r.getString(0)))
    assert(hits.last === None && hits.init.forall(_.isDefined))
  }

  test("''-sku rows (anonymous inserts) lead list pages") {
    import spark.implicits._
    // The ingest path stores anonymous rows as EMPTY STRINGS (DictReader
    // yields '' and the DDL forbids NULL). Under ascending text order ''
    // sorts FIRST on both Postgres and Spark, so they lead page one of
    // the offset listing.
    val withAnon = products.unionByName(Seq(
      (1, "", "ra", "Anon A"),
      (1, "", "rb", "Anon B")).toDF(
      "client_id", "sku", "remote_id", "title"))
    val page1 = CatalogQueries.list(withAnon, clientId = 1, limit = 3)
      .select("sku").collect().map(_.getString(0))
    assert(page1.take(2).forall(_ == ""), "'' rows lead page one")
    assert(page1(2) === "apple-1")
  }

  test("default ordering by sku, offset/limit window") {
    val page = CatalogQueries.list(products, 1, offset = 1, limit = 2)
      .collect().map(_.getAs[String]("sku"))
    assert(page.toSeq === Seq("apple-2", "banana"))
  }

  test("search matches title OR remote_id OR sku, case-insensitive") {
    val hit = CatalogQueries.list(products, 1, query = Some("APPLE"), limit = 50)
      .collect().map(_.getAs[String]("sku")).toSet
    // apple-1, apple-2 by sku/title; cherry by remote_id
    assert(hit === Set("apple-1", "apple-2", "cherry"))
  }

  test("ranking: exact sku match first, then prefix, then sku order") {
    val ranked = CatalogQueries.list(products, 1, query = Some("apple-2"), limit = 50)
      .collect().map(_.getAs[String]("sku"))
    assert(ranked.head === "apple-2")
  }

  test("limit bounds enforced: [1, 50]") {
    intercept[IllegalArgumentException] { CatalogQueries.list(products, 1, limit = 0) }
    intercept[IllegalArgumentException] { CatalogQueries.list(products, 1, limit = 51) }
    intercept[IllegalArgumentException] { CatalogQueries.list(products, 1, offset = -1) }
  }
}
