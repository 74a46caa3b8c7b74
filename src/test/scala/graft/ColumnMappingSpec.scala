package graft

import graft.operators.{ColumnMapping, ParserConfig}
import graft.sources.IngestSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mapping stage semantics — reference ingestion/base.py:38-68. */
class ColumnMappingSpec extends SparkSpec {

  private val cfg = ParserConfig("csv", Seq(
    "SKU Code" -> ("sku", "text"),
    "Name" -> ("title", "text"),
    "Price" -> ("max_price", "decimal"),
    "Active" -> ("active", "boolean")))

  test("renames, coerces, drops unmapped columns") {
    import spark.implicits._
    val raw = Seq(("a1", "Widget", "$9.99", "yes", "ignored"))
      .toDF("SKU Code", "Name", "Price", "Active", "Extra")
    val out = ColumnMapping(raw, cfg)
    assert(out.columns.toSet === Set("sku", "title", "max_price", "active",
      "_err_max_price", "_err_active", "_raw_max_price", "_raw_active",
      "_err_len_sku", "_err_len_title", "_raw_len_sku", "_raw_len_title",
      ColumnMapping.PRESENT))
    val r = out.head()
    assert(r.getAs[String]("sku") === "a1")
    assert(r.getAs[java.math.BigDecimal]("max_price").toString === "9.99")
    assert(r.getAs[Boolean]("active") === true)
  }

  test("missing source column yields typed nulls") {
    import spark.implicits._
    val raw = Seq(("a1", "t")).toDF("SKU Code", "Name")
    val out = ColumnMapping(raw, cfg)
    val r = out.head()
    assert(r.isNullAt(r.fieldIndex("max_price")))
    assert(out.schema("max_price").dataType.typeName === "decimal(12,2)")
  }

  test("mapping to non-canonical target rejected at plan time") {
    val bad = ParserConfig("csv", Seq("x" -> ("not_a_column", "text")))
    val e = intercept[IllegalArgumentException] { bad.validated() }
    assert(e.getMessage.contains("non-canonical"))
  }

  test("unknown transformer and duplicate targets rejected") {
    intercept[IllegalArgumentException] {
      ParserConfig("csv", Seq("x" -> ("title", "nope"))).validated()
    }
    intercept[IllegalArgumentException] {
      ParserConfig("csv", Seq(
        "x" -> ("title", "text"), "y" -> ("title", "text"))).validated()
    }
    // one source mapped twice is inexpressible in the reference's JSON
    // wire format (object keys are unique) — rejected here too
    intercept[IllegalArgumentException] {
      ParserConfig("csv", Seq(
        "x" -> ("title", "text"), "x" -> ("brand", "text"))).validated()
    }
  }

  test("VARCHAR(n) truth table: over-width values are flagged with their raw value") {
    import spark.implicits._
    // title width is 255, sku width is 100 (reference DDL
    // 001_up_init.sql:22-36); boundary value NOT flagged, boundary+1 is.
    val at = "x" * 255
    val over = "x" * 256
    val raw = Seq(
      ("ok", at, "1.00", "yes"),
      ("ok2", over, "2.00", "no"),
      ("  " + "s" * 100 + "  ", "short", "3.00", "yes") // trims to width: ok
    ).toDF("SKU Code", "Name", "Price", "Active")

    val strict = ColumnMapping(raw, cfg)
      .orderBy("max_price").collect()
    assert(strict.map(_.getAs[Boolean]("_err_len_title")).toSeq ===
      Seq(false, true, false))
    assert(strict.map(_.getAs[Boolean]("_err_len_sku")).toSeq ===
      Seq(false, false, false), "length checked AFTER trim")
    assert(strict(1).getAs[String]("_raw_len_title") === over,
      "report carries the raw offending value")
  }

  test("JSON codec parses the reference wire format") {
    val json =
      """{"parser_id": "csv",
        | "column_mapping": {"sku": ["sku", "text"],
        |                    "title": ["title", "text"],
        |                    "active": ["active", "boolean"]}}""".stripMargin
    val cfg = ParserConfig.fromJson(json)
    assert(cfg.parserId === "csv")
    assert(cfg.columnMapping === Seq(
      "sku" -> ("sku", "text"), "title" -> ("title", "text"),
      "active" -> ("active", "boolean")))
  }
}
