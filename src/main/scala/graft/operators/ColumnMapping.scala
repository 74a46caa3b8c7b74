package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ProductSchema
import graft.functions.Transformers
import graft.sources.IngestSource
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Parser configuration: which source columns map to which canonical
  * columns through which transformer.
  *
  * Mirrors reference ParserConfig (ingestion/base.py:19-22):
  * `column_mapping: client_column -> (canonical_column, transformer_id)`.
  * Unmapped source columns are dropped; mapped columns are renamed and
  * type-coerced. Mapping to an unknown canonical column or transformer is
  * rejected at plan-build time (the reference asserts per element at run
  * time, ingestion/base.py:41-46 — plan-time is the distributed
  * equivalent: fail before any task launches).
  */
case class ParserConfig(
    parserId: String,
    columnMapping: Seq[(String, (String, String))]) {

  def validated(allowedTargets: Set[String] = ProductSchema.allowedTargets): ParserConfig = {
    require(IngestSource.registry.contains(parserId),
      s"Unknown parser id: $parserId")
    columnMapping.foreach { case (src, (dst, transformerId)) =>
      require(allowedTargets.contains(dst),
        s"Element interpreted to non-canonical column: $dst (from $src)")
      require(Transformers.registry.contains(transformerId),
        s"Unknown transformer id: $transformerId")
    }
    val dsts = columnMapping.map(_._2._1)
    require(dsts.distinct.size == dsts.size,
      s"Multiple source columns map to the same target: ${dsts.diff(dsts.distinct).mkString(",")}")
    // The reference wire format is a JSON object (unique keys), so one
    // source column can never map twice; reject it for direct construction
    // too rather than silently keeping both projections.
    val srcs = columnMapping.map(_._1)
    require(srcs.distinct.size == srcs.size,
      s"Source column mapped more than once: ${srcs.diff(srcs.distinct).mkString(",")}")
    // A mapping key '' is REJECTED rather than silently never matching:
    // in the reference, element names are stripped at parse
    // (parsers.py:43), so a whitespace-only CSV header's elements carry
    // the name '' and a pathological {'': [target, t]} mapping would
    // capture them — the engine's source drops those columns outright
    // (they cannot name anything), so the config is refused up front.
    require(srcs.forall(s => Transformers.pyStrip(s).nonEmpty),
      "Source column mapping key is empty after strip")
    this
  }
}

object ParserConfig {

  /** JSON codec for the reference's wire format
    * (tests/web/api/test_products.py:72-80):
    * {"parser_id": "csv", "column_mapping": {"sku": ["sku","text"], ...}}
    * Jackson ships on the Spark classpath; field order of the JSON object
    * is preserved (insertion order) to keep mapping application
    * deterministic.
    */
  def fromJson(json: String): ParserConfig = {
    val root = new ObjectMapper().readTree(json)
    val parserId = Option(root.get("parser_id")).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("parser_id missing"))
    val cm = Option(root.get("column_mapping"))
      .getOrElse(throw new IllegalArgumentException("column_mapping missing"))
    val mapping = cm.fields().asScala.map { e =>
      val arr = e.getValue
      require(arr.isArray && arr.size() == 2,
        s"column_mapping entry for ${e.getKey} must be [target, transformer]")
      e.getKey -> (arr.get(0).asText(), arr.get(1).asText())
    }.toSeq
    ParserConfig(parserId, mapping)
  }
}

/** The projection/rename/coercion stage — one `select` over the raw
  * all-string DataFrame (reference does this row-at-a-time in Python,
  * ingestion/base.py:38-68; here it is a single codegen'd projection that
  * Catalyst can push column pruning through to the scan).
  */
object ColumnMapping {

  /** Apply a validated mapping. Source columns absent from the input (a
    * row-varying source in the reference) surface as typed NULL targets.
    * Adds one `_err_<target>` flag column per strict transformer so the
    * service can count unparseable inputs before writing anything, and
    * one `_err_len_<target>` flag per over-length VARCHAR(n) target
    * (ProductSchema.varcharLen, from the reference DDL
    * 001_up_init.sql:22-36): the reference's database rejects such an
    * INSERT and the whole ingest fails (service.py:56-64), so an
    * over-width value aborts the batch here too.
    */
  def apply(raw: DataFrame, cfg: ParserConfig): DataFrame = {
    cfg.validated()
    val present = raw.columns.toSet
    def widthOf(dst: String): Option[Int] =
      ProductSchema.varcharLen.get(dst)
        .filter(_ => targetType(dst) == org.apache.spark.sql.types.StringType)
    val mapped: Seq[Column] = cfg.columnMapping.map {
      case (src, (dst, tid)) =>
        if (present.contains(src)) Transformers(tid)(col(s"`$src`")).as(dst)
        else lit(null).cast(targetType(dst)).as(dst)
    }
    val errFlags: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, tid)) if Transformers.strictIds.contains(tid) && present.contains(src) =>
        Transformers.errorFlag(col(s"`$src`"), Transformers(tid)(col(s"`$src`")))
          .as(s"_err_$dst")
    }
    val lenFlags: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, tid)) if present.contains(src) && widthOf(dst).isDefined =>
        val transformed = Transformers(tid)(col(s"`$src`"))
        (transformed.isNotNull && length(transformed) > widthOf(dst).get)
          .as(s"_err_len_$dst")
    }
    // Raw source value alongside each strict flag, so an aborting batch
    // can report WHICH value failed (reference IngestionReport.report).
    val rawVals: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, tid)) if Transformers.strictIds.contains(tid) && present.contains(src) =>
        col(s"`$src`").cast(org.apache.spark.sql.types.StringType).as(s"_raw_$dst")
    }
    val lenRawVals: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, _)) if present.contains(src) && widthOf(dst).isDefined =>
        col(s"`$src`").cast(org.apache.spark.sql.types.StringType)
          .as(s"_raw_len_$dst")
    }
    // Integer range validation (the reference's DB would reject the
    // INSERT — see Transformers.integerRangeErrorFlag): flag parseable
    // values outside INTEGER's range so the service aborts the batch
    // instead of silently storing the coalesce-to-0 fallback.
    val rangeFlags: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, "integer")) if present.contains(src) =>
        Transformers.integerRangeErrorFlag(col(s"`$src`"))
          .as(s"_err_range_$dst")
    }
    val rangeRawVals: Seq[Column] = cfg.columnMapping.collect {
      case (src, (dst, "integer")) if present.contains(src) =>
        col(s"`$src`").cast(org.apache.spark.sql.types.StringType)
          .as(s"_raw_range_$dst")
    }
    // Presence of the row AFTER mapping (the reference's `if not
    // record_data: continue`, service.py:88-90): a row counts iff at
    // least one mapped SOURCE cell is physically present — tested on the
    // RAW cells, never on transformed outputs (integer coalesces
    // present-garbage to 0; testing the output would make the gate
    // inert). The source keeps ''-cells non-null (DictReader yields ''
    // for a present empty field), so '' rows stay present; only short
    // rows / missing source columns go absent.
    val presentFlag: Column = cfg.columnMapping.collect {
      case (src, _) if present.contains(src) => col(s"`$src`").isNotNull
    }.reduceOption(_ || _).getOrElse(lit(false)).as(PRESENT)
    val passthrough: Seq[Column] =
      if (present.contains(IngestSource.ROW_IDX)) Seq(col(IngestSource.ROW_IDX)) else Nil
    raw.select(mapped ++ errFlags ++ lenFlags ++ rangeFlags ++ rawVals ++
      lenRawVals ++ rangeRawVals ++ Seq(presentFlag) ++ passthrough: _*)
  }

  /** Flag column marking rows with at least one physically-present mapped
    * source cell — the reference's record_data non-emptiness.
    */
  val PRESENT = "_present"

  private def targetType(dst: String) =
    if (ProductSchema.allowedTargets.contains(dst)) ProductSchema.fieldType(dst)
    else org.apache.spark.sql.types.StringType
}
