package graft.sources

import graft.functions.Transformers.pyStrip
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ingest source formats.
  *
  * Mirrors the reference's parser registry (reference:
  * ingestion/parsers.py:10-48, config.py:139-145): a format id resolves to
  * a reader that produces an *all-string* DataFrame — source data carries
  * no types; meaning and types come only from the column mapping +
  * transformers, exactly like the reference's csv.DictReader rows.
  *
  * Every source appends `_row_idx` (read-order index) so that
  * duplicate-SKU-within-batch semantics ("later row wins", reference
  * ingestion/service.py:83-106 processes rows sequentially) survive the
  * shuffle. At 100 TB the index is per input split and only needs to be
  * monotone within a key's occurrences in one file, which a
  * partition-prefixed per-split counter guarantees.
  */
trait IngestSource {
  def id: String
  def read(spark: SparkSession, path: String): DataFrame
}

object IngestSource {
  val ROW_IDX = "_row_idx"

  /** CSV with header row, all columns read as strings (no inference —
    * reference semantics: types come only from transformers), parsed
    * POSITIONALLY against the raw header line with csv.DictReader's exact
    * cell semantics (reference ingestion/parsers.py:34-48):
    *
    *  - a present-but-EMPTY cell is the empty string `''` (DictReader
    *    yields '' for an empty field) — it IS supplied, so `text` maps it
    *    to '', `integer` to 0, and a strict `boolean`/`decimal` ABORTS
    *    the batch exactly as `bool('')`/`Decimal('')` raise there;
    *  - a cell that is physically ABSENT (short row: csv.DictReader's
    *    restval None; or the column missing from the header) is NULL —
    *    never transformed, never supplied, never an error;
    *  - header names are Python-stripped; columns whose raw header is
    *    empty are dropped (`if column_name` falsy check, parsers.py:42);
    *  - DUPLICATE exact header names follow dict(zip(fieldnames, row)) +
    *    restval: only the LAST position counts — even a value at an
    *    earlier duplicate position is masked by a short row (the restval
    *    loop overwrites it with None);
    *  - headers DISTINCT raw but equal after strip ("sku" vs "sku ")
    *    land on the same record_data key: the LAST PRESENT value in
    *    first-occurrence order wins (dict-comprehension overwrite,
    *    service.py:88 — an absent later cell does NOT erase an earlier
    *    present one);
    *  - a BLANK line yields no row (csv.reader emits [] and DictReader
    *    skips it); a row whose every truthy-header cell is absent yields
    *    no elements and is dropped (parsers.py:44-45);
    *  - extra fields beyond the header land under DictReader's None key
    *    and are dropped.
    *
    * Spark's own CSV datasource cannot express the ''-vs-absent
    * distinction (univocity's nullValue conflates them before Spark sees
    * the field), so data rows are parsed per line with univocity
    * directly, with Python csv's dialect (quote `"`, escape by doubling,
    * no whitespace trimming). Parsing is per input split — distributed,
    * codec-aware, one parser instance per task — NOT a driver loop; only
    * the single header line is probed driver-side. Quoted embedded
    * newlines split records here (line-framed input), the same limit
    * Spark's default (multiLine=false) CSV reader has.
    */
  object CsvSource extends IngestSource {
    val id = "csv"
    def read(spark: SparkSession, path: String): DataFrame =
      rawHeaderLine(spark, path) match {
        case Some(headers) => parsePositional(spark, path, headers)
        case None =>
          // header unobtainable (exotic filesystem, unreadable first
          // line): best-effort Spark read under its own header handling
          normalize(spark.read
            .option("header", "true")
            .option("mode", "PERMISSIVE")
            .option("inferSchema", "false")
            .csv(path))
      }

    private def parsePositional(
        spark: SparkSession, path: String, rawHeaders: Array[String]): DataFrame = {
      // dict(zip(fieldnames, row)) + restval semantics: per EXACT raw
      // name, only the last position counts; key order is first
      // occurrence. Blank raw names are DictReader-falsy and dropped.
      val names = rawHeaders.map(h => Option(h).getOrElse(""))
      val distinctRaw = names.distinct.filter(_.nonEmpty)
      val zipPos: Map[String, Int] =
        distinctRaw.map(r => r -> names.lastIndexOf(r)).toMap
      // record_data key = stripped name; candidate positions in
      // first-occurrence order of the raw names sharing it
      val groups: Seq[(String, Seq[Int])] = {
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Int]]
        distinctRaw.foreach { r =>
          val s = pyStrip(r)
          if (s.nonEmpty) seen.updateWith(s)(v => Some(v.getOrElse(Vector.empty) :+ zipPos(r)))
        }
        seen.toSeq.map { case (s, ps) => (s, ps) }
      }
      val outNames = groups.map(_._1)
      val schema = StructType(
        outNames.map(StructField(_, StringType, nullable = true)) :+
          StructField(ROW_IDX, LongType, nullable = false))
      if (groups.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      // presence of ANY truthy-raw-header cell keeps the row (the
      // reference's `if elements:`); positions of truthy raw names
      val truthyPos = distinctRaw.map(zipPos).toArray
      val groupPos: Array[Array[Int]] = groups.map(_._2.toArray).toArray
      val lines = spark.sparkContext.newAPIHadoopFile(
        path,
        classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text])
      val rows = lines.mapPartitionsWithIndex { (pid, it) =>
        val parser = new com.univocity.parsers.csv.CsvParser(pythonCsvSettings())
        // STRICT UTF-8, not Text.toString: the reference decodes the whole
        // upload up front (`client_data.decode('utf-8')`, parsers.py:35) and
        // an invalid byte ANYWHERE aborts the batch with a UnicodeDecodeError
        // — Hadoop's Text would silently substitute U+FFFD and ingest
        // mojibake (latin-1 exports are the classic case). The decoder is
        // per-task; the throw fails the Spark job and the ingest service
        // reports the failed batch, nothing written.
        val decoder = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        var counter = 0L
        it.flatMap { case (off, text) =>
          val line =
            try decoder.decode(java.nio.ByteBuffer.wrap(
              text.getBytes, 0, text.getLength)).toString
            catch {
              case _: java.nio.charset.CharacterCodingException =>
                throw new IllegalArgumentException(
                  s"invalid UTF-8 byte sequence in input line at offset ${off.get}" +
                    " — 'utf-8' codec can't decode the upload")
            }
          if (off.get == 0L || line.isEmpty) None // header / blank line
          else {
            val fs = parser.parseLine(line)
            if (fs == null) None
            else {
              val k = fs.length
              if (!truthyPos.exists(_ < k)) None // zero elements: dropped
              else {
                val idx = (pid.toLong << 33) | counter
                counter += 1
                val cells = groupPos.map { ps =>
                  // last PRESENT candidate wins; all-absent -> null
                  var v: String = null
                  var i = ps.length - 1
                  while (v == null && i >= 0) {
                    if (ps(i) < k) v = fs(ps(i))
                    i -= 1
                  }
                  v
                }
                Some(Row.fromSeq(cells.toIndexedSeq :+ idx))
              }
            }
          }
        }
      }
      spark.createDataFrame(rows, schema)
    }

    /** The one shared dialect for header probe AND data parse — Python
      * csv's default dialect (reference parsers.py:36 uses csv.DictReader
      * with no dialect args): quote `"`, escape by doubling, NO
      * whitespace trimming, NO comment lines. Univocity's own default
      * treats `#` as a line comment, which Python csv has no concept of —
      * left enabled it silently DROPS any data row whose first cell
      * starts with `#` (an unquoted "#1 Best Seller" title) and NULLs a
      * `#`-leading header probe; `\u0000` disables it. One documented
      * residual divergence (malformed input only): chars after a CLOSING
      * quote (`"a"x,b`) stay literal here (`"a"x`) where Python strips
      * the outer quotes (`ax`) — no univocity mode reproduces that, and
      * well-formed CSV never hits it.
      */
    private def pythonCsvSettings(): com.univocity.parsers.csv.CsvParserSettings = {
      val settings = new com.univocity.parsers.csv.CsvParserSettings
      settings.setMaxColumns(4096)
      settings.setMaxCharsPerColumn(1 << 20)
      settings.setIgnoreLeadingWhitespaces(false)
      settings.setIgnoreTrailingWhitespaces(false)
      settings.setNullValue("") // empty unquoted field -> '' (DictReader)
      settings.setEmptyValue("") // quoted "" -> ''
      settings.getFormat.setComment('\u0000') // Python csv: '#' lines are DATA
      settings
    }

    /** Driver-side probe of the raw header line, with the same dialect
      * the data parse uses (no trimming, Python-csv quoting) so header
      * quoting semantics match the reference's DictReader fieldnames.
      * A directory reads its first visible data file ('_'/'.'-prefixed
      * names are invisible to the scan, like Spark's own listing filter).
      */
    private def rawHeaderLine(spark: SparkSession, path: String): Option[Array[String]] =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val target =
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).filter(_.isFile).map(_.getPath)
              .filterNot(n => n.getName.startsWith("_") ||
                n.getName.startsWith("."))
              .sortBy(_.getName).head
          else p
        // Codec-aware open: TextInputFormat decompresses .gz/.bz2/... data
        // lines transparently (the first line of a compressed file still
        // carries key 0, so the header skip holds) — the probe must read
        // through the same codec or a compressed upload parses its
        // DEFLATE bytes as the header.
        val rawIn = fs.open(target)
        val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
          spark.sparkContext.hadoopConfiguration).getCodec(target)
        val in: java.io.InputStream =
          if (codec == null) rawIn else codec.createInputStream(rawIn)
        // STRICT decoder (InputStreamReader's default substitutes U+FFFD):
        // an invalid byte in the header line aborts the batch exactly like
        // the reference's up-front decode — the CharacterCodingException
        // is rethrown below, never swallowed into the fallback read.
        val line =
          try new java.io.BufferedReader(
            new java.io.InputStreamReader(in,
              java.nio.charset.StandardCharsets.UTF_8.newDecoder()))
            .readLine()
          finally in.close()
        if (line == null || line.isEmpty) Some(Array.empty)
        else
          Option(new com.univocity.parsers.csv.CsvParser(pythonCsvSettings())
            .parseLine(line))
      } catch {
        case e: java.nio.charset.CharacterCodingException =>
          throw new IllegalArgumentException(
            "invalid UTF-8 byte sequence in the CSV header line — " +
              "'utf-8' codec can't decode the upload", e)
        case _: Exception =>
          // bounded fallback: one-row Spark probe of the raw header line
          try Some(spark.read.option("header", "false").option("inferSchema", "false")
            .csv(path).head().toSeq.map(v => if (v == null) null else v.toString).toArray)
          catch { case _: Exception => None }
      }
  }

  /** JSON lines, primitives kept as strings (README backlog task 2 —
    * reference /root/reference/README.md:33, never implemented there).
    * JSON has a native present-vs-absent distinction: a missing field is
    * NULL (not supplied); an explicit `""` is the empty string (supplied,
    * so strict targets abort on it like the CSV path).
    */
  object JsonSource extends IngestSource {
    val id = "json"
    def read(spark: SparkSession, path: String): DataFrame = {
      val raw = spark.read
        .option("primitivesAsString", "true")
        .json(path)
      normalize(raw.drop("_corrupt_record"))
    }
  }

  /** Name-based normalization (JSON, and the CSV fallback when no raw
    * header line is available): Python-strip names, drop empty-named
    * columns, drop all-null rows, append the read-order index.
    */
  private[graft] def normalize(raw: DataFrame): DataFrame = {
    val kept = raw.columns.filter(c => pyStrip(c).nonEmpty)
    val renamed = raw.select(kept.map(c => col(s"`$c`").as(pyStrip(c))).toIndexedSeq: _*)
    val anyPresent = renamed.columns
      .map(c => col(s"`$c`").isNotNull)
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    renamed.filter(anyPresent).withColumn(ROW_IDX, monotonically_increasing_id())
  }

  val registry: Map[String, IngestSource] =
    Seq(CsvSource, JsonSource).map(s => s.id -> s).toMap

  def apply(id: String): IngestSource =
    registry.getOrElse(id,
      throw new IllegalArgumentException(s"Unknown parser id: $id"))
}
