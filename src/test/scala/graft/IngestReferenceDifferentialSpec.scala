package graft

import graft.operators.{IngestionService, ParserConfig, ProductStore}

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

/** Randomized differential test of the ENTIRE ingest path against a
  * driver-side simulation of the reference's sequential algorithm
  * (ingestion/service.py:66-109): per-row lookup, update supplied
  * non-null non-sku columns, unconditional timestamp bump on update,
  * insert otherwise, empty-sku always-insert, and full-update
  * deactivation before the upsert loop. Seeded, so failures reproduce.
  *
  * Cell semantics follow csv.DictReader exactly (parsers.py:34-48):
  * a row is a prefix of the header's columns — a TRAILING-SHORT row
  * leaves the missing cells unsupplied (restval None, element dropped),
  * while a PRESENT empty cell is '' (supplied: text maps it to '',
  * boolean('') would abort). "Absent" is therefore only expressible as
  * a short row; a generator emitting '' can never mean "not supplied".
  * A zero-length row is a blank line, which csv.reader skips.
  *
  * The engine's distributed plan (window dedup + full-outer coalesce
  * merge + anti-join deactivation + partition swap) must land on exactly
  * the same final table as the row-at-a-time reference semantics for
  * every generated batch sequence.
  */
class IngestReferenceDifferentialSpec extends SparkSpec {

  private val cfg = ParserConfig("csv", Seq(
    "sku" -> ("sku", "text"),
    "title" -> ("title", "text"),
    "active" -> ("active", "boolean")))

  private case class SimRow(
      sku: String, // stored representation: '' for anonymous, never NULL
      var title: Option[String],
      var active: Boolean,
      var ts: Timestamp)

  /** One batch applied with reference semantics. Each row is the PREFIX
    * of (sku, title, active) cells physically present in the CSV line —
    * length 0 is a blank line, length 2 leaves `active` unsupplied.
    */
  private def simulate(
      state: mutable.ArrayBuffer[SimRow],
      rows: Seq[Vector[String]],
      fullUpdate: Boolean,
      ts: Timestamp): Unit = {
    def text(s: String): String = s.trim
    def bool(s: String): Boolean = Seq("yes", "true", "1").contains(s.trim.toLowerCase)
    def cell(r: Vector[String], i: Int): Option[String] =
      if (i < r.length) Some(r(i)) else None
    // Deactivation scope is `sku IS NOT NULL` (service.py:76) and the
    // key set EXCLUDES '' (falsy-skipped, service.py:22) — and since the
    // reference STORES '' for anonymous rows (DictReader yields '', the
    // DDL forbids NULL), those rows are IN scope and DO deactivate.
    val batchSkus = rows.flatMap(cell(_, 0)).map(text).filter(_.nonEmpty).toSet
    if (fullUpdate) state.foreach { r =>
      if (!batchSkus.contains(r.sku)) {
        r.active = false; r.ts = ts
      }
    }
    rows.foreach { row =>
      if (row.nonEmpty) { // blank line: csv.reader yields [], row skipped
        val sku = cell(row, 0).map(text)
        val title = cell(row, 1).map(text)
        val active = cell(row, 2).map(bool)
        val keyed = sku.filter(_.nonEmpty)
        val existing = keyed.flatMap(k => state.find(_.sku == k))
        existing match {
          case Some(r) =>
            title.foreach(t => r.title = Some(t)) // '' IS supplied
            active.foreach(a => r.active = a)
            r.ts = ts // reference bumps unconditionally on the update path
          case None =>
            // anonymous rows store sku '' like the reference, never NULL
            // (sku is always present here: column 0 of a non-blank row)
            state += SimRow(sku.getOrElse(""), title,
              active.getOrElse(true), ts)
        }
      }
    }
  }

  private def csvFor(rows: Seq[Vector[String]]): String = {
    val dir = tmpDir("diff")
    val body = rows.map(_.mkString(","))
    writeText(dir, "b.csv", ("sku,title,active" +: body).mkString("\n"))
  }

  /** Random row: a prefix of (sku, title, active). Length-1 rows keep a
    * non-empty sku (a lone '' cell would serialize as a blank line and
    * mean something else); '' cells elsewhere exercise the supplied-empty
    * path; absent active exercises the unsupplied path.
    */
  private def genRow(rnd: Random, skuPool: Seq[String], boolPool: Seq[String],
      poisonActive: Option[String] = None): Vector[String] = {
    val sku =
      if (rnd.nextInt(10) == 0) "" // anonymous '' insert
      else skuPool(rnd.nextInt(skuPool.length))
    val title =
      if (rnd.nextInt(6) == 0) "" // supplied-empty title overwrites with ''
      else s"T${rnd.nextInt(50)}"
    val active = poisonActive.getOrElse(boolPool(rnd.nextInt(boolPool.length)))
    val len = poisonActive match {
      case Some(_) => 3 // the poison cell must be present to abort
      case None => rnd.nextInt(10) match {
        case 0 => 0 // blank line
        case 1 | 2 => if (sku.nonEmpty) 1 else 2 // short rows
        case 3 | 4 => 2
        case _ => 3
      }
    }
    Vector(sku, title, active).take(len)
  }

  test("random batch sequences: engine == reference simulation (seeded)") {
    val rnd = new Random(77)
    val skuPool = Seq("A1", "B2", "C3", "D4", "E5", "F6")
    val boolPool = Seq("1", "0", "yes", "no", "TRUE", " False ")
    (1 to 3).foreach { trial =>
      val store = new ProductStore(spark, tmpDir(s"dstore$trial"))
      val svc = new IngestionService(spark, store, clientId = 1)
      val state = mutable.ArrayBuffer.empty[SimRow]
      (1 to 4).foreach { b =>
        val n = 1 + rnd.nextInt(10)
        val rows = (1 to n).map(_ => genRow(rnd, skuPool, boolPool))
        val fullUpdate = rnd.nextInt(3) == 0
        val ts = Timestamp.valueOf(f"2024-02-0$b%d 00:00:00")
        val rep = svc.ingest(cfg, csvFor(rows), fullUpdate, ts)
        assert(rep.success, s"trial $trial batch $b: ${rep.message}")
        simulate(state, rows, fullUpdate, ts)

        val actual = store.read()
          .collect()
          .map(r => (r.getAs[String]("sku"),
            Option(r.getAs[String]("title")),
            r.getAs[Boolean]("active"),
            r.getAs[Timestamp]("last_changed_on")))
          .sortBy(_.toString)
        val expected = state
          .map(r => (r.sku, r.title, r.active, r.ts))
          .sortBy(_.toString)
        assert(actual.toSeq === expected.toSeq, s"trial $trial after batch $b")
      }
    }
  }

  test("mapped client_id is ignored on insert and update paths") {
    // Reference service.py:95-100 lets the update path setattr a mapped
    // client_id (the row MOVES tenant) while the insert path pins the
    // authenticated tenant (dict union, service.py:109). The engine pins
    // the tenant on BOTH paths — a documented deviation: the first batch
    // takes the insert path, the second the update path, both mapping
    // client_id = 3 for a service authenticated as tenant 1.
    val cfgMove = ParserConfig("csv", Seq(
      "sku" -> ("sku", "text"),
      "title" -> ("title", "text"),
      "cid" -> ("client_id", "integer")))
    def csvMove(rows: Seq[(String, String, Int)]): String = {
      val dir = tmpDir("diffmv")
      val body = rows.map { case (s, t, c) => s"$s,$t,$c" }
      writeText(dir, "b.csv", ("sku,title,cid" +: body).mkString("\n"))
    }
    val store = new ProductStore(spark, tmpDir("mvoff"))
    val svc = new IngestionService(spark, store, clientId = 1)
    val ts = Timestamp.valueOf("2024-04-09 00:00:00")
    assert(svc.ingest(cfgMove, csvMove(Seq(("X1", "T1", 3))), batchTs = ts).success)
    assert(svc.ingest(cfgMove, csvMove(Seq(("X1", "T2", 3))), batchTs = ts).success)
    val rows = store.read().collect()
    assert(rows.length === 1 && rows.head.getAs[Int]("client_id") === 1,
      "the tenant must stay pinned on update and insert")
    assert(rows.head.getAs[String]("title") === "T2")
  }

  // ---- Python numeric models (independent re-implementations: a
  // hand-rolled grammar walk, NOT the engine's regex) ----

  /** float(s) under Python's literal grammar: None on ValueError.
    * digitpart = digits with single underscores BETWEEN digits; the
    * mantissa needs at least one digit on either side of the dot; the
    * inf/infinity/nan words parse (case-insensitive, signed).
    */
  private def pyFloatOpt(raw: String): Option[Double] = {
    val s = graft.functions.Transformers.pyStrip(raw).toLowerCase
    def digitpart(t: String): Boolean =
      t.nonEmpty && t.head.isDigit && t.last.isDigit && !t.contains("__") &&
        t.forall(c => c.isDigit || c == '_')
    val (sign, body) =
      if (s.startsWith("+")) (1.0, s.drop(1))
      else if (s.startsWith("-")) (-1.0, s.drop(1)) else (1.0, s)
    if (body == "inf" || body == "infinity")
      return Some(sign * Double.PositiveInfinity)
    if (body == "nan") return Some(Double.NaN)
    val (mant, exp) = body.indexOf('e') match {
      case -1 => (body, "")
      case i => (body.take(i), body.drop(i + 1))
    }
    val expOk = exp.isEmpty || {
      val e = if (exp.startsWith("+") || exp.startsWith("-")) exp.drop(1) else exp
      digitpart(e)
    }
    val mantOk = mant.indexOf('.') match {
      case -1 => digitpart(mant)
      case i =>
        val (ip, fp) = (mant.take(i), mant.drop(i + 1))
        (ip.isEmpty || digitpart(ip)) && (fp.isEmpty || digitpart(fp)) &&
          (ip.nonEmpty || fp.nonEmpty)
    }
    if (mantOk && expOk) Some(s.replace("_", "").toDouble) else None
  }

  /** IntegerTransformer: int(float(s)) with the ValueError->0 fallback;
    * None = the uncatchable abort (OverflowError from int(inf), or the
    * DB INTEGER overflow on a parseable out-of-range value).
    */
  private def pyIntOutcome(raw: String): Either[Unit, Int] =
    pyFloatOpt(raw) match {
      case Some(d) if d.isInfinite => Left(()) // int(inf): OverflowError
      case Some(d) if d.isNaN => Right(0) // int(nan): ValueError -> 0
      case Some(d) if d >= 2147483648.0 || d <= -2147483649.0 => Left(()) // DB overflow
      case Some(d) => Right(d.toInt)
      case None => Right(0) // ValueError -> 0
    }

  /** DecimalTransformer + NUMERIC(12,2): currency/comma removal, Python
    * strip, Decimal's remove-underscores-anywhere, quantize half-away.
    * None = InvalidOperation or numeric overflow -> batch abort.
    * ('nan' stays OUT of the generator pools: the reference stores a
    * NaN numeric there — the engine's documented abort deviation.)
    */
  private def pyDecimalOutcome(raw: String): Option[BigDecimal] = {
    val stripped = graft.functions.Transformers.pyStrip(
      raw.replace("$", "").replace("£", "").replace(",", ""))
    val cleaned = stripped.replace("_", "")
    if (cleaned.exists(c => Character.isWhitespace(c) || Character.isSpaceChar(c)))
      return None // exposed/inner whitespace: InvalidOperation
    scala.util.Try(BigDecimal(cleaned)).toOption
      .map(_.setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .filter(_.abs < BigDecimal("10000000000")) // DECIMAL(12,2) overflow aborts
  }

  test("random numeric batches: integer/decimal Python grammar == simulation (seeded)") {
    // Same differential discipline over the NUMERIC transformers: the
    // generator emits the literal forms where Spark's casts and Python's
    // parsers disagree (PEP 515 underscores, Java 'd'/'f' suffixes,
    // inf words, truncation-edge range values, '#'-leading skus), the
    // simulation replays Python semantics from an independent model,
    // and poisoned batches must abort without touching the table.
    val cfgNum = ParserConfig("csv", Seq(
      "sku" -> ("sku", "text"),
      "qty" -> ("stock_quantity", "integer"),
      "price" -> ("max_price", "decimal")))
    def csvNum(rows: Seq[Vector[String]]): String = {
      val dir = tmpDir("diffnum")
      // csv.writer quoting: a field containing the delimiter is wrapped
      // in quotes (price values like "$1,234.50" must survive as ONE
      // cell, exactly as a real client export would carry them)
      def field(v: String): String =
        if (v.exists(c => c == ',' || c == '"' || c == '\n'))
          "\"" + v.replace("\"", "\"\"") + "\""
        else v
      val body = rows.map(_.map(field).mkString(","))
      writeText(dir, "b.csv", ("sku,qty,price" +: body).mkString("\n"))
    }
    case class NumRow(sku: String, var qty: Option[Int],
        var price: Option[BigDecimal], var ts: Timestamp)
    val qtyPool = Seq("3.7", "-3.7", "42", "junk", "", "1_000", "1d",
      "2.5f", "nan", "2147483647.9", "-2147483648.5", "1_0e0_1", "_1", "5_")
    val qtyPoison = Seq("inf", "-Infinity", "1e999", "2147483648", "-2147483649")
    val pricePool = Seq("$1,234.50", "£99.9", "7", "1_000.2_5", "_1",
      "12.345", "1e3", "-0.5")
    val pricePoison = Seq("garbage", "1 234.50", "_ 1", "", "1d", "99999999999")
    val skuPool = Seq("A1", "B2", "#1", "C3", "D4")
    val rnd = new Random(123)
    (1 to 3).foreach { trial =>
      val store = new ProductStore(spark, tmpDir(s"nstore$trial"))
      val svc = new IngestionService(spark, store, clientId = 1)
      val state = mutable.ArrayBuffer.empty[NumRow]
      (1 to 5).foreach { b =>
        val poison = rnd.nextInt(3) == 0
        val skus = rnd.shuffle(skuPool).take(1 + rnd.nextInt(4))
        val badAt = if (poison) rnd.nextInt(skus.length) else -1
        val rows = skus.zipWithIndex.map { case (sku, i) =>
          val qty = qtyPool(rnd.nextInt(qtyPool.length))
          val price = pricePool(rnd.nextInt(pricePool.length))
          if (i == badAt) {
            if (rnd.nextBoolean()) Vector(sku, qtyPoison(rnd.nextInt(qtyPoison.length)), price)
            else Vector(sku, qty, pricePoison(rnd.nextInt(pricePoison.length)))
          } else {
            rnd.nextInt(6) match {
              case 0 => Vector(sku) // qty+price unsupplied
              case 1 => Vector(sku, qty) // price unsupplied
              case _ => Vector(sku, qty, price)
            }
          }
        }
        val ts = Timestamp.valueOf(f"2024-05-0$b%d 00:00:00")
        val rep = svc.ingest(cfgNum, csvNum(rows), batchTs = ts)
        if (poison) {
          assert(!rep.success, s"trial $trial batch $b must abort: $rows")
          // state NOT simulated: table must equal the pre-batch state
        } else {
          assert(rep.success, s"trial $trial batch $b: ${rep.message} $rows")
          rows.foreach { row =>
            val sku = row.head
            val qty = row.lift(1).map(v => pyIntOutcome(v)
              .getOrElse(fail(s"non-poison qty '$v' aborted in the model")))
            val price = row.lift(2).map(v => pyDecimalOutcome(v)
              .getOrElse(fail(s"non-poison price '$v' aborted in the model")))
            state.find(_.sku == sku) match {
              case Some(r) =>
                qty.foreach(v => r.qty = Some(v))
                price.foreach(v => r.price = Some(v))
                r.ts = ts
              case None =>
                state += NumRow(sku, qty, price, ts)
            }
          }
        }
        val actual = store.read().collect()
          .map(r => (r.getAs[String]("sku"),
            Option(r.getAs[Integer]("stock_quantity")).map(_.intValue),
            Option(r.getAs[java.math.BigDecimal]("max_price")).map(BigDecimal(_)),
            r.getAs[Timestamp]("last_changed_on")))
          .sortBy(_.toString)
        val expected = state.map(r => (r.sku, r.qty, r.price, r.ts))
          .sortBy(_.toString)
        assert(actual.toSeq === expected.toSeq, s"trial $trial after batch $b")
      }
    }
  }

  test("random sequences with abort batches: failures commit nothing (seeded)") {
    // Same differential, but ~1 in 3 batches carries an unparseable strict
    // boolean: the engine must report failure WITHOUT touching the table
    // (the reference's transaction rollback), and resume cleanly on the
    // next good batch.
    val rnd = new Random(101)
    val skuPool = Seq("A1", "B2", "C3", "D4")
    val boolPool = Seq("1", "0", "yes", "no")
    (1 to 3).foreach { trial =>
      val store = new ProductStore(spark, tmpDir(s"astore$trial"))
      val svc = new IngestionService(spark, store, clientId = 1)
      val state = mutable.ArrayBuffer.empty[SimRow]
      (1 to 5).foreach { b =>
        val n = 1 + rnd.nextInt(8)
        val poison = rnd.nextInt(3) == 0
        val badAt = if (poison) rnd.nextInt(n) else -1
        val rows = (0 until n).map { i =>
          genRow(rnd, skuPool, boolPool,
            poisonActive = if (i == badAt) Some(s"bogus${rnd.nextInt(9)}") else None)
        }
        val fullUpdate = rnd.nextInt(3) == 0
        val ts = Timestamp.valueOf(f"2024-03-0$b%d 00:00:00")
        val rep = svc.ingest(cfg, csvFor(rows), fullUpdate, ts)
        if (poison) {
          assert(!rep.success, s"trial $trial batch $b must abort")
          assert(rep.report.nonEmpty, "abort must carry row details")
          // state NOT simulated: table must equal the pre-batch state
        } else {
          assert(rep.success, s"trial $trial batch $b: ${rep.message}")
          simulate(state, rows, fullUpdate, ts)
        }
        val actual = store.read()
          .collect()
          .map(r => (r.getAs[String]("sku"),
            Option(r.getAs[String]("title")),
            r.getAs[Boolean]("active"),
            r.getAs[Timestamp]("last_changed_on")))
          .sortBy(_.toString)
        val expected = state
          .map(r => (r.sku, r.title, r.active, r.ts))
          .sortBy(_.toString)
        assert(actual.toSeq === expected.toSeq, s"trial $trial after batch $b")
      }
    }
  }
}
