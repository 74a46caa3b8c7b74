package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One generated catalog row, typed as the engine must store it. A null
  * field is absent from the source record (JSON lines only), so the
  * upload does not supply that column. `sku` is never null: "" is the
  * anonymous always-insert row.
  */
final case class Item(
    sku: String,
    remoteId: String,
    brand: String,
    title: String,
    stock: Integer,
    active: java.lang.Boolean,
    maxPrice: java.math.BigDecimal,
    minPrice: java.math.BigDecimal,
    refPrice: java.math.BigDecimal)

/** One upload: its rows in file order, where they were written, and the
  * outcome the shadow model must see.
  */
final case class Upload(
    index: Int,
    tenant: Int,
    json: Boolean,
    fullUpdate: Boolean,
    poisoned: Boolean,
    items: IndexedSeq[Item],
    path: String,
    bytes: Long,
    batchTs: java.sql.Timestamp)

/** Seeded generator of catalog uploads (CSV and JSON lines) and of the
  * initial tenant catalogs. Everything derives from the seed, so one
  * seed gives byte-identical files.
  */
object Gen {

  /** Client-side column names, mapped onto all nine catalog columns. */
  val SourceCols: Seq[(String, String, String)] = Seq(
    ("SKU", "sku", "text"),
    ("RemoteId", "remote_id", "text"),
    ("Brand", "brand", "text"),
    ("Title", "title", "text"),
    ("Stock", "stock_quantity", "integer"),
    ("Active", "active", "boolean"),
    ("MaxPrice", "max_price", "decimal"),
    ("MinPrice", "min_price", "decimal"),
    ("RefPrice", "reference_price", "decimal"))

  def parserConfig(json: Boolean): String =
    SourceCols.map { case (src, dst, t) => s""""$src":["$dst","$t"]""" }
      .mkString(s"""{"parser_id":"${if (json) "json" else "csv"}","column_mapping":{""", ",", "}}")

  val Brands: IndexedSeq[String] = IndexedSeq("Acme", "Borealis", "Cobalt",
    "Dynamo", "Everest", "Fjord", "Granite", "Helios", "Ion", "Juniper",
    "Kestrel", "Lumen", "Meridian", "Nimbus", "Orchid", "Pioneer")

  val Words: IndexedSeq[String] = IndexedSeq("steel", "cotton", "wireless",
    "compact", "outdoor", "kitchen", "ceramic", "bamboo", "leather", "travel",
    "smart", "classic", "portable", "organic", "digital", "vintage", "modular",
    "thermal", "velvet", "carbon", "garden", "studio", "marine", "alpine")

  def sku(tenant: Int, n: Int): String = f"T$tenant%02d-$n%07d"

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def money(r: SplittableRandom, lo: Int, hi: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(lo * 100L + r.nextLong((hi - lo) * 100L), 2)

  /** A fully supplied row for sku number `n`. */
  def item(r: SplittableRandom, tenant: Int, n: Int): Item = {
    val ref = money(r, 1, 900)
    val min = ref.subtract(money(r, 0, 1)).max(java.math.BigDecimal.ZERO.setScale(2))
    Item(sku(tenant, n), s"R${r.nextInt(100000000)}",
      Brands(r.nextInt(Brands.size)),
      Seq.fill(2 + r.nextInt(4))(Words(r.nextInt(Words.size))).mkString(" "),
      Integer.valueOf(r.nextInt(5000)), java.lang.Boolean.valueOf(r.nextInt(10) != 0),
      ref.add(money(r, 0, 50)), min, ref)
  }

  /** JSON lines leave optional fields out now and then: the engine must
    * keep the stored value for a column the record does not supply.
    */
  def thin(r: SplittableRandom, it: Item): Item =
    if (r.nextInt(8) != 0) it
    else it.copy(
      brand = if (r.nextBoolean()) null else it.brand,
      remoteId = if (r.nextBoolean()) null else it.remoteId,
      stock = if (r.nextInt(3) == 0) null else it.stock)

  /** Rows of one upload into a tenant whose sku numbers so far are
    * [0, known): `existing` of them reuse a known sku (upserts), the rest
    * extend the range; ~1% repeat an sku earlier in the same batch and a
    * few are anonymous (empty sku).
    */
  def uploadItems(r: SplittableRandom, tenant: Int, rows: Int, known: Int,
      existingShare: Double, json: Boolean, anonymous: Int): (IndexedSeq[Item], Int) = {
    var next = known
    val out = new scala.collection.mutable.ArrayBuffer[Item](rows + anonymous)
    val used = new scala.collection.mutable.HashSet[Int]
    while (out.size < rows) {
      val dup = out.nonEmpty && r.nextInt(100) == 0
      val n =
        if (dup) -1
        else if (known > 0 && r.nextDouble() < existingShare) {
          var k = r.nextInt(known); var tries = 0
          while (used.contains(k) && tries < 4) { k = r.nextInt(known); tries += 1 }
          k
        } else { next += 1; next - 1 }
      val it =
        if (dup) {
          val prev = out(r.nextInt(out.size))
          item(r, tenant, 0).copy(sku = prev.sku)
        } else { used += n; item(r, tenant, n) }
      out += (if (json) thin(r, it) else it)
    }
    (0 until anonymous).foreach { _ =>
      out.insert(r.nextInt(out.size + 1), item(r, tenant, 0).copy(sku = ""))
    }
    (out.toIndexedSeq, next)
  }

  private def decimalText(r: SplittableRandom, d: java.math.BigDecimal): String =
    if (r.nextInt(10) == 0) "$" + d.toPlainString else d.toPlainString

  private def boolText(r: SplittableRandom, b: java.lang.Boolean): String =
    (if (b) Seq("true", "yes", "1", "True") else Seq("false", "no", "0", "FALSE"))(r.nextInt(4))

  private def intText(r: SplittableRandom, i: Integer): String =
    if (r.nextInt(20) == 0) s"$i.0" else i.toString

  private def cells(r: SplittableRandom, it: Item): Seq[String] = Seq(
    it.sku, it.remoteId, it.brand, it.title,
    Option(it.stock).map(intText(r, _)).orNull,
    Option(it.active).map(boolText(r, _)).orNull,
    Option(it.maxPrice).map(decimalText(r, _)).orNull,
    Option(it.minPrice).map(decimalText(r, _)).orNull,
    Option(it.refPrice).map(decimalText(r, _)).orNull)

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write the rows as CSV or JSON lines; `poisonRow` (if >= 0) gets an
    * unparseable max price, which must abort the whole upload. Returns
    * the bytes written.
    */
  def write(file: File, items: IndexedSeq[Item], json: Boolean, seed: Long,
      poisonRow: Int): Long = {
    val r = new SplittableRandom(seed)
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      if (!json) w.write(SourceCols.map(_._1).mkString("", ",", "\n"))
      var i = 0
      while (i < items.size) {
        val c0 = cells(r, items(i))
        val c = if (i == poisonRow) c0.updated(6, "12.3.4") else c0
        if (json)
          w.write(SourceCols.map(_._1).zip(c).collect {
            case (k, v) if v != null => s"${jsonStr(k)}:${jsonStr(v)}"
          }.mkString("{", ",", "}\n"))
        else w.write(c.map(v => if (v == null) "" else v).mkString("", ",", "\n"))
        i += 1
      }
    } finally w.close()
    file.length()
  }
}
