package perfbench

import graft.operators.IngestionReport
import org.apache.spark.sql.Row

/** A stored catalog row as the shadow model holds it. */
final case class Stored(item: Item, active: Boolean, changedMs: Long)

/** Shadow model of one tenant: the engine's documented ingest semantics
  * replayed on plain collections, so each report and each listed page
  * can be checked against an independent answer.
  */
final class TenantModel(val tenant: Int) {
  val keyed = new java.util.TreeMap[String, Stored]()
  val anonymous = new scala.collection.mutable.ArrayBuffer[Stored]()

  def size: Int = keyed.size + anonymous.size

  def load(rows: Iterable[Stored]): Unit =
    rows.foreach(s => if (s.item.sku.isEmpty) anonymous += s else keyed.put(s.item.sku, s))

  private def pick[T <: AnyRef](newer: T, older: T): T = if (newer != null) newer else older

  private def overlay(older: Item, newer: Item): Item = Item(
    older.sku,
    pick(newer.remoteId, older.remoteId), pick(newer.brand, older.brand),
    pick(newer.title, older.title), pick(newer.stock, older.stock),
    pick(newer.active, older.active), pick(newer.maxPrice, older.maxPrice),
    pick(newer.minPrice, older.minPrice), pick(newer.refPrice, older.refPrice))

  /** Counts the merge produced, for the per-layer report. */
  final case class Applied(updated: Long, inserted: Long, deactivated: Long)

  /** The report the engine must return for `u` against the current state. */
  def expected(u: Upload): (Boolean, Long, Option[Long]) =
    if (u.poisoned) (false, 0L, None)
    else {
      val batch = u.items.iterator.filter(_.sku.nonEmpty).map(_.sku).toSet
      val deact =
        if (!u.fullUpdate) None
        else {
          var n = 0L
          val it = keyed.keySet.iterator
          while (it.hasNext) if (!batch.contains(it.next())) n += 1
          Some(n + anonymous.size)
        }
      (true, u.items.size.toLong, deact)
    }

  /** Apply a successful upload: full-update deactivation first, then the
    * within-batch last-non-null-wins dedup, the coalesce merge and the
    * anonymous inserts.
    */
  def apply(u: Upload): Applied = {
    val ts = u.batchTs.getTime
    val staged = new java.util.LinkedHashMap[String, Item]()
    u.items.foreach { it =>
      if (it.sku.nonEmpty) {
        val prev = staged.get(it.sku)
        staged.put(it.sku, if (prev == null) it else overlay(prev, it))
      }
    }
    var deactivated = 0L
    if (u.fullUpdate) {
      val it = keyed.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (!staged.containsKey(e.getKey)) {
          e.setValue(e.getValue.copy(active = false, changedMs = ts)); deactivated += 1
        }
      }
      anonymous.mapInPlace(_.copy(active = false, changedMs = ts))
      deactivated += anonymous.size
    }
    var updated = 0L
    var inserted = 0L
    staged.forEach { (sku, it) =>
      val old = keyed.get(sku)
      if (old == null) {
        inserted += 1
        keyed.put(sku, Stored(it, Option(it.active).forall(_.booleanValue), ts))
      } else {
        updated += 1
        val merged = overlay(old.item, it)
        keyed.put(sku, Stored(merged,
          if (it.active != null) it.active.booleanValue else old.active, ts))
      }
    }
    u.items.foreach { it =>
      if (it.sku.isEmpty) {
        inserted += 1
        anonymous += Stored(it, Option(it.active).forall(_.booleanValue), ts)
      }
    }
    Applied(updated, inserted, deactivated)
  }

  /** The page `CatalogQueries.list` must return, as ranked rows. Rows
    * that tie on every sort key (anonymous rows) come back as a group
    * whose order is free.
    */
  def page(query: Option[String], offset: Int, limit: Int): IndexedSeq[Stored] = {
    val need = offset + limit
    val ranked: Iterator[Stored] = query.filter(_.nonEmpty) match {
      case None =>
        anonymous.iterator ++ {
          val it = keyed.values.iterator
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        }
      case Some(q0) =>
        val q = q0.toLowerCase
        def hit(s: Stored) = {
          val i = s.item
          (i.title != null && i.title.toLowerCase.contains(q)) ||
          (i.remoteId != null && i.remoteId.toLowerCase.contains(q)) ||
          i.sku.toLowerCase.contains(q)
        }
        val all = (anonymous.iterator ++ {
          val it = keyed.values.iterator
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        }).filter(hit).toVector
        all.sortBy { s =>
          val l = s.item.sku.toLowerCase
          (if (l == q) 0 else 1, if (l.startsWith(q)) 0 else 1, s.item.sku)
        }.iterator
    }
    ranked.take(need).drop(offset).toIndexedSeq
  }
}

object TenantModel {
  private def eq(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Integer, y: Integer) => x.intValue == y.intValue
    case (x, y) => x != null && x == y
  }

  /** Whether a listed row carries exactly the stored row's values. */
  def same(r: Row, s: Stored, tenant: Int): Boolean = {
    val i = s.item
    r.getAs[Int]("client_id") == tenant &&
    eq(r.getAs[String]("sku"), i.sku) &&
    eq(r.getAs[String]("remote_id"), i.remoteId) &&
    eq(r.getAs[String]("brand"), i.brand) &&
    eq(r.getAs[String]("title"), i.title) &&
    eq(r.getAs[Integer]("stock_quantity"), i.stock) &&
    r.getAs[java.lang.Boolean]("active") == java.lang.Boolean.valueOf(s.active) &&
    eq(r.getAs[java.math.BigDecimal]("max_price"), i.maxPrice) &&
    eq(r.getAs[java.math.BigDecimal]("min_price"), i.minPrice) &&
    eq(r.getAs[java.math.BigDecimal]("reference_price"), i.refPrice) &&
    r.getAs[java.sql.Timestamp]("last_changed_on").getTime == s.changedMs
  }

  /** Page equality up to the free order inside a group of tied keys:
    * each position must carry the expected sort key, and the rows of
    * each tied group must match the expected group as a multiset.
    */
  def samePage(rows: Seq[Row], want: IndexedSeq[Stored], tenant: Int): Boolean =
    rows.size == want.size && {
      val got = rows.map(r => r.getAs[String]("sku"))
      got == want.map(_.item.sku) && {
        val (tiedGot, uniqGot) = rows.partition(_.getAs[String]("sku").isEmpty)
        val (tiedWant, uniqWant) = want.partition(_.item.sku.isEmpty)
        uniqGot.zip(uniqWant).forall { case (r, s) => same(r, s, tenant) } && {
          val left = scala.collection.mutable.ArrayBuffer.from(tiedWant)
          tiedGot.forall { r =>
            val k = left.indexWhere(s => same(r, s, tenant))
            k >= 0 && { left.remove(k); true }
          }
        }
      }
    }

  def reportMatches(rep: IngestionReport, want: (Boolean, Long, Option[Long])): Boolean = {
    val (ok, processed, deact) = want
    rep.success == ok && rep.processedCount == processed &&
      (!ok || rep.stats.get("processed_count").contains(processed)) &&
      deact.forall(d => rep.stats.get("deactivated_count").contains(d))
  }
}
