package perfbench

import graft.GraftEngine
import graft.operators.{ColumnMapping, IngestionReport, MergeOps, ParserConfig, ProductStore}
import graft.sources.IngestSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One finished upload, kept until the end-of-run model replay. */
final case class UploadLog(u: Upload, report: IngestionReport, seq: Long,
    ms: Double, lockWaitMs: Double, gateMs: Double, writeMs: Double, span: Option[Span],
    failed: Option[String])

/** One listed page kept for checking: the tenant states it may show are
  * the publishes numbered `lo` to `hi` for that tenant.
  */
final case class PageLog(tenant: Int, query: Option[String], offset: Int, limit: Int,
    lo: Long, hi: Long, rows: Seq[Row])

/** Shared machinery of the two catalog workloads: store set-up, the
  * traced layer probes, the upload call and the model replay.
  */
final class CatalogRig(val spark: SparkSession, val tracer: Tracer, val work: File) {
  private val storeSeq = new AtomicInteger(0)
  var backend: TimedBackend = _
  var engine: GraftEngine = _
  var root: Path = _

  /** A fresh empty store with an engine over it. */
  def freshStore(): Unit = {
    root = work.toPath.resolve(s"store-${storeSeq.incrementAndGet()}")
    backend = new TimedBackend(new ProductStore(spark, root.toString), tracer, spark)
    engine = new GraftEngine(spark, backend)
  }

  val schema: StructType = graft.ProductSchema.CLIENT_PRODUCTS_SCHEMA

  /** Write initial tenant catalogs as one CSV file (every field present). */
  def writeSeed(file: File, states: Seq[(Int, Seq[Stored])]): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(file), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try states.foreach { case (t, ss) =>
      ss.foreach { s =>
        val i = s.item
        w.write(s"$t,${i.sku},${i.remoteId},${i.brand},${i.title},${s.changedMs},${i.stock}," +
          s"${s.active},${i.maxPrice},${i.minPrice},${i.refPrice}\n")
      }
    } finally w.close()
  }

  /** Publish the initial catalogs through the store's full-table write. */
  def seed(file: File): Unit = {
    val raw = spark.read.schema(StructType(schema.fields.map(_.copy(dataType =
      org.apache.spark.sql.types.StringType)))).csv(file.getPath)
    backend.overwriteAtomic(raw.select(schema.fields.map { f =>
      (if (f.name == "last_changed_on") timestamp_millis(col(f.name).cast("long"))
       else col(f.name).cast(f.dataType)).as(f.name)
    }.toIndexedSeq: _*))
  }

  /** The benchmark's forcing reduction: every row and column evaluated. */
  def force(df: DataFrame): Row =
    df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
      .head()

  val layer = new mutable.HashMap[String, mutable.ArrayBuffer[Double]]
  def note(name: String, v: Double): Unit =
    layer.synchronized(layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  /** Traced runs only: call the source, mapping and merge layers directly
    * on this upload's file and the tenant's current state, one at a time.
    */
  def probe(u: Upload): Unit = {
    val cfg = ParserConfig.fromJson(Gen.parserConfig(u.json))
    val t0 = System.nanoTime()
    val raw = tracer.span(spark, "sources") {
      val r = IngestSource(cfg.parserId).read(spark, u.path).persist()
      force(r); r
    }
    val srcMs = (System.nanoTime() - t0) / 1e6
    note("sources.read_ms", srcMs)
    note("sources.rows", u.items.size)
    note("sources.bytes_read", u.bytes)
    try {
      val t1 = System.nanoTime()
      val mapped = tracer.span(spark, "mapping") {
        val m = ColumnMapping(raw, cfg.validated()).persist()
        val errCols = m.columns.filter(_.startsWith("_err_"))
        val bad = m.agg(sum(when(errCols.map(col).reduce(_ || _), 1L).otherwise(0L)),
          bit_xor(xxhash64(struct(m.columns.map(col).toIndexedSeq: _*)))).head()
        note("mapping.strict_error_rows", bad.getLong(0).toDouble)
        m
      }
      note("mapping.ms", (System.nanoTime() - t1) / 1e6)
      note("mapping.rows", u.items.size)
      try if (!u.poisoned) probeMerge(u, mapped)
      finally mapped.unpersist()
    } finally raw.unpersist()
  }

  private def probeMerge(u: Upload, mapped: DataFrame): Unit = {
    val keys = graft.ProductSchema.mergeKeys
    val aux = mapped.columns.filter(c => c.startsWith("_err_") || c.startsWith("_raw_") ||
      c == ColumnMapping.PRESENT)
    val staged = mapped.filter(col(ColumnMapping.PRESENT)).drop(aux.toIndexedSeq: _*)
      .withColumn("client_id", lit(u.tenant))
      .filter(col("sku").isNotNull && length(col("sku")) > 0)
    val dataCols = staged.columns.toSeq.filterNot(keys.contains).filterNot(_ == IngestSource.ROW_IDX)
    def timed(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val d = tracer.span(spark, "merge") { val x = df; force(x); x }
      note(name, (System.nanoTime() - t0) / 1e6)
      d
    }
    val deduped = timed("merge.dedup_ms")(
      MergeOps.lastNonNullWins(staged, keys, IngestSource.ROW_IDX, dataCols).persist())
    try {
      val target = backend.inner.readClient(u.tenant)
      if (u.fullUpdate)
        timed("merge.anti_update_ms")(MergeOps.antiUpdate(target, deduped.select(keys.map(col): _*),
          keys, col("client_id") === u.tenant && col("sku").isNotNull,
          Map("active" -> lit(false), "last_changed_on" -> lit(u.batchTs)))._1)
      timed("merge.coalesce_ms")(MergeOps.coalesceMerge(target, deduped, keys,
        touchedCol = Some("last_changed_on"), stamp = lit(u.batchTs)))
    } finally deduped.unpersist()
  }

  /** Store files of one tenant in the live version that are newer than
    * `sinceMs`: what the last publish wrote (older files are hard links).
    */
  def newFiles(tenant: Int, sinceMs: Long): (Int, Long) = {
    val dir = liveDir.map(_.resolve(s"client_id=$tenant"))
    dir.filter(Files.isDirectory(_)).fold((0, 0L)) { d =>
      val fs = Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs - 1).toSeq
      (fs.size, fs.map(Files.size).sum)
    }
  }

  def liveDir: Option[Path] = {
    val cur = root.resolve("CURRENT")
    if (Files.exists(cur)) Some(root.resolve("versions").resolve(Files.readString(cur).trim))
    else None
  }

  /** Store shape at the end of a run: data files per tenant, bytes on disk
    * (each inode once) per live byte, and versions kept.
    */
  def storeShape(): Map[String, Double] = {
    val live = liveDir.get
    def dataFiles(p: Path) = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    val liveFiles = dataFiles(live)
    val tenants = Files.list(live).iterator().asScala.count(_.getFileName.toString.startsWith("client_id="))
    val liveBytes = liveFiles.map(Files.size).sum.toDouble
    val inodes = mutable.HashMap[Any, Long]()
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val key = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      inodes(if (key == null) f.toString else key) = Files.size(f)
    }
    val versions = Files.list(root.resolve("versions")).iterator().asScala.count(Files.isDirectory(_))
    Map("store.files_per_tenant" -> liveFiles.size.toDouble / math.max(1, tenants),
      "store.disk_bytes_per_live_byte" -> inodes.values.sum / math.max(1.0, liveBytes),
      "store.versions_retained" -> versions.toDouble)
  }

  /** One upload through the public call, timed; traced runs probe first. */
  def upload(u: Upload): UploadLog = {
    if (tracer.on) probe(u)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var span: Option[Span] = None
    val (res, call) = backend.tracked(u.tenant) {
      try Right(tracer.span(spark, "ingest") {
        val r = engine.ingest(u.tenant, Gen.parserConfig(u.json), u.path, u.fullUpdate, u.batchTs)
        r
      })
      catch { case e: Exception => Left(e.toString) }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracer.on) {
      val me = Thread.currentThread().getId
      span = tracer.all.filter(s => s.layer == "ingest" && s.thread == me && s.startMs >= wall0).lastOption
      if (call.writeNs > 0) {
        val (n, b) = newFiles(u.tenant, wall0)
        note("store.files_written", n); note("store.bytes_written", b.toDouble)
      }
    }
    val gate = if (call.firstReadNs > 0) (call.firstReadNs - call.lockedAtNs) / 1e6 else Double.NaN
    res match {
      case Right(rep) => UploadLog(u, rep, call.seq, ms, call.lockWaitNs / 1e6, gate,
        call.writeNs / 1e6, span, None)
      case Left(err) => UploadLog(u, null, call.seq, ms, call.lockWaitNs / 1e6, gate,
        call.writeNs / 1e6, span, Some(err))
    }
  }

  /** Replay each tenant's uploads in lock order through the model,
    * checking every report and every logged page against the states the
    * page may show. Returns the failures found and the merge counts.
    */
  def replay(models: Map[Int, TenantModel], uploads: Seq[UploadLog],
      pages: Seq[PageLog]): (Seq[String], Map[String, Double]) = {
    val fails = mutable.ArrayBuffer[String]()
    var upd, ins, deact = 0L
    val byTenant = uploads.groupBy(_.u.tenant)
    val pagesBy = pages.groupBy(_.tenant)
    models.foreach { case (t, m) =>
      val ups = byTenant.getOrElse(t, Nil).filter(_.seq > 0).sortBy(_.seq)
      val pending = mutable.ArrayBuffer.from(pagesBy.getOrElse(t, Nil))
      def checkPages(v: Long): Unit = {
        val due = pending.filter(p => p.lo <= v && v <= p.hi)
        due.foreach { p =>
          if (TenantModel.samePage(p.rows, m.page(p.query, p.offset, p.limit), t)) pending -= p
        }
      }
      checkPages(0L)
      var v = 0L
      ups.foreach { l =>
        if (l.seq != v + 1) fails += s"tenant $t: publish sequence gap at ${l.seq}"
        v = l.seq
        val want = m.expected(l.u)
        if (l.failed.nonEmpty) fails += s"upload ${l.u.index}: ${l.failed.get}"
        else if (!TenantModel.reportMatches(l.report, want))
          fails += s"upload ${l.u.index} tenant $t: report ${l.report.success}/" +
            s"${l.report.processedCount}/${l.report.stats} expected $want (${l.report.message})"
        if (l.failed.isEmpty && l.report.success) {
          val a = m.apply(l.u); upd += a.updated; ins += a.inserted; deact += a.deactivated
        }
        checkPages(v)
      }
      pending.foreach(p => fails += s"tenant $t: page ${p.query}/${p.offset}/${p.limit} " +
        s"matches no state in publishes ${p.lo}..${p.hi}")
    }
    // every upload, aborted ones too, takes the ingest lock
    uploads.filter(_.seq <= 0).foreach { l =>
      fails += s"upload ${l.u.index}: ${l.failed.getOrElse("did not reach the ingest lock")}"
    }
    (fails.toSeq, Map("merge.rows_updated" -> upd.toDouble, "merge.rows_inserted" -> ins.toDouble,
      "merge.rows_deactivated" -> deact.toDouble))
  }

  /** Compare the store's final tenant contents with the model, row by row. */
  def finalState(models: Map[Int, TenantModel]): Seq[String] =
    models.toSeq.flatMap { case (t, m) =>
      val rows = backend.inner.readClient(t).collect()
      val (anonRows, keyRows) = rows.partition(_.getAs[String]("sku").isEmpty)
      val bad = keyRows.count { r =>
        val s = m.keyed.get(r.getAs[String]("sku"))
        s == null || !TenantModel.same(r, s, t)
      }
      val anonOk = TenantModel.samePage(anonRows.toSeq, m.anonymous.toIndexedSeq, t)
      if (keyRows.length != m.keyed.size || bad > 0 || !anonOk)
        Seq(s"tenant $t final state: ${keyRows.length} keyed rows (model ${m.keyed.size}), " +
          s"$bad differ, anonymous rows ${if (anonOk) "match" else "differ"}")
      else Nil
    }

  /** Order-free content hash of a tenant as stored. */
  def tenantHash(t: Int): (Long, Long) = {
    val r = force(backend.inner.readClient(t))
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
