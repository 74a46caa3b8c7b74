package perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** What one workload run produced. `e2e` and `layers` map metric names to
  * (value, unit); `notes` are human-readable lines printed before the
  * result.
  */
final case class Outcome(attempted: Long, failures: Seq[String],
    e2e: Map[String, (Double, String)], layers: Map[String, (Double, String)],
    notes: Seq[String])

object Workloads {

  /** Set-up is repeated on fresh state and its median reported, so work
    * moved into set-up shows without one slow repetition deciding it.
    */
  val SetupReps = 3

  def timeS(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  def pct(xs: Seq[Double], q: Double): Double = Stats.quantile(xs, q)

  // ---------------------------------------------------------------- bulk

  val BulkTenants = Seq(1, 2, 3)
  /** Upload sizes in rows; each block of six uploads uses each size once,
    * in a seeded order, and runs end on a block boundary, so runs on
    * different seeds ingest the same amount of work.
    */
  val BulkSizes = Seq(1000, 2000, 3000, 4500, 6000, 8000)
  val BulkMinUploads = 12

  /** The seeded upload plan: tenant, format, mode, poison and size of
    * upload `i`. The first upload per tenant is its initial load; one
    * upload in each twelve carries an unparseable price.
    */
  def bulkPlan(seed: Long, i: Int): (Int, Boolean, Boolean, Boolean, Int) = {
    val block = i / BulkSizes.size
    val order = {
      val r = new SplittableRandom(Gen.mix(seed, 1000 + block))
      val a = BulkSizes.toArray
      for (k <- a.length - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
      a
    }
    val tenant = BulkTenants(i % BulkTenants.size)
    val json = Math.floorMod(i + seed, 4L) == 1
    val full = i >= BulkTenants.size && i % 5 == 4
    val poisoned = i % 12 == 5 + Math.floorMod(seed, 7L).toInt
    (tenant, json, full, poisoned, order(i % BulkSizes.size))
  }

  def bulk(rig: CatalogRig, seed: Long, seconds: Int, work: File): Outcome = {
    val spark = rig.spark
    val known = mutable.HashMap[Int, Int]().withDefaultValue(0)
    def makeUpload(i: Int, tenant: Int, json: Boolean, full: Boolean, poisoned: Boolean,
        rows: Int, tag: String): Upload = {
      val r = new SplittableRandom(Gen.mix(seed, i + (if (tag == "warm") 50000 else 0)))
      val existing = if (known(tenant) == 0) 0.0 else 0.7
      val (items, next) = Gen.uploadItems(r, tenant, rows, known(tenant), existing, json,
        anonymous = 1 + r.nextInt(3))
      known(tenant) = next
      val f = new File(work, s"$tag-$i.${if (json) "jsonl" else "csv"}")
      val bytes = Gen.write(f, items, json, Gen.mix(seed, 7 + i),
        if (poisoned) r.nextInt(items.size) else -1)
      Upload(i, tenant, json, full, poisoned, items, f.getPath, bytes,
        new java.sql.Timestamp(1700000000000L + i * 1000L + (if (tag == "warm") 0 else 10000000L)))
    }

    // set-up: a fresh store, a CSV and a JSON warm-up upload, one listing
    val setups = (1 to SetupReps).map { rep =>
      known.clear()
      val warm = Seq(makeUpload(0, 9, json = false, full = false, poisoned = false, 1000, "warm"),
        makeUpload(1, 9, json = true, full = false, poisoned = false, 1000, "warm"))
      timeS {
        rig.freshStore()
        warm.foreach(u => rig.engine.ingest(u.tenant, Gen.parserConfig(u.json), u.path,
          u.fullUpdate, u.batchTs))
        rig.engine.listProducts(9, None, 0, 10).collect()
      }
    }
    known.clear()

    val models = BulkTenants.map(t => t -> new TenantModel(t)).toMap
    val logs = mutable.ArrayBuffer[UploadLog]()
    val abortFails = mutable.ArrayBuffer[String]()
    rig.tracer.reset(spark)
    rig.layer.clear()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val gc0 = Jvm.gcMs()
    Jvm.resetPeaks()
    val compile0 = Jvm.compileNs()
    val tStart = System.nanoTime()
    var busyNs = 0L
    var i = 0
    while (System.nanoTime() < deadline || logs.size < BulkMinUploads || logs.size % BulkSizes.size != 0) {
      val (tenant, json, full, poisoned, rows) = bulkPlan(seed, i)
      val u = makeUpload(i, tenant, json, full, poisoned, rows, "up")
      val before = if (poisoned) Some(rig.tenantHash(tenant)) else None
      val log = rig.upload(u)
      busyNs += (log.ms * 1e6).toLong
      logs += log
      before.foreach { h =>
        val after = rig.tenantHash(tenant)
        if (after != h) abortFails += s"upload $i: aborted upload changed tenant $tenant"
      }
      new File(u.path).delete()
      i += 1
    }
    val windowS = (System.nanoTime() - tStart) / 1e9
    val gcMs = Jvm.gcMs() - gc0
    val compileMs = (Jvm.compileNs() - compile0) / 1e6
    rig.tracer.drain(spark)

    val check0 = System.nanoTime()
    val (replayFails, mergeCounts) = rig.replay(models, logs.toSeq, Nil)
    val stateFails = rig.finalState(models)
    val checkS = (System.nanoTime() - check0) / 1e9
    val okRows = logs.filter(l => l.failed.isEmpty && l.report != null && l.report.success)
      .map(_.u.items.size.toLong).sum
    val uploadS = logs.map(_.ms / 1000.0).toSeq
    val rowsPerS = okRows / (busyNs / 1e9)
    val e2e = Map(
      "setup_s" -> (Stats.median(setups), "s"),
      "work_per_s" -> (rowsPerS, "1/s"),
      "op_p50_ms" -> (pct(uploadS, 0.5) * 1000, "ms"))
    val notes = Seq(
      f"catalog_bulk_ingest: ${logs.size} uploads ($okRows rows ingested, " +
        f"${logs.count(_.u.poisoned)} planned aborts, ${logs.count(_.u.json)} JSON lines) in $windowS%.1f s",
      f"  bulk_rows_per_s = $rowsPerS%.1f rows/s (= work_per_s)",
      f"  bulk_upload_p50_s = ${pct(uploadS, 0.5)}%.4f s over ${uploadS.size} uploads (= op_p50_ms / 1000)",
      f"  setup repetitions (s): ${setups.map(x => f"$x%.3f").mkString(", ")}; checks $checkS%.1f s",
      "  uploads (rows:ms): " + logs.map(l => f"${l.u.items.size}:${l.ms}%.0f").mkString(" "))
    val layers =
      if (!rig.tracer.on) Map.empty[String, (Double, String)]
      else Layers.catalog(rig, logs.toSeq, Nil, mergeCounts, gcMs, compileMs) ++
        Layers.traceE2e(e2e)
    Outcome(logs.size, replayFails ++ stateFails ++ abortFails, e2e, layers, notes)
  }

  // --------------------------------------------------------------- serve

  val ServeTenants: Seq[Int] = 1 to 20
  val BigTenant = 1
  val BigSize = 100000
  val Callers = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Sampled pages checked against the model: one list call in this many. */
  val PageSampleEvery = 4

  /** Tenants in order of popularity with their sizes: the big tenant
    * first, then sizes falling from 10k to 2k SKUs. Popularity and size
    * go by rank, so every seed serves the same load; the seed only picks
    * which tenant id holds each rank.
    */
  def ranked(seed: Long): IndexedSeq[(Int, Int)] = {
    val r = new SplittableRandom(Gen.mix(seed, 78))
    val rest = ServeTenants.filter(_ != BigTenant).toArray
    for (k <- rest.length - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = rest(k); rest(k) = rest(j); rest(j) = t }
    (BigTenant -> BigSize) +: rest.toIndexedSeq.zipWithIndex.map { case (t, k) =>
      t -> (10000 - k * 8000 / (rest.length - 1))
    }
  }

  /** Zipf(1) popularity over the ranks, as a cumulative distribution. */
  val ZipfCdf: Array[Double] = {
    val w = ServeTenants.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def initialState(seed: Long): Map[Int, Seq[Stored]] =
    ranked(seed).toMap.map { case (t, n) =>
      val r = new SplittableRandom(Gen.mix(seed, 500 + t))
      t -> (0 until n).map(k => Stored(Gen.item(r, t, k), active = r.nextInt(10) != 0,
        1690000000000L + k))
    }

  sealed trait Op
  final case class ListOp(tenant: Int, query: Option[String], offset: Int, limit: Int, kind: String) extends Op
  final case class UploadOp(tenant: Int, rows: Int, json: Boolean) extends Op

  /** Calls per block of a caller's script: one upload and the rest list
    * calls (5% uploads).
    */
  val BlockOps = 20
  val UploadRows = Seq(100, 600, 1200, 2000)

  /** Block `b` of caller `c`'s seeded script. Tenants follow the Zipf
    * popularity by stratified quantiles, list kinds and offset depths by
    * fixed shares, offsets and limits by a fixed pattern, and the upload's
    * size, format and tenant rotate over the callers' blocks; only the
    * order within the block, the tenant ids behind the ranks, the SKUs
    * asked for and the catalog contents are drawn from the seed. Runs on
    * different seeds thus do the same mix of work.
    */
  def block(r: SplittableRandom, c: Int, b: Int, order: IndexedSeq[Int],
      sizes: Map[Int, Int]): Seq[Op] = {
    def rank(u: Double) = order(ZipfCdf.indexWhere(_ >= u) max 0)
    val lists = BlockOps - 1
    val shift = (c + 0.5) / Callers
    val ops: Seq[Op] = (0 until lists).map { j =>
      val tenant = rank((j + shift) / lists)
      val mix = j * 37 + b * 11 + c * 7
      val limit = 5 + mix % 46
      val depth = (j * 7) % 10
      val offset = if (depth < 5) 0 else if (depth < 8) mix % 201 else (mix * 389) % 2001
      val n = r.nextInt(sizes(tenant))
      (j + c + b) % 4 match {
        case 0 => ListOp(tenant, None, offset, limit, "browse")
        case 1 => ListOp(tenant, Some(Gen.sku(tenant, n)), 0, limit, "sku")
        case 2 =>
          val p = Gen.sku(tenant, n).take(9)
          ListOp(tenant, Some(if (mix % 2 == 0) p.toLowerCase else p), mix % 20, limit, "prefix")
        case _ =>
          val w = Gen.Words((j + b * lists + c * 5) % Gen.Words.size)
          ListOp(tenant, Some(w.take(4)), offset, limit, "title")
      }
    }
    val k = b * Callers + c
    val up = UploadOp(rank(((k % 8) + 0.5) / 8), UploadRows(k % UploadRows.size), k % 4 == 1)
    val a = (ops :+ up).toArray
    for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  final case class ListLog(kind: String, ms: Double, planMs: Double,
      execMs: Double, rows: Int, scan: (Long, Long))

  def serve(rig: CatalogRig, seed: Long, seconds: Int, work: File): Outcome = {
    val spark = rig.spark
    val init = initialState(seed)
    val sizes = ranked(seed).toMap
    val order = ranked(seed).map(_._1)

    val seedFile = new File(work, "seed.csv")
    rig.writeSeed(seedFile, init.toSeq.sortBy(_._1))
    // set-up: a fresh store, the initial catalogs published and one list
    // call of each kind
    val setups = (1 to SetupReps).map { rep =>
      timeS {
        rig.freshStore()
        rig.seed(seedFile)
        Seq(None, Some(Gen.sku(BigTenant, 7)), Some("T01-00000"), Some("steel")).foreach { q =>
          rig.engine.listProducts(BigTenant, q, 0, 10).collect()
        }
      }
    }
    val models = init.map { case (t, ss) => val m = new TenantModel(t); m.load(ss); t -> m }
    val known = sizes.map { case (t, n) => t -> new AtomicInteger(n) }
    val uploadSeq = new AtomicInteger(0)
    val uploads = new java.util.concurrent.ConcurrentLinkedQueue[UploadLog]()
    val measuredUploads = new java.util.concurrent.ConcurrentLinkedQueue[UploadLog]()
    val pages = new java.util.concurrent.ConcurrentLinkedQueue[PageLog]()
    val lists = new java.util.concurrent.ConcurrentLinkedQueue[ListLog]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val callerWork = new File(work, "serve"); callerWork.mkdirs()

    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var measuring = false
    def doList(op: ListOp, sample: Boolean): Unit = {
      calls.incrementAndGet()
      val lo = Option(rig.backend.published.get(op.tenant)).fold(0L)(_.get)
      val t0 = System.nanoTime()
      try {
        var planMs, execMs = 0.0
        var scan = (0L, 0L)
        val rows = rig.tracer.span(spark, "list") {
          val df = rig.engine.listProducts(op.tenant, op.query, op.offset, op.limit)
          if (rig.tracer.on) {
            val p0 = System.nanoTime()
            df.queryExecution.executedPlan
            planMs = (System.nanoTime() - p0) / 1e6
            val e0 = System.nanoTime()
            val out = df.collect()
            execMs = (System.nanoTime() - e0) / 1e6
            scan = Layers.scanCounts(df)
            out
          } else df.collect()
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val hi = Option(rig.backend.entered.get(op.tenant)).fold(0L)(_.get)
        if (measuring) lists.add(ListLog(op.kind, ms, planMs, execMs, rows.length, scan))
        if (sample) pages.add(PageLog(op.tenant, op.query, op.offset, op.limit, lo, hi, rows.toSeq))
      } catch { case e: Exception => errors.add(s"list $op: $e") }
    }
    def doUpload(op: UploadOp): Unit = {
      calls.incrementAndGet()
      val i = uploadSeq.incrementAndGet()
      val rr = new SplittableRandom(Gen.mix(seed, 20000 + i))
      val kn = known(op.tenant)
      val (items, next) = Gen.uploadItems(rr, op.tenant, op.rows, kn.get, 0.7, op.json,
        anonymous = if (rr.nextInt(3) == 0) 1 else 0)
      kn.accumulateAndGet(next, math.max)
      val f = new File(callerWork, s"u-$i.${if (op.json) "jsonl" else "csv"}")
      val bytes = Gen.write(f, items, op.json, Gen.mix(seed, 30000 + i), -1)
      val log = rig.upload(Upload(i, op.tenant, op.json, fullUpdate = false, poisoned = false,
        items, f.getPath, bytes, new java.sql.Timestamp(1710000000000L + i * 1000L)))
      uploads.add(log)
      if (measuring) measuredUploads.add(log)
      f.delete()
    }

    // Closed loop: each caller first runs one block of its script to warm
    // the list and upload paths, then, from a common start, whole blocks
    // until the deadline. Only the timed blocks count in the metrics;
    // every call, warm-up included, is checked.
    var gc0, tStart, deadline = 0L
    var compile0 = 0L
    val start = new java.util.concurrent.CyclicBarrier(Callers, () => {
      rig.tracer.reset(spark)
      rig.layer.clear()
      gc0 = Jvm.gcMs().toLong; Jvm.resetPeaks(); compile0 = Jvm.compileNs()
      tStart = System.nanoTime()
      deadline = tStart + seconds * 1000000000L
      measuring = true
    })
    val callerRate = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (0 until Callers).map { c =>
      val th = new Thread(() => {
        val r = new SplittableRandom(Gen.mix(seed, 9000 + c))
        var k = 0
        var listed = 0
        def runBlock(b: Int): Unit =
          block(r, c, b, order, sizes).foreach { op =>
            op match {
              case l: ListOp => doList(l, k % PageSampleEvery == 0); if (measuring) listed += 1
              case u: UploadOp => doUpload(u)
            }
            k += 1
          }
        runBlock(0)
        start.await()
        var b = 1
        while (System.nanoTime() < deadline) { runBlock(b); b += 1 }
        callerRate.add(listed / ((System.nanoTime() - tStart) / 1e9))
      }, s"caller-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val windowS = (System.nanoTime() - tStart) / 1e9
    val gcMs = Jvm.gcMs() - gc0
    val compileMs = (Jvm.compileNs() - compile0) / 1e6
    rig.tracer.drain(spark)

    import scala.jdk.CollectionConverters._
    val upLogs = uploads.asScala.toSeq
    val listLogs = lists.asScala.toSeq
    val (replayFails, mergeCounts) = rig.replay(models, upLogs, pages.asScala.toSeq)
    val countFails = {
      val counts = rig.backend.inner.read().groupBy("client_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      models.toSeq.collect { case (t, m) if counts.getOrElse(t, 0L) != m.size =>
        s"tenant $t holds ${counts.getOrElse(t, 0L)} rows, model ${m.size}" }
    }
    val listMs = listLogs.map(_.ms)
    val measuredUps = measuredUploads.asScala.toSeq
    val upMs = measuredUps.map(_.ms)
    require(listMs.nonEmpty, "no list call completed")
    // each caller's own rate, summed: a caller that ends its last block
    // late does not stretch the others' window
    val listPerS = callerRate.asScala.sum
    val e2e = Map(
      "setup_s" -> (Stats.median(setups), "s"),
      "work_per_s" -> (listPerS, "1/s"),
      "op_p50_ms" -> (pct(listMs, 0.5), "ms"))
    def named(label: String, xs: Seq[Double], q: Double, p: String): String =
      if (xs.size * (1 - q) >= 10) f"  $label = ${pct(xs, q)}%.2f ms ($p over ${xs.size} calls)"
      else if (xs.nonEmpty) f"  $label = ${pct(xs, q)}%.2f ms ($p over ${xs.size} calls; fewer than 10 samples above $p)"
      else s"  $label: no samples"
    val notes = Seq(
      f"catalog_serve: $Callers callers, ${listMs.size} list calls, ${upMs.size} uploads timed in $windowS%.1f s; " +
        s"${calls.get} calls and ${pages.size} sampled pages checked",
      f"  list_per_s = $listPerS%.2f calls/s (= work_per_s)",
      named("list_p50_ms", listMs, 0.5, "p50") + " (= op_p50_ms)",
      named("list_p95_ms", listMs, 0.95, "p95"),
      named("upload_p50_ms", upMs, 0.5, "p50"),
      named("upload_p90_ms", upMs, 0.9, "p90"),
      "  list latency by kind (p50 ms): " + listLogs.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=${Stats.median(v.map(_.ms))}%.1f(${v.size})" }.mkString(" "),
      f"  setup repetitions (s): ${setups.map(x => f"$x%.3f").mkString(", ")}")
    val layers =
      if (!rig.tracer.on) Map.empty[String, (Double, String)]
      else Layers.catalog(rig, measuredUps, listLogs, mergeCounts, gcMs, compileMs) ++
        Layers.traceE2e(e2e)
    Outcome(calls.get, errors.asScala.toSeq ++ replayFails ++ countFails, e2e,
      layers, notes)
  }
}
