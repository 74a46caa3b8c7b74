package graft

import graft.operators.{CatalogQueries, IngestionService, ParserConfig, ProductStore}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** End-to-end ingest scenarios mirroring the reference API tests
  * (tests/web/api/test_products.py): creation counts, upsert semantics,
  * empty-sku inserts, full-update deactivation, tenant isolation, and the
  * all-or-nothing error model.
  */
class IngestionServiceSpec extends SparkSpec {

  private val cfg = ParserConfig("csv", Seq(
    "sku" -> ("sku", "text"),
    "title" -> ("title", "text"),
    "active" -> ("active", "boolean")))

  private val ts1 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val ts2 = Timestamp.valueOf("2024-02-02 00:00:00")

  private def freshStore() = new ProductStore(spark, tmpDir("store"))

  private def csv(rows: String*): String = {
    val dir = tmpDir("ingest")
    writeText(dir, "data.csv", ("sku,title,active" +: rows).mkString("\n"))
  }

  test("ingest small file creates N rows (reference :157-170)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val rep = svc.ingest(cfg, csv("a1,Widget,1", "a2,Gadget,0", "a3,Doohickey,1"))
    assert(rep.success, rep.message)
    assert(rep.processedCount === 3)
    val rows = store.read().orderBy("sku").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("sku")).toSeq === Seq("a1", "a2", "a3"))
    assert(rows.map(_.getAs[Boolean]("active")).toSeq === Seq(true, false, true))
  }

  test("ingest 50 rows (largest reference dataset, :172-185)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val rep = svc.ingest(cfg, csv((1 to 50).map(i => s"s$i,Item $i,1"): _*))
    assert(rep.success && rep.processedCount === 50)
    assert(store.read().count() === 50)
  }

  test("upsert updates supplied columns only, bumps last_changed_on (:187-214)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Original,1"), batchTs = ts1).success)

    // second ingest: same sku, active flips, title NOT supplied
    val dir = tmpDir("upd")
    val p = writeText(dir, "d.csv", "sku,active\na1,0")
    val rep = svc.ingest(cfg, p, batchTs = ts2)
    assert(rep.success, rep.message)

    val r = store.read().head()
    assert(r.getAs[String]("title") === "Original") // unsupplied survives
    assert(r.getAs[Boolean]("active") === false)    // supplied updates
    assert(r.getAs[Timestamp]("last_changed_on") === ts2)
    assert(store.read().count() === 1)              // updated, not duplicated
  }

  test("empty-sku rows always insert, never merge (:216-236)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv(",NoSku A,1")).success)
    assert(svc.ingest(cfg, csv(",NoSku B,1")).success)
    val rows = store.read().collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("sku") == null) ||
      rows.forall(r => Option(r.getAs[String]("sku")).forall(_.isEmpty)))
  }

  test("mixed batch: update + insert + empty-sku insert (:238-267)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Old Title,1"), batchTs = ts1).success)
    val rep = svc.ingest(cfg,
      csv("a1,New Title,0", "b9,Brand New,1", ",Anon,1"), batchTs = ts2)
    assert(rep.success && rep.processedCount === 3)
    val bySku = store.read().collect()
      .groupBy(r => Option(r.getAs[String]("sku")).getOrElse(""))
    assert(bySku.keySet === Set("a1", "b9", ""))
    val a1 = bySku("a1").head
    assert(a1.getAs[String]("title") === "New Title")
    assert(a1.getAs[Boolean]("active") === false)
  }

  test("full-update deactivates absent skus, reactivates present (:321-339)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Keep,1", "b2,Drop,1"), batchTs = ts1).success)
    val rep = svc.ingest(cfg, csv("a1,Keep Updated,1"),
      fullUpdate = true, batchTs = ts2)
    assert(rep.success, rep.message)
    assert(rep.stats("deactivated_count") === 1)
    assert(rep.stats("total_ingested_skus") === 1)
    val bySku = store.read().collect().groupBy(_.getAs[String]("sku"))
    assert(bySku("a1").head.getAs[Boolean]("active") === true)
    assert(bySku("a1").head.getAs[String]("title") === "Keep Updated")
    assert(bySku("b2").head.getAs[Boolean]("active") === false)
    assert(bySku("b2").head.getAs[Timestamp]("last_changed_on") === ts2)
  }

  test("default mode does NOT deactivate absent skus (:341-359)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,One,1", "b2,Two,1")).success)
    val rep = svc.ingest(cfg, csv("a1,One Updated,1"))
    assert(rep.success && !rep.stats.contains("deactivated_count"))
    val b2 = store.read().filter(col("sku") === "b2").head()
    assert(b2.getAs[Boolean]("active") === true)
  }

  test("one bad strict value fails the whole batch; nothing written (error model)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val rep = svc.ingest(cfg, csv("a1,Good,1", "a2,Bad,maybe"))
    assert(!rep.success)
    assert(rep.message.contains("Error during data ingestion"))
    assert(store.read().count() === 0)
  }

  test("failed batch report names the offending row, column, and value") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val rep = svc.ingest(cfg, csv("a1,Good,1", "a2,Bad,maybe", "a3,Worse,nope"))
    assert(!rep.success)
    assert(rep.report.size === 2)
    assert(rep.report.head.contains("row 1") &&
      rep.report.head.contains("'active'") && rep.report.head.contains("'maybe'"))
    assert(rep.report(1).contains("row 2") && rep.report(1).contains("'nope'"))
  }

  test("error report is capped at MaxReportedErrors entries") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val rows = (1 to 25).map(i => s"a$i,Item $i,bogus$i")
    val rep = svc.ingest(cfg, csv(rows: _*))
    assert(!rep.success)
    assert(rep.report.size === IngestionService.MaxReportedErrors)
  }

  test("abort report orders errors of three columns by (row, column) under the cap") {
    val cfg4 = ParserConfig("csv", Seq(
      "sku" -> ("sku", "text"),
      "title" -> ("title", "text"),
      "active" -> ("active", "boolean"),
      "stock" -> ("stock_quantity", "integer")))
    def long(i: Int) = s"t$i" + "x" * 254 // VARCHAR(255) + 1
    // data row i -> its bad cells; parse, width and range errors
    // interleave across rows, row 4 carries two, and the 11th and 12th
    // errors fall past the cap
    val rows = Seq(
      "a0,ok,1,0",
      "a1,ok,maybe,1",
      s"a2,${long(2)},1,2",
      "a3,ok,1,3000000000",
      "a4,ok,nope,4000000000",
      s"a5,${long(5)},1,5",
      "a6,ok,bad6,6",
      "a7,ok,1,5000000000",
      s"a8,${long(8)},1,8",
      "a9,ok,bad9,9",
      "a10,ok,1,6000000000",
      s"a11,${long(11)},1,11")
    val p = writeText(tmpDir("ingest"), "data.csv",
      ("sku,title,active,stock" +: rows).mkString("\n"))
    val rep = new IngestionService(spark, freshStore(), clientId = 1)
      .ingest(cfg4, p)
    assert(!rep.success)
    def parse(i: Int, c: String, v: String) =
      s"row $i: column '$c' could not interpret value '$v'"
    def width(i: Int) =
      s"row $i: column 'title' value exceeds VARCHAR(255): '${long(i)}'"
    def range(i: Int, v: String) =
      s"row $i: column 'stock_quantity' value out of INTEGER range: '$v'"
    assert(rep.report === Seq(
      parse(1, "active", "maybe"),
      width(2),
      range(3, "3000000000"),
      parse(4, "active", "nope"),
      range(4, "4000000000"),
      width(5),
      parse(6, "active", "bad6"),
      range(7, "5000000000"),
      width(8),
      parse(9, "active", "bad9")))
  }

  test("a client's ingest leaves other tenants' files byte-identical") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("store")
    val store = new ProductStore(spark, root)
    assert(new IngestionService(spark, store, 1).ingest(cfg, csv("a1,C1 v1,1")).success)
    assert(new IngestionService(spark, store, 2).ingest(cfg, csv("b1,C2 Item,1")).success)
    // Resolve the live version via the CURRENT pointer; snapshot keys are
    // paths relative to the version dir (versions change names per batch,
    // but another tenant's files must be hard links to the SAME inodes).
    def liveDir: Path = Paths.get(root, "versions",
      Files.readString(Paths.get(root, "CURRENT")).trim)
    def snapshot(client: Int): Map[String, Object] = {
      val dir = liveDir.resolve(s"client_id=$client")
      Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString ->
          Files.getAttribute(p, "unix:ino"))
        .toMap
    }
    val c2Before = snapshot(2)
    val c2Bytes = c2Before.keys.map(rel => rel ->
      Files.readAllBytes(liveDir.resolve(s"client_id=2").resolve(rel)).toSeq).toMap
    // client 1 ingests again (upsert): client 2's partition must be the
    // same inodes (hard-linked, zero-copy) with identical bytes
    assert(new IngestionService(spark, store, 1).ingest(cfg, csv("a1,C1 v2,0")).success)
    assert(snapshot(2) === c2Before)
    c2Bytes.foreach { case (rel, bytes) =>
      assert(Files.readAllBytes(liveDir.resolve(s"client_id=2").resolve(rel)).toSeq === bytes,
        s"file $rel changed")
    }
    // and client 1's merge actually applied
    val c1 = store.readClient(1).collect()
    assert(c1.length === 1 && c1.head.getAs[String]("title") === "C1 v2")
    assert(store.readClient(2).head.getAs[String]("title") === "C2 Item")
  }

  test("concurrent reads never observe an empty table mid-publish") {
    // The versioned-dir + CURRENT-pointer scheme replaces the two-rename
    // swap, whose no-directory window could expose an empty table. A
    // reader loop racing several ingests must always see a complete
    // version (>= 1 row, never a transient zero).
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
    val store = new ProductStore(spark, tmpDir("store"), keepVersions = 100)
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Initial,1")).success)
    val stop = new AtomicBoolean(false)
    val minSeen = new AtomicLong(Long.MaxValue)
    val failure = new AtomicReference[Throwable](null)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val n = store.read().count()
          minSeen.getAndUpdate(m => math.min(m, n))
        }
      } catch { case t: Throwable => failure.set(t) }
    })
    reader.start()
    try (1 to 5).foreach { i =>
      assert(svc.ingest(cfg, csv(s"a$i,Version $i,1")).success)
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failure.get() == null, s"reader failed: ${failure.get()}")
    assert(minSeen.get() >= 1L, s"reader observed ${minSeen.get()} rows mid-publish")
  }

  test("concurrent tenant writers don't lose each other's publishes") {
    // Every partition replace derives a new version from CURRENT; without
    // the write lock two concurrent ingests link the SAME starting
    // version and the second publish silently drops the first tenant's
    // partition. Four tenants ingesting simultaneously for several rounds
    // must all survive with their latest batch.
    import java.util.concurrent.atomic.AtomicReference
    import spark.implicits._
    val store = new ProductStore(spark, tmpDir("store"), keepVersions = 100)
    val clients = 1 to 4
    val failure = new AtomicReference[Throwable](null)
    val threads = clients.map { c =>
      new Thread(() => {
        try (1 to 3).foreach { round =>
          val df = Seq((c, s"sku-$c", s"C$c round $round"))
            .toDF("client_id", "sku", "title")
          store.overwriteClientAtomic(c, df)
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failure.get() == null, s"writer failed: ${failure.get()}")
    clients.foreach { c =>
      val rows = store.readClient(c).collect()
      assert(rows.length === 1, s"client $c lost its partition")
      assert(rows.head.getAs[String]("title") === s"C$c round 3")
    }
  }

  test("versioned store GC keeps the retention count and the live version") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("store")
    val store = new ProductStore(spark, root, keepVersions = 2)
    val svc = new IngestionService(spark, store, clientId = 1)
    (1 to 5).foreach(i => assert(svc.ingest(cfg, csv(s"a$i,V$i,1")).success))
    val versions = Files.list(Paths.get(root, "versions")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(versions.size <= 2, s"GC left ${versions.size} versions: $versions")
    val live = Files.readString(Paths.get(root, "CURRENT")).trim
    assert(versions.contains(live), "live version must survive GC")
    // and the surviving table is complete
    assert(store.read().count() === 5)
  }

  test("empty staged batch for a client aborts instead of wiping the partition") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Keep,1")).success)
    // direct store call with rows belonging to ANOTHER client: the staged
    // partition for client 1 is missing -> must throw, not truncate
    import spark.implicits._
    val other = Seq((2, "zz", "Other")).toDF("client_id", "sku", "title")
    intercept[IllegalStateException] {
      store.overwriteClientAtomic(1, other)
    }
    assert(store.readClient(1).count() === 1)
    // explicit truncation is the deliberate path
    store.truncateClient(1)
    assert(store.readClient(1).count() === 0)
  }

  test("failed batch leaves previous table version intact (atomic swap)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    assert(svc.ingest(cfg, csv("a1,Keep,1")).success)
    assert(!svc.ingest(cfg, csv("a2,Bad,garbage-bool")).success)
    assert(store.read().count() === 1)
    assert(store.read().head().getAs[String]("sku") === "a1")
  }

  test("duplicate sku within batch: later row wins column-wise (file order)") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val dir = tmpDir("dup")
    val p = writeText(dir, "d.csv",
      "sku,title,active\na1,First,1\na1,Second,0")
    assert(svc.ingest(cfg, p).success)
    val r = store.read().head()
    assert(store.read().count() === 1)
    assert(r.getAs[String]("title") === "Second")
    assert(r.getAs[Boolean]("active") === false)
  }

  test("tenant isolation: two clients, same store, separate rows (:43-58)") {
    val store = freshStore()
    assert(new IngestionService(spark, store, 1).ingest(cfg, csv("a1,C1 Item,1")).success)
    assert(new IngestionService(spark, store, 2).ingest(cfg, csv("a1,C2 Item,1")).success)
    assert(store.read().count() === 2)
    val c1 = CatalogQueries.list(store.read(), clientId = 1, limit = 50).collect()
    assert(c1.length === 1 && c1.head.getAs[String]("title") === "C1 Item")
  }

  test("unknown parser/bad config yields failure report, not exception") {
    val store = freshStore()
    val svc = new IngestionService(spark, store, 1)
    val rep = svc.ingest(ParserConfig("xml", Seq("a" -> ("title", "text"))),
      csv("a1,X,1"))
    assert(!rep.success && rep.message.contains("Unknown parser id"))
  }

  test("config mapping no sku column: counted rows abort on NOT NULL (DDL parity)") {
    // The reference routes sku-less records to the INSERT path, where
    // ClientProduct(**record_data) carries sku=None and the DDL's
    // NOT NULL on sku (001_up_init.sql:27) kills the INSERT — the whole
    // batch fails and nothing commits. (An EMPTY-STRING sku is a present
    // value and inserts fine — that is the anonymous-row path, covered
    // by the empty-sku tests above.)
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val noSkuCfg = ParserConfig("csv", Seq("title" -> ("title", "text")))
    val rep = svc.ingest(noSkuCfg, csv("a1,First,1", "a2,Second,0"))
    assert(!rep.success, "sku-less counted rows must abort the batch")
    assert(rep.message.contains("NOT NULL"), rep.message)
    assert(rep.report.nonEmpty && rep.report.head.contains("sku"), rep.report)
    assert(!store.exists || store.read().count() === 0,
      "a failed batch must not publish anything")
  }

  test("parseable out-of-INTEGER-range value aborts the batch (DB INSERT parity)") {
    // Python int('9999999999') succeeds, then the reference's INTEGER
    // column INSERT aborts the batch — coalesce-to-0 must not silently
    // store 0 for it; genuine garbage still transforms to 0.
    val store = freshStore()
    val svc = new IngestionService(spark, store, clientId = 1)
    val qtyCfg = ParserConfig("csv", Seq(
      "sku" -> ("sku", "text"),
      "title" -> ("stock_quantity", "integer"),
      "active" -> ("active", "boolean")))
    val rep = svc.ingest(qtyCfg, csv("a1,9999999999,1"))
    assert(!rep.success)
    assert(rep.report.exists(_.contains("out of INTEGER range")), rep.report)
    assert(store.read().isEmpty, "aborted batch must write nothing")
    // garbage -> 0, batch succeeds (reference except ValueError -> 0)
    val ok = svc.ingest(qtyCfg, csv("a1,garbage,1"))
    assert(ok.success, ok.message)
    assert(store.read().head().getAs[Int]("stock_quantity") === 0)
  }

  test("same-client ingest lock blocks across PROCESSES, not just threads") {
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.atomic.AtomicBoolean
    val root = tmpDir("xproc_store")
    val store = new ProductStore(spark, root)
    val marker = Paths.get(root, "_holder_ready")
    val goFile = Paths.get(root, "_holder_go")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // a REAL second OS process holds client 7's ingest file lock until
    // we write the go-file (handshake — no wall-clock race; 30s valve)
    val p = new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.LockHolder", root, "7", marker.toString, goFile.toString,
        "30000")
      .redirectErrorStream(true).start()
    try {
      val deadline = System.nanoTime() + 15_000_000_000L
      while (!Files.exists(marker)) {
        assert(System.nanoTime() < deadline, "LockHolder never signalled")
        Thread.sleep(20)
      }
      // a DIFFERENT client's lock is free — completes while 7 is held
      store.withIngestLock(8) { () }
      // the SAME client's lock must block until the other process
      // releases — a JVM monitor alone cannot see the other process
      val attempting = new AtomicBoolean(false)
      val entered = new AtomicBoolean(false)
      val t = new Thread(() => {
        attempting.set(true)
        store.withIngestLock(7) { entered.set(true) }
      })
      t.start()
      while (!attempting.get()) Thread.sleep(5)
      Thread.sleep(500) // generous: an un-held lock enters in ~ms
      assert(!entered.get(),
        "entered the client-7 lock while another process held it — " +
          "the ingest lock does not serialize across processes")
      Files.writeString(goFile, "go") // release the child
      t.join(15000)
      assert(entered.get(), "lock never acquired after the holder released")
    } finally {
      p.waitFor()
    }
  }

  test("bucketed store: ingest sequence matches the plain store exactly") {
    // sub-tenant sku-hash buckets are a pure LAYOUT choice: the same
    // mixed batch sequence (create, upsert, empty-sku insert,
    // full-update) must produce an identical logical table
    val plain = new ProductStore(spark, tmpDir("store-plainb"))
    val bucketed = new ProductStore(spark, tmpDir("store-buck"), skuBuckets = Some(8))
    val batches = Seq(
      (Seq("a1,First,1", "b2,Second,0", ",Anon,1"), false, ts1),
      (Seq("a1,First v2,0", "c3,Third,1"), false, ts2),
      (Seq("a1,Final,1", "c3,Third,1"), true, ts2)) // full-update: whole-partition path
    Seq(plain, bucketed).foreach { store =>
      val svc = new IngestionService(spark, store, clientId = 1)
      batches.foreach { case (rows, fu, t) =>
        val rep = svc.ingest(cfg, csv(rows: _*), fullUpdate = fu, batchTs = t)
        assert(rep.success, rep.message)
      }
    }
    val cols = Seq("client_id", "sku", "title", "active", "last_changed_on")
    val got = bucketed.read().select(cols.map(col): _*)
      .orderBy("sku", "title").collect().toSeq
    val want = plain.read().select(cols.map(col): _*)
      .orderBy("sku", "title").collect().toSeq
    assert(got === want)
    // b2 (absent from the full-update) deactivated on BOTH layouts
    assert(bucketed.read().filter(col("sku") === "b2")
      .head.getAs[Boolean]("active") === false)
  }

  test("a small batch leaves the same client's untouched buckets byte-identical") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("store-bucket-ident")
    val store = new ProductStore(spark, root, skuBuckets = Some(8))
    val svc = new IngestionService(spark, store, 1)
    val seed = (0 until 32).map(i => s"sku$i,Item $i,1")
    assert(svc.ingest(cfg, csv(seed: _*)).success)
    def liveDir: Path = Paths.get(root, "versions",
      Files.readString(Paths.get(root, "CURRENT")).trim)
    def snapshot(): Map[String, Object] = {
      val dir = liveDir.resolve("client_id=1")
      Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.getAttribute(p, "unix:ino"))
        .toMap
    }
    val before = snapshot()
    assert(before.keys.map(_.split('/').head).toSet.size > 1,
      "seed must span several buckets or the test proves nothing")
    // one-sku update: only that sku's bucket may be rewritten
    val updBucket = spark.range(1)
      .select(graft.operators.ProductStore.bucketOf(lit("sku0"), 8))
      .head().getInt(0)
    assert(svc.ingest(cfg, csv("sku0,Item 0 v2,0")).success)
    val after = snapshot()
    val prefix = s"_bucket=$updBucket"
    def untouched(m: Map[String, Object]) =
      m.filterNot(_._1.startsWith(prefix))
    assert(untouched(after) === untouched(before),
      "untouched buckets of the INGESTING client must hard-link forward (same inodes)")
    assert(after.keys.exists(_.startsWith(prefix)), "touched bucket missing")
    assert(after.filter(_._1.startsWith(prefix)) !==
      before.filter(_._1.startsWith(prefix)), "touched bucket was not rewritten")
    // and the merge applied without losing any other row
    assert(store.readClient(1).count() === 32)
    assert(store.readClient(1).filter(col("sku") === "sku0")
      .head.getAs[String]("title") === "Item 0 v2")
    assert(store.readClient(1).filter(col("sku") === "sku1")
      .head.getAs[String]("title") === "Item 1")
  }

  test("bucket write rejects rows hashing outside the declared set; markers ride it") {
    import spark.implicits._
    val store = new ProductStore(spark, tmpDir("store-bucket-stray"),
      skuBuckets = Some(8))
    store.overwriteClientAtomic(1,
      Seq((1, "k1", "T")).toDF("client_id", "sku", "title"))
    val before = store.readClient(1).collect().toSeq
    val b = spark.range(1)
      .select(graft.operators.ProductStore.bucketOf(lit("k1"), 8)).head().getInt(0)
    val upd = Seq((1, "k1", "T2")).toDF("client_id", "sku", "title")
    intercept[IllegalStateException] {
      store.overwriteClientBucketsAtomic(1, Seq((b + 1) % 8), upd)
    }
    assert(store.readClient(1).collect().toSeq === before,
      "stray-bucket abort must leave the live state untouched")
    store.overwriteClientBucketsAtomic(1, Seq(b), upd, marker = Some("tok_bucket"))
    assert(store.hasMarker("tok_bucket"), "marker must ride the bucket publish")
    assert(store.readClient(1).head.getAs[String]("title") === "T2")
  }

  test("bucket layout is stamped on disk; mismatched reopen fails loud") {
    import spark.implicits._
    val root = tmpDir("store-layout")
    val store = new ProductStore(spark, root, skuBuckets = Some(8))
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T")).toDF("client_id", "sku", "title"))
    // reopening with a different count (or unbucketed) would silently
    // route skus to buckets the merge never reads — must refuse
    intercept[IllegalArgumentException] {
      new ProductStore(spark, root, skuBuckets = Some(16))
    }
    intercept[IllegalArgumentException] { new ProductStore(spark, root) }
    assert(new ProductStore(spark, root, skuBuckets = Some(8))
      .readClient(1).count() === 1, "matching reopen must work")
    // an unbucketed root refuses a bucketed reopen symmetrically
    val root2 = tmpDir("store-layout2")
    new ProductStore(spark, root2).overwriteClientAtomic(1,
      Seq((1, "a1", "T")).toDF("client_id", "sku", "title"))
    intercept[IllegalArgumentException] {
      new ProductStore(spark, root2, skuBuckets = Some(8))
    }
  }

  test("non-text sku mapping buckets identically on both sides (post-cast hash)") {
    // the touched-set discovery hashes sku AFTER the string cast the
    // store's writer applies — in the native integer type the hashes
    // differ and every valid batch would abort at the stray-bucket guard
    val store = new ProductStore(spark, tmpDir("store-intsku"), skuBuckets = Some(8))
    val svc = new IngestionService(spark, store, 1)
    val cfgInt = ParserConfig("csv", Seq(
      "code" -> ("sku", "integer"), "title" -> ("title", "text")))
    val dir = tmpDir("intsku")
    val r1 = svc.ingest(cfgInt,
      writeText(dir, "b1.csv", "code,title\n5,First\n7,Other"))
    assert(r1.success, r1.message)
    val r2 = svc.ingest(cfgInt, writeText(dir, "b2.csv", "code,title\n5,Updated"))
    assert(r2.success, r2.message)
    val rows = store.readClient(1).orderBy("sku").collect()
    assert(rows.map(_.getAs[String]("sku")).toSeq === Seq("5", "7"))
    assert(rows.head.getAs[String]("title") === "Updated", "merge, not duplicate")
  }

  test("declaring a bucket with no staged rows aborts instead of truncating it") {
    import spark.implicits._
    val store = new ProductStore(spark, tmpDir("store-bucket-trunc"),
      skuBuckets = Some(8))
    store.overwriteClientAtomic(1,
      Seq((1, "k1", "T1"), (1, "zz", "T2")).toDF("client_id", "sku", "title"))
    val b = spark.range(1)
      .select(graft.operators.ProductStore.bucketOf(lit("k1"), 8)).head().getInt(0)
    val upd = Seq((1, "k1", "T1 v2")).toDF("client_id", "sku", "title")
    intercept[IllegalStateException] {
      store.overwriteClientBucketsAtomic(1, Seq(b, (b + 1) % 8), upd)
    }
    assert(store.readClient(1).count() === 2,
      "the empty declared bucket must not be truncated")
  }

  test("ingest markers commit atomically with the publish and ride later versions") {
    import spark.implicits._
    // keepVersions=1: survival across publishes must come from the
    // hard-link carry-forward into each NEW version, not from old
    // versions escaping GC
    val store = new ProductStore(spark, tmpDir("store-markers"), keepVersions = 1)
    assert(!store.hasMarker("t1"), "empty store has no markers")
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T1")).toDF("client_id", "sku", "title"), marker = Some("t1"))
    assert(store.hasMarker("t1"))
    // a LATER publish of another tenant carries the token forward
    store.overwriteClientAtomic(2,
      Seq((2, "b1", "T2")).toDF("client_id", "sku", "title"), marker = Some("t2"))
    assert(store.hasMarker("t1") && store.hasMarker("t2"))
    // append and truncate preserve markers too
    store.append(Seq((3, "c1", "T3")).toDF("client_id", "sku", "title"))
    store.truncateClient(3)
    assert(store.hasMarker("t1") && store.hasMarker("t2"))
    // an ABORTED publish leaves no marker (all-or-nothing includes the token)
    intercept[IllegalStateException] {
      store.overwriteClientAtomic(9,
        Seq((1, "zz", "Wrong tenant")).toDF("client_id", "sku", "title"),
        marker = Some("t9"))
    }
    assert(!store.hasMarker("t9"), "aborted publish must not commit its marker")
    // a FULL-table overwrite replaces the state the markers vouched for
    store.overwriteAtomic(Seq((1, "a1", "Fresh")).toDF("client_id", "sku", "title"))
    assert(!store.hasMarker("t1") && !store.hasMarker("t2"))
    // unsafe token names fail loud, and the failed build never publishes
    val before = store.read().count()
    intercept[Exception] {
      store.overwriteClientAtomic(1,
        Seq((1, "a1", "X")).toDF("client_id", "sku", "title"),
        marker = Some("../escape"))
    }
    assert(store.read().count() === before)
  }

  test("record_data presence: skipped only when mapped cells are physically absent") {
    // Reference parity: interpret drops unmapped elements and an empty
    // record_data row is skipped without counting (base.py:54-67,
    // service.py:88-90). Presence is per RAW cell: DictReader yields ''
    // for a present-but-empty field (still supplied), and None only when
    // the mapped source column is missing from the header or the row is
    // short — a header-mismatched file processes 0 items and publishes
    // nothing, it does NOT insert anonymous empty rows.
    val store = new ProductStore(spark, tmpDir("store-unmapped"))
    val svc = new IngestionService(spark, store, clientId = 1)
    val mismatched = writeText(tmpDir("um1"), "b.csv",
      "foo,bar\nx1,y1\nx2,y2")
    val r = svc.ingest(cfg, mismatched, batchTs = ts1)
    assert(r.success, r.message)
    assert(r.processedCount === 0L)
    assert(!store.exists || store.read().count() === 0,
      "a zero-row batch must not publish anything")
    // a mixed file where the mapped columns ARE in the header: DictReader
    // yields '' for a present-but-empty cell, so BOTH rows have non-empty
    // record_data and both count — row 2 becomes an anonymous ''-sku
    // insert with title '' (the reference processes 2, not 1), even
    // though its only non-empty value sits in an unmapped column
    val mixed = writeText(tmpDir("um2"), "b.csv",
      "foo,title,sku\njunk,Widget,A1\njunk2,,")
    val r2 = svc.ingest(cfg, mixed, batchTs = ts1)
    assert(r2.success, r2.message)
    assert(r2.processedCount === 2L,
      "''-celled rows are present: the reference counts and inserts them")
    val rows = store.read().orderBy("sku").collect()
    assert(rows.map(_.getAs[String]("sku")).toSeq === Seq("", "A1"))
    assert(rows.head.getAs[String]("title") === "")
    // mapped columns MISSING from the header entirely (only unmapped
    // cells carry values): record_data is empty, the row is skipped
    // uncounted — but with sku UNMAPPED too this is the 0-row success
    // path, not a NOT NULL abort
    val onlyUnmapped = writeText(tmpDir("um3"), "b.csv",
      "foo,bar\nx1,y1")
    val r3 = svc.ingest(cfg, onlyUnmapped, batchTs = ts2)
    assert(r3.success && r3.processedCount === 0L, r3.message)
    // sku mapped-but-absent from the header while ANOTHER mapped column
    // is present: rows count, their record_data lacks sku, the INSERT
    // violates NOT NULL -> batch aborts (reference DB parity)
    val noSkuHeader = writeText(tmpDir("um4"), "b.csv",
      "foo,title\njunk,Widget")
    val r4 = svc.ingest(cfg, noSkuHeader, batchTs = ts2)
    assert(!r4.success && r4.message.contains("NOT NULL"), r4.message)
    assert(store.read().count() === 2, "failed batch must not publish")
  }

  test("zero-row full update on an empty store succeeds; on data it deactivates all") {
    val store = new ProductStore(spark, tmpDir("store-fu0"))
    val svc = new IngestionService(spark, store, clientId = 1)
    val empty = writeText(tmpDir("fu0a"), "b.csv", "foo\nx")
    // empty store: nothing to deactivate, success without a publish
    val r0 = svc.ingest(cfg, empty, fullUpdate = true, batchTs = ts1)
    assert(r0.success && r0.processedCount === 0L, r0.message)
    // seed data, then a zero-row full update: the reference's
    // UPDATE ... NOT IN (empty set) deactivates every non-null-sku row
    val seed = writeText(tmpDir("fu0b"), "b.csv", "sku,title,active\na1,T,1")
    assert(svc.ingest(cfg, seed, batchTs = ts1).success)
    val r1 = svc.ingest(cfg, empty, fullUpdate = true, batchTs = ts2)
    assert(r1.success && r1.processedCount === 0L, r1.message)
    val row = store.read().collect().head
    assert(row.getAs[Boolean]("active") === false,
      "a zero-row full update deactivates the whole tenant")
  }

  test("a mapped client_id column never moves rows across tenants (tenancy pin)") {
    // The reference ACCEPTS a config targeting client_id (base.py's
    // reflective list excludes only `id`) and its update path setattr's
    // it — a tenancy escape. Here the mapped value is ignored on both
    // the insert and the update path (documented deviation).
    val cidCfg = ParserConfig("csv", Seq(
      "sku" -> ("sku", "text"),
      "title" -> ("title", "text"),
      "cid" -> ("client_id", "integer")))
    val store = new ProductStore(spark, tmpDir("store-cidpin"))
    val svc = new IngestionService(spark, store, clientId = 1)
    val r1 = svc.ingest(cidCfg,
      writeText(tmpDir("cid1"), "b1.csv", "sku,title,cid\na1,First,9"),
      batchTs = ts1)
    assert(r1.success, r1.message)
    val r2 = svc.ingest(cidCfg,
      writeText(tmpDir("cid2"), "b2.csv", "sku,title,cid\na1,Updated,7"),
      batchTs = ts1)
    assert(r2.success, r2.message)
    val rows = store.read().select("client_id", "sku", "title").collect()
    assert(rows.length === 1, "one upserted row, never a cross-tenant copy")
    assert(rows.head.getInt(0) === 1, "client_id stays the authenticated tenant")
    assert(rows.head.getString(2) === "Updated")
  }

  test("marker retention: retire drops only non-kept tokens, atomically, without churn") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = tmpDir("store-retire")
    val store = new ProductStore(spark, root, keepVersions = 1)
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T1")).toDF("client_id", "sku", "title"), marker = Some("old_1"))
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T2")).toDF("client_id", "sku", "title"), marker = Some("new_2"))
    def versionCount: Long = {
      val s = Files.list(Paths.get(root, "versions"))
      try s.count() finally s.close()
    }
    // a retire that drops nothing must not publish a new version
    val before = versionCount
    store.retireMarkers(_ => true)
    assert(versionCount === before, "no-drop retire must not churn versions")
    // retiring the old token keeps the new one AND the data
    store.retireMarkers(_.startsWith("new_"))
    assert(!store.hasMarker("old_1") && store.hasMarker("new_2"))
    val live = store.readClient(1).select("title").as[String].collect()
    assert(live.toSeq === Seq("T2"), "retire must not touch data")
    // the kept token still carries forward through later publishes
    store.overwriteClientAtomic(2,
      Seq((2, "b1", "B")).toDF("client_id", "sku", "title"))
    assert(store.hasMarker("new_2") && !store.hasMarker("old_1"))
  }
}
