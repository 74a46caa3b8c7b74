package graft

import graft.operators.{IngestionService, JdbcProductStore, ParserConfig}
import org.apache.spark.sql.functions._

/** The JDBC backend against embedded Derby — the reference's storage
  * shape (a transactional database) behind the same ProductBackend
  * contract the parquet store honors.
  */
class JdbcProductStoreSpec extends SparkSpec {

  private var dbN = 0
  private def freshUrl(): String = {
    dbN += 1
    s"jdbc:derby:memory:graft_test_${System.nanoTime()}_$dbN;create=true"
  }
  private def freshStore(): JdbcProductStore = new JdbcProductStore(spark, freshUrl())

  private val cfg = ParserConfig.fromJson(
    """{"parser_id": "csv", "column_mapping": {
      |  "sku": ["sku", "text"],
      |  "title": ["title", "text"],
      |  "active": ["active", "boolean"],
      |  "price": ["max_price", "decimal"]
      |}}""".stripMargin)

  test("round-trip: write through the swap transaction, read with pushdown") {
    import spark.implicits._
    val store = freshStore()
    assert(store.exists)
    assert(store.read().count() === 0)
    val df = Seq(
      (1, "a1", "Red Widget", true, "10.50"),
      (1, "a2", "Blue Widget", false, "20.00"),
      (2, "b1", "Other Tenant", true, "5.00")
    ).toDF("client_id", "sku", "title", "active", "max_price")
    store.overwriteClientAtomic(1, df) // rows for client 2 filtered out
    store.overwriteClientAtomic(2, df)
    assert(store.read().count() === 3)
    val c1 = store.readClient(1).orderBy("sku").collect()
    assert(c1.map(_.getAs[String]("sku")).toSeq === Seq("a1", "a2"))
    assert(c1.head.getAs[java.math.BigDecimal]("max_price")
      .compareTo(new java.math.BigDecimal("10.50")) === 0)
    assert(store.readClient(2).count() === 1)
  }

  test("client overwrite replaces only that tenant; empty batch aborts") {
    import spark.implicits._
    val store = freshStore()
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "Old")).toDF("client_id", "sku", "title"))
    store.overwriteClientAtomic(2,
      Seq((2, "b1", "Keep")).toDF("client_id", "sku", "title"))
    store.overwriteClientAtomic(1,
      Seq((1, "a9", "New")).toDF("client_id", "sku", "title"))
    assert(store.readClient(1).collect().map(_.getAs[String]("sku")).toSeq === Seq("a9"))
    assert(store.readClient(2).count() === 1, "other tenant untouched")
    // a batch with rows only for ANOTHER client must abort, not truncate
    val other = Seq((2, "zz", "Other")).toDF("client_id", "sku", "title")
    intercept[IllegalStateException] { store.overwriteClientAtomic(1, other) }
    assert(store.readClient(1).count() === 1, "abort left tenant intact")
    // deliberate truncation is its own operation
    store.truncateClient(1)
    assert(store.readClient(1).count() === 0)
    assert(store.readClient(2).count() === 1)
  }

  test("ingest service runs unchanged against the JDBC backend") {
    val store = freshStore()
    val dir = tmpDir("jdbc_upload")
    val p = writeText(dir, "u.csv",
      """sku,title,active,price
        |A1,Red Widget,1,$10.00
        |A2,Blue Widget,yes,"1,234.50"
        |""".stripMargin)
    val svc = new IngestionService(spark, store, clientId = 7)
    val rep = svc.ingest(cfg, p)
    assert(rep.success && rep.processedCount === 2)
    val rows = store.readClient(7).orderBy("sku").collect()
    assert(rows.length === 2)
    assert(rows(1).getAs[java.math.BigDecimal]("max_price")
      .compareTo(new java.math.BigDecimal("1234.50")) === 0)
    // upsert batch: A2 re-ingested with new title, A3 inserted
    val p2 = writeText(dir, "u2.csv",
      """sku,title,active,price
        |A2,Renamed Widget,yes,2.00
        |A3,Green Gadget,1,3.00
        |""".stripMargin)
    assert(svc.ingest(cfg, p2).success)
    val after = store.readClient(7).orderBy("sku").collect()
    assert(after.map(_.getAs[String]("sku")).toSeq === Seq("A1", "A2", "A3"))
    assert(after(1).getAs[String]("title") === "Renamed Widget")
  }

  test("concurrent tenant writers serialize on the database transaction") {
    import java.util.concurrent.atomic.AtomicReference
    import spark.implicits._
    val store = freshStore()
    val failure = new AtomicReference[Throwable](null)
    val threads = (1 to 4).map { c =>
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
    (1 to 4).foreach { c =>
      val rows = store.readClient(c).collect()
      assert(rows.length === 1, s"client $c lost its rows")
      assert(rows.head.getAs[String]("title") === s"C$c round 3")
    }
  }

  test("tableExists folds identifiers per driver metadata, not hardcoded upper") {
    // Derby reports storesUpperCaseIdentifiers=true; a second constructor
    // over the SAME database must find the existing table (no CREATE
    // re-run) regardless of folding. A lowercase-probe simulation covers
    // the Postgres side: Derby's metadata lookup is exact-match, so a
    // lowercase probe finds nothing — proving the old `name.toUpperCase`
    // hardcoding was load-bearing and the driver-metadata branch is what
    // keeps the probe correct per database.
    val url = s"jdbc:derby:memory:graft_fold_${System.nanoTime()};create=true"
    val s1 = new JdbcProductStore(spark, url)
    import spark.implicits._
    s1.overwriteClientAtomic(1, Seq((1, "a1", "T")).toDF("client_id", "sku", "title"))
    val s2 = new JdbcProductStore(spark, url) // would throw if CREATE re-ran
    assert(s2.exists && s2.readClient(1).count() === 1)
    // direct metadata check: Derby folds upper, so exact lowercase misses
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      assert(md.storesUpperCaseIdentifiers(), "Derby folds upper")
      val rsLower = md.getTables(null, null, "client_products", null)
      try assert(!rsLower.next(), "exact lowercase probe must miss on Derby — " +
        "folding has to come from driver metadata") finally rsLower.close()
    } finally conn.close()
  }

  test("lowercase-folding databases (the Postgres branch) find their tables") {
    // drive the storesLowerCaseIdentifiers=true branch of tableExists
    // against a REAL database via the LowerFoldingDriver proxy — the
    // exact path the old hardcoded toUpperCase broke on Postgres (the
    // existing table was never found and CREATE TABLE re-ran).
    LowerFoldingDriver.ensureRegistered()
    val url = s"${LowerFoldingDriver.Prefix}memory:graft_pg_${System.nanoTime()};create=true"
    val s1 = new JdbcProductStore(spark, url)
    assert(s1.exists, "first constructor created and re-probed the table")
    // the second constructor must FIND the table through the lowercase
    // probe; with upper-hardcoded folding the probe misses, CREATE
    // re-runs, and the already-exists race guard would mask it only if
    // the re-probe worked — which is the same folding logic under test
    val s2 = new JdbcProductStore(spark, url)
    assert(s2.exists)
    // sanity: the proxy really reports Postgres-style folding
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      assert(md.storesLowerCaseIdentifiers() && !md.storesUpperCaseIdentifiers())
      val rs = md.getTables(null, null, "client_products", null)
      try assert(rs.next(), "lowercase probe resolves through the folding layer")
      finally rs.close()
    } finally conn.close()
  }

  test("concurrent constructors over one database race safely on CREATE") {
    import java.util.concurrent.atomic.AtomicReference
    val url = s"jdbc:derby:memory:graft_race_${System.nanoTime()};create=true"
    val failure = new AtomicReference[Throwable](null)
    val stores = new java.util.concurrent.ConcurrentLinkedQueue[JdbcProductStore]()
    val threads = (1 to 6).map { _ =>
      new Thread(() => {
        try stores.add(new JdbcProductStore(spark, url))
        catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(failure.get() == null, s"constructor lost the create race: ${failure.get()}")
    assert(stores.size === 6 && stores.peek().exists)
  }

  test("truncateClient rolls back cleanly when the DELETE fails") {
    import spark.implicits._
    val url = freshUrl()
    val store = new JdbcProductStore(spark, url)
    store.overwriteClientAtomic(1, Seq((1, "a1", "T")).toDF("client_id", "sku", "title"))
    // Force the DELETE to fail by dropping the table out from under the
    // store via a raw connection; the surfaced error must be the real
    // SQL failure ("does not exist"), not Derby 25001 (invalid txn state
    // at close) from an un-rolled-back transaction.
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE client_products") finally st.close()
    } finally conn.close()
    val e = intercept[java.sql.SQLException] { store.truncateClient(1) }
    assert(e.getSQLState === "42X05", // table does not exist — the real error
      s"expected the DELETE's own failure, got ${e.getSQLState}: ${e.getMessage}")
  }

  test("a failed staging write leaves no orphaned staging table") {
    import spark.implicits._
    val url = freshUrl()
    val store = new JdbcProductStore(spark, url)
    // title wider than VARCHAR(255) → executor-side INSERT into the
    // staging table fails mid-write (22001 truncation).
    val wide = Seq((1, "a1", "x" * 400)).toDF("client_id", "sku", "title")
    intercept[Throwable] { store.overwriteClientAtomic(1, wide) }
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%STAGE%", null)
      try assert(!rs.next(), "orphaned staging table left behind") finally rs.close()
    } finally conn.close()
  }

  test("ingest lock serializes across store INSTANCES via the DB row lock") {
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.AtomicBoolean
    val url = freshUrl()
    val store1 = new JdbcProductStore(spark, url)
    val store2 = new JdbcProductStore(spark, url) // separate instance:
    // per-instance JVM monitors can't serialize these — only the
    // database row lock can (the cross-process mechanism, exercised
    // across connections; embedded Derby forbids two JVMs on one DB)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val entered2 = new AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t1 = new Thread(() => {
      try store1.withIngestLock(7) { held.countDown(); release.await() }
      catch { case t: Throwable => failure.compareAndSet(null, t); held.countDown() }
    })
    val t2 = new Thread(() => {
      try store2.withIngestLock(7) { entered2.set(true) }
      catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    t1.start(); held.await()
    t2.start()
    // while instance 1 holds client 7's row lock, a DIFFERENT client on
    // instance 2 must pass immediately...
    store2.withIngestLock(8) { () }
    // ...but the SAME client must block (generous settle window: an
    // un-held DB lock acquires in ms)
    Thread.sleep(500)
    assert(!entered2.get(),
      "second instance entered client 7's ingest lock while the first held it")
    release.countDown()
    t1.join(30000); t2.join(30000)
    assert(failure.get() == null, s"locked path failed: ${failure.get()}")
    assert(entered2.get(), "lock never acquired after release")
  }

  test("tenant filter is pushed down into the JDBC scan") {
    val store = freshStore()
    val plan = store.readClient(3).queryExecution.executedPlan.toString
    // Derby reports upper-case identifiers, so match case-insensitively.
    assert(plan.contains("PushedFilters") &&
      plan.toLowerCase.contains("equalto(client_id,3)"),
      s"expected pushed tenant filter in:\n$plan")
  }

  test("ingest markers share the swap transaction: visible on commit, absent on abort") {
    import spark.implicits._
    val store = freshStore()
    assert(!store.hasMarker("tok1"), "no markers before any publish")
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T")).toDF("client_id", "sku", "title"), marker = Some("tok1"))
    assert(store.hasMarker("tok1"))
    assert(!store.hasMarker("tok2"))
    // an aborted swap (empty staged batch) rolls the marker back with it
    val other = Seq((2, "b1", "Other")).toDF("client_id", "sku", "title")
    intercept[IllegalStateException] {
      store.overwriteClientAtomic(1, other, marker = Some("tok_abort"))
    }
    assert(!store.hasMarker("tok_abort"),
      "aborted transaction must not commit its marker")
    // replaying the same token is idempotent, not a duplicate-key failure
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T2")).toDF("client_id", "sku", "title"), marker = Some("tok1"))
    assert(store.hasMarker("tok1"))
  }

  test("marker retention and full-table overwrite parity with the parquet store") {
    import spark.implicits._
    val store = freshStore()
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T1")).toDF("client_id", "sku", "title"), marker = Some("old_1"))
    store.overwriteClientAtomic(1,
      Seq((1, "a1", "T2")).toDF("client_id", "sku", "title"), marker = Some("new_2"))
    // retire drops only non-kept tokens, leaves data alone
    store.retireMarkers(_.startsWith("new_"))
    assert(!store.hasMarker("old_1") && store.hasMarker("new_2"))
    assert(store.readClient(1).count() === 1)
    // the parquet store's fresh version dir drops markers on a FULL
    // replace; the database must match, or a replayed file after a full
    // restore is wrongly skipped here and re-ingested there
    store.overwriteAtomic(Seq((1, "a1", "Fresh")).toDF("client_id", "sku", "title"))
    assert(!store.hasMarker("new_2"),
      "full-table overwrite must discard markers (parquet-store parity)")
    // token validation parity: the parquet store's unsafe names fail here too
    intercept[Exception] {
      store.overwriteClientAtomic(1,
        Seq((1, "a1", "X")).toDF("client_id", "sku", "title"),
        marker = Some("../escape"))
    }
  }

  test("dialect matrix: URL resolution and the three dialect-sensitive texts") {
    import graft.operators.{DerbyDialect, PostgresDialect, SqlDialect}
    def q(n: String) = "\"" + n + "\""
    assert(SqlDialect.forUrl("jdbc:derby:memory:x") eq DerbyDialect)
    assert(SqlDialect.forUrl("jdbc:postgresql://db:5432/ing") eq PostgresDialect)
    assert(SqlDialect.forUrl("jdbc:weird:whatever") eq DerbyDialect) // conservative fallback

    // Postgres products DDL == the reference migration's client_products
    // (db/migrations/000/001_up_init.sql:22-36), minus the clients FK the
    // engine doesn't manage: every column, type, NOT NULL and DEFAULT.
    val pg = PostgresDialect.productsDdl("client_products", q)
    assert(pg.contains("\"id\" SERIAL PRIMARY KEY NOT NULL"))
    assert(pg.contains("\"client_id\" INTEGER NOT NULL"))
    assert(pg.contains("\"sku\" VARCHAR(100) NOT NULL"))
    assert(pg.contains("\"remote_id\" VARCHAR(100)"))
    assert(pg.contains("\"brand\" VARCHAR(100)"))
    assert(pg.contains("\"title\" VARCHAR(255)"))
    assert(pg.contains(
      "\"last_changed_on\" TIMESTAMP WITHOUT TIME ZONE DEFAULT (CURRENT_TIMESTAMP)"))
    assert(pg.contains("\"stock_quantity\" INTEGER"))
    assert(pg.contains("\"active\" BOOLEAN NOT NULL DEFAULT true"))
    assert(Seq("max_price", "min_price", "reference_price")
      .forall(c => pg.contains(s""""$c" DECIMAL(12,2)""")))

    // Derby's table omits the surrogate id (engine key is (client_id,
    // sku)) and relaxes the NOT NULLs the service enforces upstream
    val derby = DerbyDialect.productsDdl("client_products", q)
    assert(!derby.contains("\"id\""))
    assert(derby.contains("\"client_id\" INTEGER NOT NULL"))

    // the ingest-lock / marker sibling DDLs and the staged-write column
    // types are shared by both dialects: keyed tables, and the reference
    // DDL's VARCHAR(n) widths (not CLOB/TEXT)
    SqlDialect.all.foreach { d =>
      assert(d.lockTableDdl("l", q) === "CREATE TABLE l (\"client_id\" INTEGER PRIMARY KEY)")
      assert(d.markerTableDdl("m", q) === "CREATE TABLE m (\"token\" VARCHAR(128) PRIMARY KEY)")
      assert(d.columnTypes.contains("sku VARCHAR(100)") &&
        d.columnTypes.contains("title VARCHAR(255)"))
    }

    // folding probes: a driver reporting upper-case folding gets ONE
    // candidate; one reporting neither gets exact + both foldings
    val store = freshStore()
    assert(store.exists) // Derby (upper-folding) still probes correctly
  }

  test("tableExists escapes LIKE wildcards: similar names don't mask a missing table") {
    // client_products's probe pattern contains '_', a single-char LIKE
    // wildcard: with table `clientXproducts` already present, an
    // UNESCAPED probe for `client_products` false-positives, skips
    // CREATE TABLE, and the first read fails with table-not-found. The
    // `_ingest_locks` / `_ingest_markers` siblings go through the same
    // create-if-absent probe, so they get look-alikes too.
    import spark.implicits._
    val url = freshUrl()
    val decoy = new JdbcProductStore(spark, url, table = "clientXproducts")
    assert(decoy.exists)
    val conn = java.sql.DriverManager.getConnection(url)
    def tableNames(): Set[String] = {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      try Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toSet
      finally rs.close()
    }
    try {
      val st = conn.createStatement()
      try {
        st.executeUpdate("CREATE TABLE clientXproductsXingestXlocks (x INTEGER)")
        st.executeUpdate("CREATE TABLE clientXproductsXingestXmarkers (x INTEGER)")
      } finally st.close()
      val store = new JdbcProductStore(spark, url, table = "client_products")
      assert(store.exists)
      assert(store.read().count() === 0) // the real table was created and reads
      assert(store.withIngestLock(1) { 42 } === 42)
      assert(tableNames().contains("CLIENT_PRODUCTS_INGEST_LOCKS"))
      store.overwriteClientAtomic(1,
        Seq((1, "a1", "T")).toDF("client_id", "sku", "title"), marker = Some("tok1"))
      assert(tableNames().contains("CLIENT_PRODUCTS_INGEST_MARKERS"))
      assert(store.hasMarker("tok1") && !store.hasMarker("tok2"))
      assert(store.readClient(1).count() === 1)
    } finally conn.close()
  }
}
