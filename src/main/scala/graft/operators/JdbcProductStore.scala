package graft.operators

import graft.ProductSchema
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.StringType

import java.sql.{Connection, DriverManager, Types}
import java.util.Properties
import scala.util.Try

/** JDBC-backed product table — the reference's real storage shape
  * (Postgres via SQLAlchemy, db/models.py:34-50, default_settings.py:1-8)
  * behind the same [[ProductBackend]] contract as the parquet store.
  *
  * Reads go through `spark.read.jdbc`; `readClient`'s tenant filter is
  * pushed into the database as a WHERE clause (visible as PushedFilters
  * in the scan).
  *
  * Writes stage through Spark, then commit with ONE database transaction
  * (the same place the reference gets its all-or-nothing guarantee,
  * ingestion/service.py:56-64):
  *
  *   1. executors write the batch to a staging table (parallel INSERTs,
  *      schema forced to the reference DDL's VARCHAR(n) types);
  *   2. the driver runs DELETE target-rows + INSERT..SELECT FROM staging
  *      inside a single transaction and commits — readers see the old
  *      tenant state or the new one, never both, and concurrent tenant
  *      ingests serialize on the database's own locks (no lost updates);
  *   3. the staging table is dropped.
  *
  * An empty staged batch ABORTS (same contract as the parquet store): a
  * batch with no rows for the client must not silently truncate the
  * tenant. Explicit truncation is [[truncateClient]].
  *
  * Tested against embedded Derby (`jdbc:derby:memory:...`); the URL/
  * properties are standard `spark.read.jdbc` arguments, so a Postgres
  * deployment only changes the connection string.
  */
object JdbcProductStore {

  /** Spark's built-in Derby dialect maps StringType to CLOB, which makes
    * the writer call `setNull(pos, Types.CLOB)` for null string values —
    * Derby then refuses the CLOB→VARCHAR conversion into our reference-DDL
    * VARCHAR(n) columns (ERROR 22005). Registering this partial dialect
    * ahead of the built-in one (Spark aggregates matching dialects,
    * first Some wins) pins StringType to VARCHAR; every other type falls
    * through to the stock Derby mappings.
    */
  private object DerbyVarcharDialect extends JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType): Option[JdbcType] =
      dt match {
        case StringType => Some(JdbcType("VARCHAR(255)", Types.VARCHAR))
        case _ => None
      }
  }

  @volatile private var dialectRegistered = false

  private[operators] def ensureDerbyDialect(): Unit =
    if (!dialectRegistered) synchronized {
      if (!dialectRegistered) {
        JdbcDialects.registerDialect(DerbyVarcharDialect)
        dialectRegistered = true
      }
    }
}

class JdbcProductStore(
    spark: SparkSession,
    url: String,
    table: String = "client_products",
    props: Properties = new Properties()) extends ProductBackend {

  if (url.startsWith("jdbc:derby")) JdbcProductStore.ensureDerbyDialect()

  /** The dialect seam (see [[SqlDialect]]): identifier-folding probes,
    * CREATE TABLE texts and staged-write column types resolve per URL —
    * Derby in the sandbox, Postgres (the reference's engine) in a real
    * deployment.
    */
  private val dialect: SqlDialect = SqlDialect.forUrl(url)

  private val columnTypes = dialect.columnTypes

  /** Spark's JDBC writer quotes column identifiers (so the staging table
    * gets case-sensitive lowercase names); quote ours the same way or the
    * driver-side INSERT..SELECT can't resolve columns across the two.
    */
  private def q(name: String): String = "\"" + name + "\""

  ensureTable(table, dialect.productsDdl(table, q)) // after `dialect` — class body runs in order

  private def withConnection[T](body: Connection => T): T = {
    val conn = DriverManager.getConnection(url, props)
    try body(conn) finally conn.close()
  }

  /** Runs `body` in one transaction on a fresh connection: commit on
    * return, roll back on any throw. The rollback runs BEFORE the
    * connection closes: an open transaction makes close() raise (Derby
    * 25001), which would mask the real failure.
    */
  private def inTransaction[T](body: Connection => T): T = withConnection { conn =>
    conn.setAutoCommit(false)
    try {
      val out = body(conn)
      conn.commit()
      out
    } catch {
      case t: Throwable => Try(conn.rollback()); throw t
    }
  }

  /** Unquoted identifiers fold per-database: Derby/Oracle store them
    * upper-case, Postgres (the reference's actual DB, db/models.py)
    * lower-case. The dialect asks the driver which folding it applies;
    * for drivers that report neither, it probes exact + both foldings so
    * an existing table is never missed (a miss re-runs CREATE TABLE and
    * fails).
    */
  private def tableExists(conn: Connection, name: String): Boolean = {
    val md = conn.getMetaData
    val candidates = dialect.foldedCandidates(md, name)
    candidates.exists { n =>
      // getTables treats its name argument as a LIKE pattern, where '_'
      // matches ANY single character — a bare rs.next() probe for
      // client_products (or the _ingest_locks/_ingest_markers siblings)
      // can false-positive on a similarly-named table, skip CREATE
      // TABLE, and fail later SQL with table-not-found. Escaping is not
      // portable (Derby REPORTS an empty getSearchStringEscape and
      // treats backslashes literally), so instead require an exact
      // TABLE_NAME match among the pattern's hits.
      val rs = md.getTables(null, null, n, null)
      try {
        var found = false
        while (!found && rs.next()) found = rs.getString("TABLE_NAME") == n
        found
      } finally rs.close()
    }
  }

  /** Create-if-absent for the products table and its `_ingest_locks` /
    * `_ingest_markers` siblings.
    */
  private def ensureTable(name: String, ddl: String): Unit = withConnection { conn =>
    if (!tableExists(conn, name)) {
      val st = conn.createStatement()
      // check-then-create can lose a create/create race with another
      // connection; the loser's "already exists" error is success iff a
      // re-probe now sees the table (don't trust vendor SQLStates). The
      // probe itself runs inside Try so a dead connection can't replace
      // the original DDL failure with a metadata-read exception.
      try st.executeUpdate(ddl)
      catch {
        case _: java.sql.SQLException
            if Try(tableExists(conn, name)).getOrElse(false) => ()
      } finally st.close()
    }
  }

  def exists: Boolean = withConnection(tableExists(_, table))

  private val lockTable = s"${table}_ingest_locks"

  /** Same-client ingest serialization from the DATABASE's own row locks —
    * the reference's semantics (ingestion/service.py:92-106, Postgres):
    * a dedicated connection takes an EXCLUSIVE row lock on the client's
    * row of `<table>_ingest_locks` (a self-assignment UPDATE: X locks
    * are held to end-of-transaction at every isolation level, on Derby
    * and Postgres alike — unlike FOR UPDATE cursor locks, which Derby
    * may release at cursor close) and holds the transaction open for the
    * whole read-merge-publish `body`. Serializes across threads, store
    * INSTANCES, and separate PROCESSES sharing the database; different
    * clients lock different rows and never contend. The client's row is
    * seeded in its own autocommit transaction first (a duplicate-key
    * loss to a concurrent seeder is success). Note Derby's
    * `derby.locks.waitTimeout` (default 60 s) bounds how long a second
    * ingest waits; Postgres waits indefinitely.
    */
  override def withIngestLock[T](clientId: Int)(body: => T): T = {
    ensureTable(lockTable, dialect.lockTableDdl(lockTable, q))
    // Seed the client's lock row in its own autocommit transaction. A
    // duplicate-key loss to a concurrent seeder is success, but the Try
    // swallows EVERY SQLException — so mutual exclusion must not rest on
    // the seed having worked: the locking UPDATE below verifies it
    // matched exactly one row, and retries the seed once if the row is
    // missing (transient seed failure, dropped lock table). An UPDATE
    // that matches 0 rows takes NO row lock, and proceeding would
    // silently reintroduce the same-client lost-update race.
    def seed(): Unit = withConnection { conn =>
      val st = conn.createStatement()
      try Try(st.executeUpdate(
        s"INSERT INTO $lockTable (${q("client_id")}) VALUES ($clientId)"))
      finally st.close()
      ()
    }
    seed()
    inTransaction { conn =>
      val st = conn.createStatement()
      val lockSql = s"UPDATE $lockTable SET ${q("client_id")} = " +
        s"${q("client_id")} WHERE ${q("client_id")} = $clientId"
      try {
        var locked = st.executeUpdate(lockSql)
        if (locked != 1) {
          seed()
          locked = st.executeUpdate(lockSql)
        }
        if (locked != 1)
          throw new IllegalStateException(
            s"ingest lock row for client $clientId absent after re-seed " +
              s"($locked rows matched) — refusing to run unserialized")
        body
      } finally st.close()
    }
  }

  /** Databases report their own identifier case (Derby upper-cases); alias
    * back to the canonical schema names so downstream operators and
    * `Row.getAs` (case-sensitive) see the same columns as the parquet store.
    */
  private def canonical(df: DataFrame): DataFrame =
    df.select(ProductSchema.CLIENT_PRODUCTS_SCHEMA.fieldNames.toSeq
      .map(n => col(n).as(n)): _*)

  def read(): DataFrame = canonical(spark.read.jdbc(url, table, props))

  def readClient(clientId: Int): DataFrame =
    read().filter(col("client_id") === clientId)

  private val markerTable = s"${table}_ingest_markers"

  /** Marker visibility comes from the database transaction itself: the
    * token row is inserted inside [[stageAndSwap]]'s single commit, so
    * it exists iff the batch's DELETE+INSERT committed (the reference's
    * own bundled-bookkeeping shape, ingestion/service.py:108).
    */
  override def hasMarker(token: String): Boolean = withConnection { conn =>
    tableExists(conn, markerTable) && {
      val ps = conn.prepareStatement(
        s"SELECT 1 FROM $markerTable WHERE ${q("token")} = ?")
      try {
        ps.setString(1, token)
        val rs = ps.executeQuery()
        try rs.next() finally rs.close()
      } finally ps.close()
    }
  }

  /** Retire markers failing `keep` in one transaction (see
    * [[ProductBackend.retireMarkers]]). Rows are cheap here compared to
    * the parquet store's per-publish link cost, but the table still
    * grows for the deployment's lifetime — and [[hasMarker]] probes it
    * per file — so the same caller-driven retention applies. The keep
    * predicate is a Scala function, so tokens are paged to the driver;
    * the table is retention-bounded by construction once callers retire.
    */
  override def retireMarkers(keep: String => Boolean): Unit =
    inTransaction { conn =>
      if (tableExists(conn, markerTable)) {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT ${q("token")} FROM $markerTable")
          val dropped = Seq.newBuilder[String]
          try {
            while (rs.next()) {
              val t = rs.getString(1)
              if (!keep(t)) dropped += t
            }
          } finally rs.close()
          val del = conn.prepareStatement(
            s"DELETE FROM $markerTable WHERE ${q("token")} = ?")
          try dropped.result().foreach { t =>
            del.setString(1, t); del.executeUpdate(); ()
          } finally del.close()
        } finally st.close()
      }
    }

  /** Full-table replace DISCARDS markers in the same transaction — the
    * [[ProductBackend.hasMarker]] contract (markers vouch for state this
    * replaces), and parity with the parquet store whose fresh version
    * dir drops them implicitly: a replayed file after a full restore
    * must RE-INGEST on both backends, not be skipped by a stale token.
    */
  def overwriteAtomic(df: DataFrame): Unit =
    stageAndSwap(df, deleteWhere = None, requireRows = false,
      clearMarkers = true)

  def overwriteClientAtomic(
      clientId: Int, df: DataFrame, marker: Option[String] = None): Unit = {
    marker.foreach(ProductBackend.validateMarkerToken)
    // DDL outside the swap transaction
    marker.foreach(_ => ensureTable(markerTable, dialect.markerTableDdl(markerTable, q)))
    stageAndSwap(ProductSchema.align(df).filter(col("client_id") === clientId),
      deleteWhere = Some(s"${q("client_id")} = $clientId"), requireRows = true,
      abortMsg = s"staged batch contains no rows for client_id=$clientId — " +
        "refusing to replace the live rows (use truncateClient for " +
        "deliberate truncation)",
      marker = marker)
  }

  def truncateClient(clientId: Int): Unit = inTransaction { conn =>
    val st = conn.createStatement()
    try st.executeUpdate(s"DELETE FROM $table WHERE ${q("client_id")} = $clientId")
    finally st.close()
    ()
  }

  def append(df: DataFrame): Unit =
    ProductSchema.align(df).write.mode(SaveMode.Append)
      .option("createTableColumnTypes", columnTypes)
      .jdbc(url, table, props)

  /** Stage via parallel executor INSERTs, swap in one driver-side
    * transaction. `deleteWhere=None` means full-table replace.
    */
  private def stageAndSwap(
      df: DataFrame,
      deleteWhere: Option[String],
      requireRows: Boolean,
      abortMsg: String = "empty staged batch",
      marker: Option[String] = None,
      clearMarkers: Boolean = false): Unit = {
    val staging = s"${table}_stage_${ProcessHandle.current().pid()}_${Thread.currentThread().getId}"
    // The staging WRITE sits inside the try: if an executor task dies
    // mid-write, the finally still drops the half-written staging table
    // (the Try around DROP absorbs the nothing-was-created case).
    try {
      ProductSchema.align(df).write.mode(SaveMode.Overwrite)
        .option("createTableColumnTypes", columnTypes)
        .jdbc(url, staging, props)
      inTransaction { conn =>
        val st = conn.createStatement()
        try {
          if (requireRows) {
            val rs = st.executeQuery(s"SELECT count(*) FROM $staging")
            val n = try { rs.next(); rs.getLong(1) } finally rs.close()
            if (n == 0) throw new IllegalStateException(abortMsg)
          }
          st.executeUpdate(
            s"DELETE FROM $table${deleteWhere.fold("")(w => s" WHERE $w")}")
          if (clearMarkers && tableExists(conn, markerTable))
            st.executeUpdate(s"DELETE FROM $markerTable")
          val cols = ProductSchema.CLIENT_PRODUCTS_SCHEMA.fieldNames.map(q).mkString(", ")
          st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
          // Ingest marker rides the same transaction: delete-then-insert
          // keeps a replayed token idempotent (commit makes it visible
          // atomically with the batch).
          marker.foreach { t =>
            val del = conn.prepareStatement(
              s"DELETE FROM $markerTable WHERE ${q("token")} = ?")
            try { del.setString(1, t); del.executeUpdate() } finally del.close()
            val ins = conn.prepareStatement(
              s"INSERT INTO $markerTable (${q("token")}) VALUES (?)")
            try { ins.setString(1, t); ins.executeUpdate() } finally ins.close()
          }
        } finally st.close()
      }
    } finally withConnection { conn =>
      val st = conn.createStatement()
      try Try(st.executeUpdate(s"DROP TABLE $staging")) finally st.close()
    }
  }
}
