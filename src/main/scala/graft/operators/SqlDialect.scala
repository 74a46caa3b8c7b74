package graft.operators

import java.sql.DatabaseMetaData
import scala.util.Try

/** The dialect seam of [[JdbcProductStore]] — the two places where SQL
  * behavior diverges between the sandbox's embedded Derby and the
  * reference's actual Postgres 17 (docker/docker-compose.yml:3,
  * db/migrations/000/001_up_init.sql):
  *
  *  1. METADATA PROBES — unquoted identifiers fold per database
  *     (Derby/Oracle store upper-case, Postgres lower-case), and
  *     `getSearchStringEscape` is not portable (Derby reports an EMPTY
  *     escape and treats backslashes literally, so LIKE-pattern escaping
  *     in `getTables` cannot be relied on — probes instead require an
  *     exact TABLE_NAME match among the pattern's hits);
  *  2. DDL TEXT — the products table follows the reference migration on
  *     Postgres (SERIAL surrogate id, NOT NULL + DEFAULT clauses) but
  *     Derby spells the auto-increment column differently (GENERATED
  *     ALWAYS AS IDENTITY) and the engine's Derby table omits it (the
  *     natural key is (client_id, sku) — see ProductSchema).
  *
  * [[JdbcProductStore]]'s transactional swap (DELETE + INSERT..SELECT)
  * is deliberately dialect-FREE portable SQL — it is the all-or-nothing
  * batch shape the reference gets from its one commit — so the dialect
  * carries only the probes and the DDL.
  *
  * What a live Postgres run would still need to verify (can't execute in
  * this sandbox — zero egress, no server): the BOOLEAN bind path
  * (Derby and PG both accept setBoolean, but PG's text-mode casts
  * differ), TIMESTAMP WITHOUT TIME ZONE round-trips across JVM default
  * zones, the SERIAL default firing on INSERT..SELECT with an omitted id
  * column, and lock-wait behavior (Postgres waits indefinitely where Derby's
  * derby.locks.waitTimeout aborts at 60 s).
  */
trait SqlDialect {
  def canHandle(url: String): Boolean

  /** Candidate stored spellings of an unquoted identifier, per the
    * database's folding — asked from the driver first so a correct
    * driver needs exactly one probe; drivers reporting neither folding
    * get exact + both foldings (a missed existing table would re-run
    * CREATE TABLE and fail).
    */
  def foldedCandidates(md: DatabaseMetaData, name: String): Seq[String] = {
    if (Try(md.storesUpperCaseIdentifiers()).getOrElse(false)) Seq(name.toUpperCase)
    else if (Try(md.storesLowerCaseIdentifiers()).getOrElse(false)) Seq(name.toLowerCase)
    else Seq(name, name.toUpperCase, name.toLowerCase)
  }.distinct

  /** CREATE TABLE for the products table, quoted with `q`. */
  def productsDdl(table: String, q: String => String): String

  /** One-INTEGER-row table backing the per-client ingest lock. */
  def lockTableDdl(table: String, q: String => String): String =
    s"CREATE TABLE $table (${q("client_id")} INTEGER PRIMARY KEY)"

  /** Ingest-marker token table (committed atomically with a publish). */
  def markerTableDdl(table: String, q: String => String): String =
    s"CREATE TABLE $table (${q("token")} VARCHAR(128) PRIMARY KEY)"

  /** Spark `createTableColumnTypes` for staged writes: pin the
    * reference DDL's VARCHAR(n) widths (both dialects would otherwise
    * map StringType to CLOB/TEXT, which Derby refuses to compare with
    * VARCHAR).
    */
  def columnTypes: String =
    "sku VARCHAR(100), remote_id VARCHAR(100), brand VARCHAR(100), " +
      "title VARCHAR(255)"
}

object SqlDialect {
  val all: Seq[SqlDialect] = Seq(DerbyDialect, PostgresDialect)

  /** Resolve by JDBC URL; unknown URLs get Derby's conservative probing
    * plus portable DDL (the least-assumptions fallback).
    */
  def forUrl(url: String): SqlDialect =
    all.find(_.canHandle(url)).getOrElse(DerbyDialect)
}

/** Embedded Derby — the sandbox stand-in. No surrogate id: Derby would
  * spell it GENERATED ALWAYS AS IDENTITY, and nothing in the engine
  * reads it (the natural key is (client_id, sku)).
  */
object DerbyDialect extends SqlDialect {
  def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")

  def productsDdl(table: String, q: String => String): String =
    s"""CREATE TABLE $table (
       |  ${q("client_id")} INTEGER NOT NULL,
       |  ${q("sku")} VARCHAR(100),
       |  ${q("remote_id")} VARCHAR(100),
       |  ${q("brand")} VARCHAR(100),
       |  ${q("title")} VARCHAR(255),
       |  ${q("last_changed_on")} TIMESTAMP,
       |  ${q("stock_quantity")} INTEGER,
       |  ${q("active")} BOOLEAN,
       |  ${q("max_price")} DECIMAL(12,2),
       |  ${q("min_price")} DECIMAL(12,2),
       |  ${q("reference_price")} DECIMAL(12,2)
       |)""".stripMargin
}

/** Postgres — the reference's actual engine (default_settings.py:1-8).
  * The products DDL is the reference migration's table verbatim
  * (db/migrations/000/001_up_init.sql:22-36) minus the clients FK (the
  * engine does not manage the clients table; a deployment onto the
  * reference's database never runs this CREATE at all — the probe finds
  * the migrated table). INSERT..SELECT with the id column omitted lets
  * the SERIAL default fire, so the engine's id-free row shape lands
  * unchanged.
  */
object PostgresDialect extends SqlDialect {
  def canHandle(url: String): Boolean = url.startsWith("jdbc:postgresql")

  def productsDdl(table: String, q: String => String): String =
    s"""CREATE TABLE $table (
       |  ${q("id")} SERIAL PRIMARY KEY NOT NULL,
       |  ${q("client_id")} INTEGER NOT NULL,
       |  ${q("sku")} VARCHAR(100) NOT NULL,
       |  ${q("remote_id")} VARCHAR(100),
       |  ${q("brand")} VARCHAR(100),
       |  ${q("title")} VARCHAR(255),
       |  ${q("last_changed_on")} TIMESTAMP WITHOUT TIME ZONE DEFAULT (CURRENT_TIMESTAMP),
       |  ${q("stock_quantity")} INTEGER,
       |  ${q("active")} BOOLEAN NOT NULL DEFAULT true,
       |  ${q("max_price")} DECIMAL(12,2),
       |  ${q("min_price")} DECIMAL(12,2),
       |  ${q("reference_price")} DECIMAL(12,2)
       |)""".stripMargin
}
