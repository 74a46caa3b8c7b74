package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the harness surface: one-off profiling mains, private
  * session builders, hand-rolled streaming sinks and hand-rolled store
  * version builds may not accumulate in the library again. Every harness main that should match the bench
  * builds Bench.session; an A/B of one query is `runMain graft.ProfQ`,
  * of two commits perfbench.
  */
class HarnessMainsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  /** Source files (basename without `.scala`) with a code line — not a
    * comment line — containing `needle`.
    */
  private def filesWith(needle: String): Set[String] =
    filesWhere(_.contains(needle))

  /** Source files (basename without `.scala`) with a code line — not a
    * comment line — for which `code` holds.
    */
  private def filesWhere(code: String => Boolean): Set[String] = {
    assert(Files.isDirectory(mainRoot),
      s"$mainRoot not found under ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(mainRoot)
    try s.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readAllLines(p).asScala.exists { line =>
        val t = line.trim
        code(t) &&
          !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      })
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    finally s.close()
  }

  /** Files that may read parquet without a schema besides TableReads,
    * each with why a cached schema would not pay there.
    */
  private val schemaLessReadAllowed = Map(
    "CoverStream" -> "reads the newest state snapshot, a new slice path every batch, so a cache would always miss",
    "CoresetStream" -> "reads the newest state snapshot, a new slice path every batch, so a cache would always miss",
    "GenData" -> "data generator main: copies two fixed tables once per run",
    "ProfQ" -> "profiling main: one warm-up scan per JVM, before any query runs")

  /** Member methods (two-space-indented `def`s) of `file` under the
    * main source root with a code line calling `name(`; the definition
    * line itself does not count.
    */
  private def callersIn(file: String, name: String): Set[String] = {
    val member = raw"^  (?:override\s+)?(?:private(?:\[\w+\])?\s+)?def\s+(\w+).*".r
    val call = raw"\b$name\(".r
    var method = ""
    Files.readAllLines(mainRoot.resolve(file)).asScala.flatMap { line =>
      line match { case member(m) => method = m; case _ => }
      val t = line.trim
      val code = !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if (code && call.findFirstIn(t).isDefined && !t.contains(s"def $name("))
        Some(method)
      else None
    }.toSet
  }

  test("def main appears only in the six harness mains") {
    assert(filesWith("def main(") ===
      Set("Bench", "Verify", "Smoke", "Explain", "GenData", "ProfQ"))
  }

  test("SparkSession.builder appears only in Bench, GraftEngine, Smoke and GenData") {
    assert(filesWith("SparkSession.builder") ===
      Set("Bench", "GraftEngine", "Smoke", "GenData"))
  }

  test("foreachBatch appears only in the slice store") {
    // every streaming sink starts through SliceStore.start, so the
    // replay contract lives in one file
    assert(filesWith(".foreachBatch") === Set("SliceStore"))
  }

  test("a product store version is named and published in one method") {
    // every parquet write builds its version through publishVersion, so
    // the write lock, the publish and the failure cleanup live in one place
    val store = "graft/operators/ProductStore.scala"
    assert(callersIn(store, "newVersionName") === Set("publishVersion"))
    assert(callersIn(store, "publish") === Set("publishVersion"))
  }

  test("a schema-less parquet read appears only in TableReads and the allowlist") {
    // TableReads.read infers a table's schema once per listing; a
    // schema-less read elsewhere pays a footer-scan job on every call
    val found = filesWhere(t => t.contains("read.parquet(") && !t.contains(".schema("))
    val outside = found -- schemaLessReadAllowed.keySet - "TableReads"
    assert(outside.isEmpty,
      s"schema-less read.parquet( outside TableReads: ${outside.toSeq.sorted.mkString(", ")}")
    assert(found === schemaLessReadAllowed.keySet + "TableReads",
      "an allowlisted file no longer reads parquet without a schema: drop it from the list")
  }

  test("query-name validation names every unknown query and passes known ones") {
    val e = intercept[IllegalArgumentException](
      ProfHarness.queryNames(Seq("q_group_agg", "q_nope", "q_typo")))
    assert(e.getMessage === "unknown query name(s): q_nope, q_typo")
    assert(ProfHarness.queryNames(Seq("q_group_agg")) === Seq("q_group_agg"))
  }
}
