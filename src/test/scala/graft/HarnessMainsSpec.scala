package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the harness surface: one-off profiling mains, private
  * session builders and hand-rolled streaming sinks may not accumulate
  * in the library again. Every harness main that should match the bench
  * builds Bench.session; an A/B of one query is `runMain graft.ProfQ`,
  * of two commits perfbench.
  */
class HarnessMainsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  /** Source files (basename without `.scala`) with a code line — not a
    * comment line — containing `needle`.
    */
  private def filesWith(needle: String): Set[String] = {
    assert(Files.isDirectory(mainRoot),
      s"$mainRoot not found under ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(mainRoot)
    try s.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readAllLines(p).asScala.exists { line =>
        val t = line.trim
        t.contains(needle) &&
          !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      })
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    finally s.close()
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

  test("query-name validation names every unknown query and passes known ones") {
    val e = intercept[IllegalArgumentException](
      ProfHarness.queryNames(Seq("q_group_agg", "q_nope", "q_typo")))
    assert(e.getMessage === "unknown query name(s): q_nope, q_typo")
    assert(ProfHarness.queryNames(Seq("q_group_agg")) === Seq("q_group_agg"))
  }
}
