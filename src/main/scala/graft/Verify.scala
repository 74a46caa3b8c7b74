package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query filter for local iteration
    // Bench's session: the gates verify under the same scan-split and
    // AQE reduce layout the bench times, so order-insensitivity of every
    // gate is exercised against the partitioning the bench sees.
    val spark = Bench.session(Bench.envCpus(), "verify-local")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Visible stdout summary: a failed dump leaves no parquet dir, which
    // the DuckDB compare counts as a miss (never silent) — but the count
    // belongs on stdout too, where a bounded log capture keeps it.
    if (failed > 0) println(s"[verify] $failed quer${if (failed == 1) "y" else "ies"} FAILED to dump")
    // JSON string escape — the shared harness implementation (a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness).
    def q(s: String): String = Bench.jsonStr(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
