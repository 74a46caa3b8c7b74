package graft

import org.apache.spark.sql.functions._

/** Per-query warm profiler and the ONE interleaved A/B tool (not part of
  * the driver contract): times named SparkEntry queries under Bench's
  * session and forcing hash, rep-major (a, b, a, b, ...), so host drift
  * lands on every query alike rather than on whichever ran last. Run 1
  * of each query is cold, later runs warm.
  * `sbt "runMain graft.ProfQ q_textrank q_dedup_substring"`.
  * Commit-against-commit A/Bs go through perfbench/run.py + diff.py.
  */
object ProfQ {
  private val reps = 3

  def main(args: Array[String]): Unit = {
    val names = ProfHarness.queryNames(
      if (args.nonEmpty) args.toSeq else Seq("q_group_agg"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.envCpus(), "profq-local")
    spark.sparkContext.setLogLevel("ERROR")
    // Warm up with a plain scan+count, NOT a query that might be
    // profiled: warming q_group_agg pre-filled the codegen cache for
    // q_group_agg itself, so its run1 read warm and the cold-vs-warm
    // attribution this tool exists for was wrong for that query.
    try spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(count(lit(1))).head()
    catch { case _: Throwable => () }
    for (rep <- 1 to reps; n <- names)
      ProfHarness.time(n, rep) {
        ProfHarness.force(SparkEntry.queries(n)(spark, sfDir))
      }
    spark.stop()
  }
}
