package graft

/** Plan auditor: prints the formatted physical plan of named queries (or
  * a default set) under Bench's session, so pushdown / broadcast /
  * codegen spans can be checked against the layout the bench times:
  * `sbt "runMain graft.Explain q_join_fk q_window_topk"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = ProfHarness.queryNames(
      if (args.nonEmpty) args.toSeq
      else Seq("q_filter_tenant", "q_join_fk", "q_window_topk", "q_embed_topk",
        "q_rank_paginate", "q_merge_upsert", "q_group_agg",
        "q_dedup_lsh_full", "q_dedup_simhash", "q_embed_neardup",
        "q_group_percentile_approx", "q_curate_docs", "q_sample_split"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session(Bench.envCpus(), "explain-local")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
