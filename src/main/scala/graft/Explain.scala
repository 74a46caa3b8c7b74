package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Plan auditor: runs named queries (or a default set) under Bench's
  * session and prints the final adaptive physical plan of every SQL
  * action each one runs — the writes and collects inside it, then its
  * own result — so pushdown / broadcast / codegen spans and exchange
  * reuse (`ReusedExchange`, which AQE only places while a plan runs)
  * can be checked against the layout the bench times:
  * `sbt "runMain graft.Explain q_join_fk q_window_topk"`.
  * A pin prints as a `localCheckpoint` action; its readers start from
  * a `Scan ExistingRDD`.
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
    val actions = new LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.put(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.put(f -> qe)
    })
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      try {
        actions.clear()
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.collect()
        // the listener bus is FIFO: once the result's own collect
        // arrives, every action the query ran before it has too
        var last = false
        while (!last) {
          val a = actions.poll(60, TimeUnit.SECONDS)
          if (a == null) { println("(listener timed out)"); last = true }
          else {
            last = a._2 eq df.queryExecution
            println(s"---- ${if (last) "result" else a._1} ----")
            println(a._2.explainString(FormattedMode))
          }
        }
      }
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
