package perfbench

import graft.GraftEngine

import java.io.File

/** Benchmark driver. Runs one workload for a measured window and prints,
  * last, one JSON line: correct / attempted / failed and the metrics
  * (end-to-end untraced, per-layer traced).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <benchDir> <workDir> [recordHashesFile]
  */
object Main {
  val Workloads = Seq("catalog_bulk_ingest", "catalog_serve", "pipeline_suite")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, benchDir, workDir) = args.take(6)
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val tracer = new Tracer(traceS == "1")
    val work = new File(workDir); work.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = GraftEngine.session(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    println(f"session start: ${(System.nanoTime() - t0) / 1e9}%.2f s on local[$cores] " +
      f"(jvm uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s)")
    tracer.install(spark)
    val out =
      try workload match {
        case "catalog_bulk_ingest" =>
          perfbench.Workloads.bulk(new CatalogRig(spark, tracer, work), seed, seconds, new File(work, "up"))
        case "catalog_serve" =>
          perfbench.Workloads.serve(new CatalogRig(spark, tracer, work), seed, seconds, work)
        case "pipeline_suite" =>
          Pipeline.run(spark, tracer, new File(benchDir), seed, seconds, args.lift(6).map(new File(_)))
      } finally spark.stop()
    out.notes.foreach(println)
    println(f"jvm uptime at exit: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
    out.failures.take(20).foreach(f => println(s"FAILED: $f"))
    val ratio = out.failures.size.toDouble / math.max(1L, out.attempted)
    println(s"op_error_ratio = ${num(ratio)} (${out.failures.size} failed or wrong of ${out.attempted} attempted)")
    if (tracer.on) {
      println("self time per layer (ms): " + Layers.selfTimes(tracer).toSeq.sortBy(-_._2)
        .map { case (l, v) => f"$l=$v%.0f" }.mkString(" "))
      println("SELF " + json(Layers.selfTimes(tracer).map { case (k, v) => k -> (v, "ms") }))
    }
    val metrics = if (tracer.on) out.layers else out.e2e
    println(s"""{"correct":${out.failures.isEmpty},"attempted":${out.attempted},"failed":${out.failures.size},"metrics":${json(metrics)}}""")
  }
}
