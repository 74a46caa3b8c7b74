package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** The operator-pipeline workload: passes over a fixed list of
  * `SparkEntry.queries`, each forced by the bit_xor(xxhash64(struct(*)))
  * reduction Bench uses, with every result hash checked against the one
  * recorded for the fixed input tables.
  */
object Pipeline {

  def force(spark: SparkSession, name: String, dir: String): Long = {
    val df = SparkEntry.queries(name)(spark, dir)
    val r = df.agg(bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def readList(f: File): Seq[String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def readHashes(f: File): Map[String, Long] =
    readList(f).map(_.split("\\s+")).map(a => a(0) -> a(1).toLong).toMap

  def shuffled(names: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val r = new SplittableRandom(Gen.mix(seed, 40000 + pass))
    val a = names.toArray
    for (k <- a.length - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
    a.toSeq
  }

  /** Untimed passes after the cold pass, so timed passes run warm. */
  val WarmPasses = 3
  /** Timed passes run until the deadline, at least this many. */
  val MinPasses = 3

  def run(spark: SparkSession, tracer: Tracer, bench: File, seed: Long, seconds: Int,
      record: Option[File]): Outcome = {
    val names = readList(new File(bench, "pipeline_queries.txt"))
    val dir = new File(bench, "data").getAbsolutePath
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))

    // set-up: the cold pass, which pays first-touch planning, codegen and
    // the standing artifacts later passes reuse
    val coldHashes = mutable.LinkedHashMap[String, Long]()
    val coldMs = mutable.LinkedHashMap[String, Double]()
    val setupS = Workloads.timeS(shuffled(names, seed, 0).foreach { n =>
      val t0 = System.nanoTime()
      coldHashes(n) = force(spark, n, dir)
      coldMs(n) = (System.nanoTime() - t0) / 1e6
    })
    record.foreach { f =>
      val w = new java.io.PrintWriter(f, "UTF-8")
      try names.foreach(n => w.println(s"$n ${coldHashes(n)}")) finally w.close()
    }
    val want = readHashes(new File(bench, "pipeline_hashes.txt"))

    val fails = mutable.ArrayBuffer[String]()
    names.foreach { n =>
      if (!want.get(n).contains(coldHashes(n))) fails += s"$n: cold-pass hash ${coldHashes(n)} expected ${want.get(n)}"
    }
    val perQuery = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val passS = mutable.ArrayBuffer[Double]()
    val passSpans = mutable.ArrayBuffer[Seq[Span]]()
    (1 to WarmPasses).foreach(p => shuffled(names, seed, -p).foreach { n =>
      val h = force(spark, n, dir)
      if (!want.get(n).contains(h)) fails += s"$n: warm pass $p hash $h expected ${want.get(n)}"
    })
    tracer.reset(spark)
    val gc0 = Jvm.gcMs(); Jvm.resetPeaks(); val compile0 = Jvm.compileNs()
    val tStart = System.nanoTime()
    val deadline = tStart + seconds * 1000000000L
    var pass = 1
    var attempted = 0L
    while (System.nanoTime() < deadline || passS.size < MinPasses) {
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      shuffled(names, seed, pass).foreach { n =>
        attempted += 1
        val q0 = System.nanoTime()
        try {
          val h = tracer.span(spark, "pipeline")(force(spark, n, dir))
          if (!want.get(n).contains(h)) fails += s"$n: pass $pass hash $h expected ${want.get(n)}"
        } catch { case e: Exception => fails += s"$n: pass $pass $e" }
        perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e6
      }
      passS += (System.nanoTime() - t0) / 1e9
      if (tracer.on) passSpans += tracer.all.filter(s => s.layer == "pipeline" && s.startMs >= wall0)
      pass += 1
    }
    val windowS = (System.nanoTime() - tStart) / 1e9
    val gcMs = Jvm.gcMs() - gc0
    val compileMs = (Jvm.compileNs() - compile0) / 1e6
    tracer.drain(spark)

    val medPass = Stats.median(passS.toSeq)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "work_per_s" -> (names.size / medPass, "1/s"),
      "op_p50_ms" -> (medPass * 1000, "ms"))
    val slowest = perQuery.map { case (n, v) => n -> Stats.median(v.toSeq) }.maxBy(_._2)
    val notes = Seq(
      f"pipeline_suite: ${names.size} queries x ${passS.size} passes in $windowS%.1f s",
      f"  pipeline_s = $medPass%.4f s (median pass = op_p50_ms / 1000; passes ${passS.map(x => f"$x%.3f").mkString(", ")})",
      f"  slowest query: ${slowest._1} ${slowest._2}%.1f ms (median)",
      "  cold pass (ms): " + coldMs.map { case (n, v) => f"$n=$v%.0f" }.mkString(" "),
      "  warm median (ms): " + perQuery.toSeq.sortBy(_._1).map { case (n, v) => f"$n=${Stats.median(v.toSeq)}%.0f" }.mkString(" "),
      f"  setup_s = $setupS%.3f s (one cold pass; it cannot repeat within one JVM)")
    val layers =
      if (!tracer.on) Map.empty[String, (Double, String)]
      else Layers.pipeline(tracer, passSpans.toSeq, perQuery.map { case (k, v) => k -> v.toSeq }.toMap, gcMs, compileMs) ++
        Layers.traceE2e(e2e)
    Outcome(attempted, fails.toSeq, e2e, layers, notes)
  }
}
