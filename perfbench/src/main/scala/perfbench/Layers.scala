package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** JVM-wide readings taken at the edges of the measured window. */
object Jvm {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Turns the traced run's spans, listener counts and probe timings into
  * the per-layer metrics. Every workload reports every metric; a layer
  * that does no work on a workload reports 0.
  */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "sources.read_ms" -> "ms", "sources.rows_per_s" -> "1/s", "sources.bytes_read" -> "bytes",
    "mapping.ms" -> "ms", "mapping.rows_per_s" -> "1/s", "mapping.strict_error_rows" -> "count",
    "merge.dedup_ms" -> "ms", "merge.coalesce_ms" -> "ms", "merge.anti_update_ms" -> "ms",
    "merge.rows_updated" -> "count", "merge.rows_inserted" -> "count", "merge.rows_deactivated" -> "count",
    "ingest.actions_per_upload" -> "count", "ingest.jobs_per_upload" -> "count",
    "ingest.stages_per_upload" -> "count", "ingest.driver_gap_ms" -> "ms", "ingest.gate_ms" -> "ms",
    "ingest.write_ms" -> "ms",
    "store.lock_wait_ms" -> "ms", "store.publish_ms" -> "ms", "store.files_written" -> "count",
    "store.bytes_written" -> "bytes", "store.files_per_tenant" -> "count",
    "store.disk_bytes_per_live_byte" -> "ratio", "store.versions_retained" -> "count",
    "list.plan_ms" -> "ms", "list.exec_ms" -> "ms", "list.jobs_per_call" -> "count",
    "list.tasks_per_call" -> "count", "list.files_scanned_per_call" -> "count",
    "list.rows_scanned_per_row_returned" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms",
    "pipeline.jobs" -> "count", "pipeline.stages" -> "count", "pipeline.driver_gap_s" -> "s",
    "pipeline.executor_run_s" -> "s", "pipeline.plan_s" -> "s", "pipeline.shuffle_bytes" -> "bytes",
    "pipeline.rdd_blocks_stored" -> "count", "pipeline.slowest_query_s" -> "s",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.op_p50_ms" -> "ms", "trace.work_per_s" -> "1/s")

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** End-to-end numbers as the traced run measured them; their distance
    * from an untraced run's is the tracing overhead.
    */
  def traceE2e(e2e: Map[String, (Double, String)]): Map[String, (Double, String)] =
    Map("trace.op_p50_ms" -> e2e("op_p50_ms"), "trace.work_per_s" -> e2e("work_per_s"))

  /** Complete a partial metric map with zeros and units. */
  def complete(m: Map[String, Double]): Map[String, (Double, String)] =
    Names.map { case (n, u) => n -> (m.getOrElse(n, 0.0), u) }.toMap

  /** (files, rows) the file scans of an executed plan read. */
  def scanCounts(df: DataFrame): (Long, Long) = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").fold(0L)(_.value)).sum,
      scans.map(_.metrics.get("numOutputRows").fold(0L)(_.value)).sum)
  }

  /** Spark counts per foreground call (an upload or a list call). */
  private def sparkPerCall(t: Tracer, fg: Seq[Span], compileMs: Double): Map[String, Double] = {
    def per(f: SparkCounts => Long) = mean(fg.map(s => t.total(s, f).toDouble))
    Map(
      "spark.jobs" -> per(_.jobs.sum), "spark.stages" -> per(_.stages.sum),
      "spark.tasks" -> per(_.tasks.sum), "spark.executor_run_ms" -> per(_.runMs.sum),
      "spark.executor_cpu_ms" -> per(_.cpuNs.sum) / 1e6,
      "spark.shuffle_read_bytes" -> per(_.shuffleRead.sum),
      "spark.shuffle_write_bytes" -> per(_.shuffleWrite.sum),
      "spark.spill_bytes" -> per(_.spill.sum),
      "spark.driver_gap_ms" -> mean(fg.map(t.driverGapMs)),
      "spark.plan_ms" -> per(_.planMs.sum),
      "spark.codegen_compile_ms" -> compileMs)
  }

  def catalog(rig: CatalogRig, uploads: Seq[UploadLog], lists: Seq[Workloads.ListLog],
      mergeCounts: Map[String, Double], gcMs: Double,
      compileMs: Double): Map[String, (Double, String)] = {
    val t = rig.tracer
    val probe = rig.layer.toMap.map { case (k, v) => k -> v.toSeq }
    def avg(k: String) = mean(probe.getOrElse(k, Nil))
    def total(k: String) = probe.getOrElse(k, Nil).sum
    def rate(rows: String, ms: String) = if (total(ms) > 0) total(rows) / (total(ms) / 1000) else 0.0
    val ingestSpans = uploads.flatMap(_.span)
    val listSpans = t.all.filter(_.layer == "list")
    val ingestIds = t.all.filter(_.layer == "ingest").map(_.id).toSet
    val writeSpans = t.all.filter(s => s.layer == "store" && ingestIds.contains(s.parent) &&
      t.total(s, _.jobs.sum) > 0)
    val done = uploads.filter(_.failed.isEmpty)
    val m = Map(
      "sources.read_ms" -> avg("sources.read_ms"),
      "sources.rows_per_s" -> rate("sources.rows", "sources.read_ms"),
      "sources.bytes_read" -> avg("sources.bytes_read"),
      "mapping.ms" -> avg("mapping.ms"),
      "mapping.rows_per_s" -> rate("mapping.rows", "mapping.ms"),
      "mapping.strict_error_rows" -> total("mapping.strict_error_rows"),
      "merge.dedup_ms" -> avg("merge.dedup_ms"),
      "merge.coalesce_ms" -> avg("merge.coalesce_ms"),
      "merge.anti_update_ms" -> avg("merge.anti_update_ms"),
      "ingest.actions_per_upload" -> mean(ingestSpans.map(t.executions(_).toDouble)),
      "ingest.jobs_per_upload" -> mean(ingestSpans.map(t.total(_, _.jobs.sum).toDouble)),
      "ingest.stages_per_upload" -> mean(ingestSpans.map(t.total(_, _.stages.sum).toDouble)),
      "ingest.driver_gap_ms" -> mean(ingestSpans.map(t.driverGapMs)),
      "ingest.gate_ms" -> mean(done.map(_.gateMs).filterNot(_.isNaN)),
      "ingest.write_ms" -> mean(done.map(_.writeMs).filter(_ > 0)),
      "store.lock_wait_ms" -> mean(done.map(_.lockWaitMs)),
      "store.publish_ms" -> mean(writeSpans.map(t.driverGapMs)),
      "store.files_written" -> avg("store.files_written"),
      "store.bytes_written" -> avg("store.bytes_written"),
      "list.plan_ms" -> mean(lists.map(_.planMs)),
      "list.exec_ms" -> mean(lists.map(_.execMs)),
      "list.jobs_per_call" -> mean(listSpans.map(t.total(_, _.jobs.sum).toDouble)),
      "list.tasks_per_call" -> mean(listSpans.map(t.total(_, _.tasks.sum).toDouble)),
      "list.files_scanned_per_call" -> mean(lists.map(_.scan._1.toDouble)),
      "list.rows_scanned_per_row_returned" ->
        (if (lists.isEmpty) 0.0 else lists.map(_.scan._2).sum.toDouble / math.max(1, lists.map(_.rows).sum)),
      "jvm.gc_ms" -> gcMs, "jvm.heap_peak_mb" -> Jvm.heapPeakMb()) ++
      mergeCounts ++ rig.storeShape() ++ sparkPerCall(t, ingestSpans ++ listSpans, compileMs)
    complete(m)
  }

  def pipeline(t: Tracer, passes: Seq[Seq[Span]], perQuery: Map[String, Seq[Double]],
      gcMs: Double, compileMs: Double): Map[String, (Double, String)] = {
    def perPass(f: SparkCounts => Long) = mean(passes.map(_.map(s => t.total(s, f).toDouble).sum))
    val m = Map(
      "pipeline.jobs" -> perPass(_.jobs.sum),
      "pipeline.stages" -> perPass(_.stages.sum),
      "pipeline.driver_gap_s" -> mean(passes.map(_.map(t.driverGapMs).sum)) / 1000,
      "pipeline.executor_run_s" -> perPass(_.runMs.sum) / 1000,
      "pipeline.plan_s" -> perPass(_.planMs.sum) / 1000,
      "pipeline.shuffle_bytes" -> perPass(c => c.shuffleRead.sum + c.shuffleWrite.sum),
      "pipeline.rdd_blocks_stored" -> perPass(_.rddBlocks.sum),
      "pipeline.slowest_query_s" -> perQuery.values.map(v => Stats.median(v)).max / 1000,
      "jvm.gc_ms" -> gcMs, "jvm.heap_peak_mb" -> Jvm.heapPeakMb()) ++
      sparkPerCall(t, passes.flatten, compileMs)
    complete(m)
  }

  /** Self time per layer: each span's time minus its child spans'. */
  def selfTimes(t: Tracer): Map[String, Double] =
    t.all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(t.selfMs).sum }
}
