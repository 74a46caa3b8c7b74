package perfbench

import graft.operators.ProductBackend
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** A timed region around one call into a layer. Spans nest per thread;
  * Spark work submitted inside a span is attributed to the innermost one.
  */
final class Span(val id: Long, val parent: Long, val layer: String, val thread: Long,
    val startMs: Long, val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side counts attributed to one span. */
final class SparkCounts {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, inputBytes,
    planMs, rddBlocks = new LongAdder
  val executions: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** In-memory span recorder plus the Spark listener that attributes jobs,
  * stages, tasks, shuffle, spill, cached blocks and plan phases to the
  * open span. Off, `span` just runs its body: the untraced run pays one
  * branch per call.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val counts = new ConcurrentHashMap[Long, SparkCounts]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** Block updates carry no job properties: they go to the span most
    * recently opened, which is exact for the single-caller workloads.
    */
  @volatile private var lastOpened = 0L
  val Prop = "perfbench.span"

  def countsOf(id: Long): SparkCounts = counts.computeIfAbsent(id, _ => new SparkCounts)

  def span[T](spark: SparkSession, layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get().headOption
      val s = new Span(ids.incrementAndGet(), parent.fold(0L)(_.id), layer,
        Thread.currentThread().getId, System.currentTimeMillis(), System.nanoTime())
      stack.set(s :: stack.get())
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      lastOpened = s.id
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Prop, prev)
        stack.set(stack.get().tail)
        spans.add(s)
      }
    }

  val listener: SparkListener = new SparkListener {
    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      jobSpan.put(e.jobId, id)
      jobStart.put(e.jobId, e.time)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
      val c = countsOf(id)
      c.jobs.increment()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach { x => c.executions.add(x.toLong); execSpan.putIfAbsent(x.toLong, id) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = jobSpan.getOrDefault(e.jobId, 0L)
      countsOf(id).jobIntervals.add((jobStart.getOrDefault(e.jobId, e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime)
        c.cpuNs.add(m.executorCpuTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputBytes.add(m.inputMetrics.bytesRead)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) countsOf(lastOpened).rddBlocks.increment()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.Access.queryExecution(end).foreach { qe =>
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          countsOf(execSpan.getOrDefault(end.executionId, 0L)).planMs.add(ms)
        }
      case _ =>
    }
  }

  def install(spark: SparkSession): Unit =
    if (on) spark.sparkContext.addSparkListener(listener)

  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.sql.perfbench.Access.drainListenerBus(spark.sparkContext)

  /** Forget everything recorded so far: the measured window starts clean. */
  def reset(spark: SparkSession): Unit = if (on) {
    drain(spark)
    spans.clear(); counts.clear(); jobSpan.clear(); stageSpan.clear(); execSpan.clear()
    jobStart.clear()
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def children(s: Span): Seq[Span] = childIndex.getOrElse(s.id, Nil)
  private lazy val childIndex: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Spans below `s`, itself included. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counts summed over a span and everything below it. */
  def total(s: Span, f: SparkCounts => Long): Long =
    subtree(s).map(x => Option(counts.get(x.id)).fold(0L)(f)).sum

  def executions(s: Span): Int =
    subtree(s).flatMap(x => Option(counts.get(x.id)).toSeq.flatMap(_.executions.asScala)).toSet.size

  /** Span wall time not covered by any of its jobs: driver-side work. */
  def driverGapMs(s: Span): Double = {
    val iv = subtree(s).flatMap(x => Option(counts.get(x.id)).toSeq.flatMap(_.jobIntervals.asScala))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  /** Span time minus the time its child spans cover. */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum
}

/** Delegating store that times each store call for the per-layer report.
  * `withIngestLock` and `skuBuckets` go straight to the wrapped store, so
  * locking and layout are the program's own; the wrapper only notes when
  * the lock was granted and which per-tenant publish sequence number the
  * caller got, in lock order.
  */
final class TimedBackend(val inner: ProductBackend, tracer: Tracer, spark: SparkSession)
    extends ProductBackend {
  final class Call(val tenant: Int) {
    @volatile var lockWaitNs, lockedAtNs, firstReadNs, writeStartNs, writeNs: Long = 0L
    @volatile var seq: Long = -1L
  }
  private val current = new ThreadLocal[Call]
  val entered = new ConcurrentHashMap[Int, AtomicLong]()
  val published = new ConcurrentHashMap[Int, AtomicLong]()
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()

  private def ctr(m: ConcurrentHashMap[Int, AtomicLong], t: Int) =
    m.computeIfAbsent(t, _ => new AtomicLong(0))

  /** Run one ingest as a tracked call; returns the call's timings. */
  def tracked[T](tenant: Int)(body: => T): (T, Call) = {
    val c = new Call(tenant)
    current.set(c)
    try (body, c) finally current.remove()
  }

  override def withIngestLock[T](clientId: Int)(body: => T): T = {
    val c = current.get()
    val t0 = System.nanoTime()
    inner.withIngestLock(clientId) {
      if (c != null) {
        c.lockedAtNs = System.nanoTime(); c.lockWaitNs = c.lockedAtNs - t0
        c.seq = ctr(entered, clientId).incrementAndGet()
      }
      try body
      finally if (c != null) ctr(published, clientId).set(c.seq)
    }
  }
  override def skuBuckets: Option[Int] = inner.skuBuckets

  private def noteRead(): Unit = {
    val c = current.get()
    if (c != null && c.firstReadNs == 0L) c.firstReadNs = System.nanoTime()
  }
  private def write[T](tenant: Int)(body: => T): T = {
    val c = current.get()
    val t0 = System.nanoTime(); val wall0 = System.currentTimeMillis()
    try tracer.span(spark, "store")(body)
    finally {
      val dt = System.nanoTime() - t0
      if (c != null) { c.writeStartNs = t0; c.writeNs = dt }
      writes.add((tenant, wall0, dt))
    }
  }

  def exists: Boolean = inner.exists
  def read(): DataFrame = inner.read()
  def readClient(clientId: Int): DataFrame = {
    noteRead(); tracer.span(spark, "store")(inner.readClient(clientId))
  }
  override def readClientBuckets(clientId: Int, buckets: Seq[Int]): DataFrame = {
    noteRead(); tracer.span(spark, "store")(inner.readClientBuckets(clientId, buckets))
  }
  def overwriteAtomic(df: DataFrame): Unit = inner.overwriteAtomic(df)
  def overwriteClientAtomic(clientId: Int, df: DataFrame, marker: Option[String]): Unit =
    write(clientId)(inner.overwriteClientAtomic(clientId, df, marker))
  override def overwriteClientBucketsAtomic(clientId: Int, buckets: Seq[Int],
      df: DataFrame, marker: Option[String]): Unit =
    write(clientId)(inner.overwriteClientBucketsAtomic(clientId, buckets, df, marker))
  def truncateClient(clientId: Int): Unit = inner.truncateClient(clientId)
  def append(df: DataFrame): Unit = inner.append(df)
  def hasMarker(token: String): Boolean = inner.hasMarker(token)
  def retireMarkers(keep: String => Boolean): Unit = inner.retireMarkers(keep)
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
