package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    // Shuffle scratch on tmpfs — /tmp sits on the throttled sandbox
    // disk (see graft.Scratch).
    .config("spark.local.dir", Scratch.localDir("test-local"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` and counts the Spark jobs it launched. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, names) = jobNamesOf(body)
    (out, names.size)
  }

  /** Runs `body` and names the Spark jobs it launched, in start order:
    * each job's final-stage name, the call site Spark records (e.g.
    * `parquet at TableReads.scala:64` for a schema-inference job). Jobs
    * are told apart by a job group, and a fence job in a second group,
    * seen last by the same listener, proves every earlier job-start
    * event arrived.
    */
  def jobNamesOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"counted-${UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => jobs.add(js.stageInfos.maxBy(_.stageId).name)
          case Some(g) if g == s"$group-fence" => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never reached the listener")
      (out, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def writeText(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}
