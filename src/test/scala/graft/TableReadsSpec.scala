package graft

import graft.operators.{ShardManifest, TableReads}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The cached-schema parquet reader: every case compares against an
  * uncached `spark.read.parquet` of the same path.
  */
class TableReadsSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq // arrays print by identity
      case v => v
    }.mkString("[", ",", "]")).sorted.toSeq

  private def assertSameAsUncached(df: DataFrame, path: String): Unit = {
    val plain = spark.read.parquet(path)
    assert(df.schema === plain.schema)
    assert(rows(df) === rows(plain))
  }

  /** A parquet file written without Spark's schema metadata, so its
    * schema comes from the parquet types alone: `name` is an
    * unannotated BINARY, read as string or binary by the session's
    * `binaryAsString`.
    */
  private def writeRawParquet(path: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name; }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    try {
      val f = new SimpleGroupFactory(schema)
      Seq(1L -> "a", 2L -> "b").foreach { case (id, n) =>
        w.write(f.newGroup().append("id", id).append("name", n))
      }
    } finally w.close()
  }

  test("the first read of a table runs the footer job, the second runs none") {
    import spark.implicits._
    val path = tmpDir("tablereads-jobs") + "/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    val (first, coldJobs) = jobsOf(TableReads.read(spark, path))
    val (second, warmJobs) = jobsOf(TableReads.read(spark, path))
    assert(coldJobs === 1)
    assert(warmJobs === 0)
    assertSameAsUncached(first, path)
    assertSameAsUncached(second, path)
  }

  test("a file rewritten in place with an added column is seen on the next read") {
    import spark.implicits._
    val dir = tmpDir("tablereads-rewrite")
    val file = Paths.get(dir, "t.parquet")
    def publish(df: DataFrame): Unit = {
      val out = s"$dir/out-${UUID.randomUUID()}"
      df.coalesce(1).write.parquet(out)
      val part = Files.list(Paths.get(out)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    }
    publish(Seq((1L, "a")).toDF("k", "v"))
    assert(TableReads.read(spark, file.toString).columns.toSeq === Seq("k", "v"))
    publish(Seq((1L, "a", 2.5)).toDF("k", "v", "w"))
    val again = TableReads.read(spark, file.toString)
    assert(again.columns.toSeq === Seq("k", "v", "w"))
    assertSameAsUncached(again, file.toString)
  }

  test("toggling binaryAsString between reads gives what an uncached read gives") {
    val path = tmpDir("tablereads-binary") + "/raw.parquet"
    writeRawParquet(path)
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      Seq("false", "true", "false", "true").foreach { v =>
        spark.conf.set(key, v)
        val df = TableReads.read(spark, path)
        assert(df.schema("name").dataType ===
          (if (v == "true") StringType else BinaryType))
        assertSameAsUncached(df, path)
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a self-join of two table reads returns the uncached result") {
    import spark.implicits._
    val dir = tmpDir("tablereads-selfjoin")
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L), (2L, "BRAZIL", 1L),
        (3L, "CANADA", 1L), (4L, "EGYPT", 4L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    def pairs(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"),
          col("a.n_regionkey") === col("b.n_regionkey") &&
            col("a.n_nationkey") < col("b.n_nationkey"))
        .select(col("a.n_name"), col("b.n_name"))
    SparkEntry.t(spark, dir, "nation") // cold read: fills the cache
    val cached = pairs(SparkEntry.t(spark, dir, "nation"), SparkEntry.t(spark, dir, "nation"))
    val plain = pairs(spark.read.parquet(s"$dir/nation.parquet"),
      spark.read.parquet(s"$dir/nation.parquet"))
    assert(rows(cached) === rows(plain))
    assert(rows(cached).size === 3)
  }

  test("a partitioned directory keeps its partition column type") {
    import spark.implicits._
    val dir = tmpDir("tablereads-sharded") + "/t"
    ShardManifest.writeSharded((0L until 300L).map(k => (k, s"v$k")).toDF("k", "v"),
      dir, "k", width = 100L)
    val cold = TableReads.read(spark, dir)
    val (warm, warmJobs) = jobsOf(TableReads.read(spark, dir))
    assert(warmJobs === 0)
    assert(warm.schema === cold.schema)
    assert(warm.schema("shard_id").dataType === spark.read.parquet(dir).schema("shard_id").dataType)
    assertSameAsUncached(warm, dir)
    assert(warm.filter(col("shard_id") === 2).count() === 100L)
  }

  test("overwrite reads back under the schema inference would find") {
    val path = tmpDir("tablereads-overwrite") + "/t.parquet"
    val df = spark.range(5).select(
      col("id"),
      lit(1).as("one"),                              // non-nullable
      array(col("id"), lit(7L)).as("arr"),
      struct(col("id").as("x"), lit("s").as("y")).as("st"),
      (col("id") / 3).cast(DecimalType(18, 2)).as("dec"),
      timestamp_micros(col("id")).as("ts"))
    val (_, writeJobs) = jobsOf(df.write.parquet(path + "-plain"))
    val (back, jobs) = jobsOf(TableReads.overwrite(df, path))
    assert(jobs === writeJobs) // the read-back infers nothing
    assertSameAsUncached(back, path)
    val again = TableReads.overwrite(df.filter(col("id") > 2), path)
    assert(again.count() === 2L)
    assertSameAsUncached(again, path)
  }

  test("a missing path fails as an uncached read does") {
    val path = tmpDir("tablereads-missing") + "/nope.parquet"
    val plain = intercept[Exception](spark.read.parquet(path))
    val viaHelper = intercept[Exception](TableReads.read(spark, path))
    assert(viaHelper.getClass === plain.getClass)
  }
}
