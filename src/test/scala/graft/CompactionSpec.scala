package graft

import java.nio.file.Files

import graft.operators.Compaction
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-compact").toString

  test("compact preserves every row and hits the planned file count") {
    import spark.implicits._
    val dir = tmp()
    val src = (1L to 10000L).map(i => (i, s"row$i")).toDF("id", "tag")
    src.repartition(50).write.parquet(s"$dir/small")
    val smallFiles = new java.io.File(s"$dir/small").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles === 50)
    val (planned, back) = Compaction.compactSorted(spark, s"$dir/small", s"$dir/big",
      targetBytes = 1L << 30, sortCols = Seq("id"))
    assert(planned === 1, "10k tiny rows fit one 1 GiB target file")
    val bigFiles = new java.io.File(s"$dir/big").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(bigFiles === planned)
    assert(back.count() === 10000L)
    assert(back.agg(sum("id")).head().getLong(0) === (1L to 10000L).sum)
  }

  test("compactSorted yields files with disjoint key ranges") {
    import spark.implicits._
    val dir = tmp()
    (1L to 20000L).map(i => (i, i % 7)).toDF("id", "g")
      .repartition(40).write.parquet(s"$dir/small")
    // force several output files with a tiny byte target
    val (planned, back) = Compaction.compactSorted(spark, s"$dir/small",
      s"$dir/big", targetBytes = 64L << 10, sortCols = Seq("id"))
    assert(planned > 1, "test needs multiple output files to check ranges")
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"file ranges overlap: $ranges")
      case _ =>
    }
    assert(back.count() === 20000L)
  }

  test("plannedFileCount scales with the byte target") {
    import spark.implicits._
    val dir = tmp()
    (1L to 50000L).map(i => (i, s"text-$i-" + "x" * 50)).toDF("id", "t")
      .repartition(10).write.parquet(s"$dir/in")
    val df = spark.read.parquet(s"$dir/in")
    val small = Compaction.plannedFileCount(df, 32L << 10)
    val big = Compaction.plannedFileCount(df, 1L << 30)
    assert(big === 1)
    assert(small > big)
  }
}
