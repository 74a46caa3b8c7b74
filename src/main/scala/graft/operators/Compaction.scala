package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance operator every
  * long-running ingest needs: streaming/batch appends accumulate
  * thousands of tiny files, and at 100 TB the resulting footer reads and
  * task-per-file scheduling dominate scan cost long before the data
  * does. Compaction rewrites a directory into ~`targetBytes`-sized files
  * in one shuffle.
  *
  * File-count sizing comes from the source's FILE statistics
  * (`optimizedPlan.stats.sizeInBytes` — what the parquet footers report),
  * NOT from a `count()` pass: no extra job runs before the rewrite.
  *
  * [[compactSorted]] range-partitions and sorts by the given
  * columns, so each output file covers a disjoint key range — that makes
  * parquet min/max row-group pruning effective for key-filtered reads
  * (the "poor man's clustering index" at 100 TB).
  */
object Compaction {

  /** Number of output files for the directory's reported byte size. */
  def plannedFileCount(df: DataFrame, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val total = df.queryExecution.optimizedPlan.stats.sizeInBytes
    math.max(1L, ((total + targetBytes - 1) / targetBytes).toLong min Int.MaxValue).toInt
  }

  /** Compact AND cluster: range-partition by `sortCols` and sort within
    * each partition, so output files hold disjoint, ordered key ranges
    * and key-filtered scans prune whole files via parquet min/max stats.
    */
  def compactSorted(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long,
      sortCols: Seq[String]): (Int, DataFrame) = {
    require(sortCols.nonEmpty, "compactSorted needs at least one sort column")
    val df = TableReads.read(spark, inDir)
    val n = plannedFileCount(df, targetBytes)
    val cols = sortCols.map(col)
    (n, TableReads.overwrite(
      df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*), outDir))
  }
}
