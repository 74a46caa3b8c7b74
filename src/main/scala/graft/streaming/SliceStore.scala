package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructType}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The streaming sinks' one state layout and replay contract. A table
  * is one parquet SLICE per micro-batch, keyed by the streaming
  * batchId: `storeDir/<table>/batch=<id>/`.
  *
  * Exactly-once by IDEMPOTENCE, not by append: foreachBatch is
  * at-least-once (a crash between the sink write and the checkpoint
  * commit re-delivers the batch), so [[write]] OVERWRITES the batch's
  * own slice — a replay rewrites the identical slice instead of
  * duplicating rows. This is the idempotent-sink contract foreachBatch's
  * batchId exists for (Structured Streaming, SIGMOD 2018). A sink whose
  * batch reads its own tables passes `before = batchId`, so a replay
  * sees the same standing view as the first delivery did.
  *
  * Only COMMITTED slices exist for [[read]] and [[latest]]: a crash
  * inside a write leaves `batch=<id>/` holding only the committer's
  * `_temporary/` tree, which Spark's listing skips — a table of nothing
  * but such slices fails schema inference, and every replay of the
  * batch would fail with it. A slice with no visible (not `_`- or
  * `.`-prefixed) file at any depth therefore counts as absent until its
  * batch replays and overwrites it. A table with no committed slice is a
  * VALID empty state, returned as an empty frame of the table's schema.
  *
  * Each sink declares every table it reads back ONCE, as the schema
  * [[read]] returns: the slice's columns, the int `batch` slice key,
  * then any `partitionBy` columns — the order and types Spark's own
  * inference would give. Reading under it launches no schema-inference
  * (footer-scan) job; a schema-less read paid one on every call, over a
  * path set that grows with every batch. The caller's id column is
  * declared BIGINT, so the sinks that take an `idCol` (dedup, DSIR,
  * index, IVF) require a long id column ([[requireLongId]]).
  */
object SliceStore {

  /** Run `perBatch(batch, batchId)` for every micro-batch of `stream`,
    * checkpointed under `checkpointDir`. Trigger choice is the default
    * micro-batch trigger; callers drive it with the returned query.
    */
  def start(stream: DataFrame, checkpointDir: String)(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        perBatch(batch.toDF(), batchId)
      }
      .start()

  /** The directory of one slice. */
  def path(storeDir: String, table: String, batchId: Long): String =
    s"$storeDir/$table/batch=$batchId"

  /** Write `df` as the batch's slice of `table`, replacing any earlier
    * (possibly partial) write of the same batch.
    */
  def write(df: DataFrame, storeDir: String, table: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(path(storeDir, table, batchId))

  /** Fail loud unless `df`'s `idCol` is a long. The sinks declare
    * their id column BIGINT in the schema [[read]] takes, so a slice
    * written under another id type would not read back under it.
    */
  def requireLongId(df: DataFrame, idCol: String, sink: String): Unit = {
    val t = df.schema(idCol).dataType
    require(t == LongType, s"$sink: id column '$idCol' must be a bigint, " +
      s"got ${t.simpleString}; cast it before the stream")
  }

  /** Every committed slice of `table` below `before`, as one frame of
    * the table's declared `schema` (see the class doc); an empty frame
    * of `schema` when there is none.
    */
  def read(spark: SparkSession, storeDir: String, table: String,
      schema: StructType, before: Long = Long.MaxValue): DataFrame = {
    val paths = batchIds(storeDir, table, before)
      .filter(b => committed(storeDir, table, b))
      .map(path(storeDir, table, _))
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", s"$storeDir/$table")
      .parquet(paths: _*)
  }

  /** The largest committed batch id of `table` below `before`. */
  def latest(storeDir: String, table: String, before: Long): Option[Long] =
    batchIds(storeDir, table, before).sorted.reverseIterator
      .find(committed(storeDir, table, _))

  /** Delete every slice of `table` below `before`, committed or not.
    * Best effort: a file that cannot be deleted now is retried by the
    * next prune.
    */
  def prune(storeDir: String, table: String, before: Long): Unit =
    batchIds(storeDir, table, before).foreach { b =>
      val w = Files.walk(Paths.get(path(storeDir, table, b)))
      try w.iterator().asScala.toVector.reverse.foreach(p => Try(Files.delete(p)))
      finally w.close()
    }

  /** Batch ids of the `batch=<id>` entries below `before` — one listing,
    * closed before return (sinks list once per micro-batch for the
    * stream's whole life).
    */
  private def batchIds(storeDir: String, table: String,
      before: Long): Vector[Long] = {
    val root = Paths.get(storeDir, table)
    if (!Files.isDirectory(root)) Vector.empty
    else {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("batch=") =>
          Try(n.stripPrefix("batch=").toLong).toOption }
        .flatten.filter(_ < before).toVector
      finally s.close()
    }
  }

  private def committed(storeDir: String, table: String, batchId: Long): Boolean =
    hasVisibleFile(Paths.get(path(storeDir, table, batchId)))

  /** True iff `dir` holds a COMMITTED Spark write: a visible (not `_`-
    * or `.`-prefixed) file at any depth. False for a missing directory
    * and for one holding only a crashed write's `_temporary/` tree.
    */
  private[streaming] def hasVisibleFile(dir: Path): Boolean =
    Files.isDirectory(dir) && {
      val s = Files.list(dir)
      try s.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") &&
          (!Files.isDirectory(p) || hasVisibleFile(p))
      } finally s.close()
    }
}
