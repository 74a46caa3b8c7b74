package graft.operators

import java.io.FileNotFoundException
import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one schema-less parquet reader of the query layer.
  *
  * `spark.read.parquet(path)` without a schema answers every call with a
  * file listing, a relation resolution and a one-task job that reads a
  * footer to infer the schema — ~60-70 ms warm on a 4-core box, against
  * ~6 ms for the same read with the schema given. A query that reads
  * three tables pays that floor three times per run, even though the
  * tables have not changed since the last run. [[read]] infers once per
  * table and hands the schema back to the reader from then on.
  *
  * '''Cache key.''' The qualified path plus the session's values of the
  * confs that feed parquet inference ([[inferenceConfs]]), so a session
  * that flips e.g. `nanosAsLong` before a read (`SparkEntry.events`)
  * gets the schema that setting infers, never one inferred under another.
  *
  * '''Why an entry is never stale.''' Each entry carries the listing it
  * was inferred from: the relative path, length and modification time
  * of every file Spark's own listing would read. A read lists the path
  * again (a metadata walk, no job) and reuses the schema only when that
  * listing is identical. Spark writes new part-file names on every write,
  * so a rewrite, an append or a deleted file always changes the listing
  * and the next read infers again and replaces the entry. The listing is
  * taken before inference, so a write racing the inference can only make
  * the entry miss later, never serve an old schema.
  *
  * Every call returns a fresh DataFrame (`spark.read.schema(s).parquet`),
  * never a shared one, so two reads of one table in one query keep
  * distinct expression ids and a self-join resolves as it would uncached.
  * A path that does not exist or is a glob is read uncached, so Spark
  * raises its own error or expands the pattern.
  *
  * A site that reads back a table it has just written gains nothing here
  * (the write's new part names always miss); [[overwrite]] reads it back
  * with the schema of the frame it wrote instead.
  */
object TableReads {

  /** Session confs whose values change the schema parquet inference
    * returns for one set of files.
    */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** Tables whose schema one JVM keeps; the least recently read goes
    * first. A suite reads a few dozen tables and standing artifacts.
    */
  private val maxEntries = 512

  private final case class Key(path: String, confs: Seq[Option[String]])
  private final case class Entry(listing: Seq[(String, Long, Long)], schema: StructType)

  private val schemas = new JLinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: JMap.Entry[Key, Entry]): Boolean =
      size() > maxEntries
  }

  /** `spark.read.parquet(path)`, inferring the schema only when the
    * table's files or the inference confs changed since the last read.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    listing(fs, root) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = Key(root.toString, inferenceConfs.map(spark.conf.getOption))
        schemas.synchronized(Option(schemas.get(key))).filter(_.listing == files) match {
          case Some(e) => spark.read.schema(e.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, Entry(files, df.schema)))
            df
        }
    }
  }

  /** Overwrites `path` with `df` and returns a read of the written table
    * under `df`'s schema — the schema inference would find, without the
    * footer job.
    */
  def overwrite(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** (path relative to `root`, length, modification time) of every file
    * under `root` that Spark lists for a read, sorted; None when `root`
    * does not exist (a glob included).
    */
  private def listing(fs: FileSystem, root: Path): Option[Seq[(String, Long, Long)]] = {
    val prefix = root.toString
    def walk(dir: Path): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.filter(st => visible(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq((st.getPath.toString.stripPrefix(prefix), st.getLen, st.getModificationTime))
      }
    try {
      val st = fs.getFileStatus(root)
      Some(if (st.isDirectory) walk(root).sortBy(_._1)
        else Seq(("", st.getLen, st.getModificationTime)))
    } catch { case _: FileNotFoundException => None }
  }

  /** Spark's hidden-file rule for data source listings
    * (`HadoopFSUtils.shouldFilterOutPathName`).
    */
  private def visible(name: String): Boolean = {
    val hidden = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    !hidden || name.startsWith("_common_metadata") || name.startsWith("_metadata")
  }
}
