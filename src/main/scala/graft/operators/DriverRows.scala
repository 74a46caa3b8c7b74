package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** The one bounded driver collect of the library: every data-dependent
  * `collect()` in `operators/` and `streaming/` goes through here with
  * the bound its site argues (`limit(k).collect()` chains, whose k rows
  * are bounded by construction, stay as they are).
  *
  * Each task returns at most `max + 1` rows (a per-partition
  * `take(max + 1)` on the executor side), so one row past the bound
  * proves a frame is over it without shipping the rest. The frame runs
  * as ONE action with exactly the jobs a plain `collect()` of it runs:
  * no `limit` (a CollectLimit scans partitions a few at a time, one job
  * per round), no `coalesce(1)` (which pulls the narrow work feeding it
  * into one task) and no count first.
  *
  * Worst case on the driver: `partitions * (max + 1)` rows, where
  * `partitions` is the number of tasks in the frame's final stage —
  * each task stops at `max + 1`, but the tasks run in parallel and
  * every one may reach its cap before the driver counts.
  */
object DriverRows {

  /** The rows of `df` when there are at most `max` of them, else None.
    * A bound past what one array holds caps at `Int.MaxValue - 1`.
    */
  def atMost(df: DataFrame, max: Long): Option[Array[Row]] = {
    require(max >= 0, s"row bound $max is negative")
    val cap = math.min(max, Int.MaxValue - 1L).toInt + 1
    val rows = df.mapPartitions((it: Iterator[Row]) => it.take(cap))(
      Encoders.row(df.schema)).collect()
    if (rows.length > max) None else Some(rows)
  }

  /** The rows of `df`; throws IllegalArgumentException naming `what`
    * when it has more than `max`.
    */
  def collect(df: DataFrame, max: Long, what: String): Array[Row] =
    atMost(df, max).getOrElse(throw new IllegalArgumentException(
      s"$what: more than $max rows"))
}
