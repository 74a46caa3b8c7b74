package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reshape operators beyond the static forms Spark exposes directly.
  *
  * Static PIVOT (explicit value list, `q_pivot`) is the scale-safe form:
  * the output schema is known at plan time and no extra job runs. Dynamic
  * pivot — "columns = whatever values are in the data" — is what users
  * reach for first, and it is ONLY safe with a hard cap: the value set
  * becomes the output schema, so an unbounded distinct would happily try
  * to build a million-column DataFrame and flood the driver. This is the
  * same contract engines with native dynamic pivot enforce (DuckDB
  * materializes the distinct list, Snowflake caps ANY at its column
  * limit); Spark makes the two-phase nature explicit.
  */
object Reshape {

  /** Dynamic PIVOT with a documented, enforced cap.
    *
    * Phase 1 discovers the pivot values: a distinct on the pivot column
    * (one shuffle whose cardinality is the value-set size, tiny by
    * contract) collected through [[DriverRows]] with `maxValues` as the
    * bound, so each task ships at most maxValues+1 rows no matter how
    * pathological the column is. More than `maxValues` distinct values
    * aborts rather than building a wider schema than anyone intended.
    *
    * Phase 2 is a plain static pivot over the discovered list, sorted so
    * the output column order is deterministic across runs/partitionings.
    * NULL pivot values are excluded (a NULL-keyed output column has no
    * stable name in SQL engines; filter or fill upstream if NULL is a
    * real category).
    */
  def pivotDynamic(
      df: DataFrame,
      groupCols: Seq[String],
      pivotCol: String,
      aggExpr: Column,
      maxValues: Int = 100): DataFrame = {
    require(groupCols.nonEmpty, "dynamic pivot requires group columns")
    require(maxValues > 0, "maxValues must be positive")
    val discovered = DriverRows.collect(df
        .filter(col(pivotCol).isNotNull)
        .select(col(pivotCol).cast("string"))
        .distinct(), maxValues,
      s"dynamic pivot on '$pivotCol' (distinct values; raise maxValues " +
        "deliberately or use a static value list)")
      .map(_.getString(0))
    df.groupBy(groupCols.map(col): _*)
      .pivot(pivotCol, discovered.sorted.toSeq)
      .agg(aggExpr)
  }
}
