package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve data layout: interleave the bits of two
  * dimension columns into one sort key so that sorting by it co-locates
  * rows that are close in BOTH dimensions — the multi-dimensional
  * clustering technique behind Delta Lake's OPTIMIZE ZORDER and
  * ClickHouse's mortonEncode, from Morton's 1966 public report.
  *
  * Why this matters at 100 TB: parquet min/max footer stats prune files
  * only along the physical sort order. A table range-sorted by one
  * column answers predicates on that column with tight file skipping
  * but reads EVERYTHING for a predicate on a second column; Z-ordering
  * bounds every file's min/max box in both dimensions at once, so
  * two-dimensional point/range predicates skip most files. ZOrderSpec
  * quantifies it: over same-size row chunks, the summed bounding-box
  * area under Z-order is a small fraction of the single-dim sort's.
  *
  * The key is pure integer Column arithmetic (shift/and/multiply —
  * whole-stage codegen, no UDF), and laying out a table is
  * `repartitionByRange(zkey) + sortWithinPartitions(zkey)`: one range
  * exchange, exactly what a plain sort costs.
  *
  * The reference (rnjane/client_data_ingester) stores products in a
  * heap table with per-tenant B-tree access (db/models.py); physical
  * layout for scan pruning is engine-provided capability.
  */
object ZOrder {

  /** Interleaved Morton key of the low `bits` bits of `x` and `y`
    * (both must be non-negative and fit in `bits` bits — wider values
    * alias by design, like any fixed-width curve; quantize first).
    * Bit i of x lands at position 2i, bit i of y at 2i+1.
    */
  def zkey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** The same interleave as portable SQL text (fully parenthesized
    * `>>`/`&`/`*`/`+` — valid in DuckDB and Spark SQL alike), so an
    * oracle can replay the exact integer arithmetic.
    */
  def zkeySql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"((($y >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString("(", " + ", ")")
}
