package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ONE definition of the idioms the harness mains share: full-result
  * forcing (Bench bills it, ProfQ times it), the single-run timer, and
  * up-front query-name validation — a fix to any of them lands
  * everywhere at once.
  */
private[graft] object ProfHarness {

  /** Force COMPLETE evaluation of every row and column without
    * collecting: reduce the whole frame to one bit_xor of per-row
    * xxhash64 over all columns (order-insensitive, so no sort is
    * added to the measured plan). The same reduction Bench bills.
    */
  def force(df: DataFrame): Unit = {
    val cols = df.columns.map(col).toIndexedSeq
    df.agg(bit_xor(xxhash64(struct(cols: _*)))).head()
    ()
  }

  /** Run `f` once and print `<label> run<run>: S s` — run1 carries cold
    * planning+codegen cost, later runs the warm plan cost; the gap is
    * compile overhead.
    */
  def time(label: String, run: Int)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"$label run$run: ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** `names` unchanged if every one is a SparkEntry query; otherwise
    * fails naming the unknown ones. Called before any session starts,
    * so a typo costs no Spark startup.
    */
  def queryNames(names: Seq[String]): Seq[String] = {
    val bad = names.filterNot(SparkEntry.queries.contains)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query name(s): ${bad.mkString(", ")}")
    names
  }
}
