package graft

import graft.operators.GlobalIndex
import org.apache.spark.sql.functions._

/** Split-points + offsets global numbering: equivalence with the
  * single-reducer formulation it replaces.
  */
class GlobalIndexSpec extends SparkSpec {

  test("global index equals row_number()-1 over the total order") {
    import spark.implicits._
    // deliberately unsorted, non-contiguous keys across partitions
    val df = Seq(42L, 7L, 1000L, 3L, 99L, 500L, 8L, 1L)
      .toDF("k").repartition(4)
    val got = GlobalIndex.withGlobalIndex(df, Seq("k"), buckets = 3)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("global_idx"))
      .toMap
    val expected = Seq(1L, 3L, 7L, 8L, 42L, 99L, 500L, 1000L)
      .zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(got === expected)
  }

  test("index is contiguous and bucket-count independent") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i * 13) % 997).distinct.toDF("k")
    val n = df.count()
    Seq(1, 4, 64).foreach { b =>
      val idx = GlobalIndex.withGlobalIndex(df, Seq("k"), buckets = b)
        .select("global_idx").collect().map(_.getLong(0)).sorted
      assert(idx.toSeq === (0L until n).toSeq, s"buckets=$b")
    }
  }

  test("secondary order columns break primary ties deterministically") {
    import spark.implicits._
    val df = Seq((1L, "b"), (1L, "a"), (2L, "z"), (0L, "q"))
      .toDF("k", "s")
    val got = GlobalIndex.withGlobalIndex(df, Seq("k", "s"), buckets = 2)
      .orderBy("global_idx")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("s")))
    assert(got.toSeq === Seq((0L, "q"), (1L, "a"), (1L, "b"), (2L, "z")))
  }
}
