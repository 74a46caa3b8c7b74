package graft

import graft.operators.CountMin
import org.apache.spark.sql.functions._

/** Count-Min: never-undercount, bounded overcount on a skewed stream,
  * exact shard-mergeability, partitioning-insensitivity, and bounded
  * sketch size.
  */
class CountMinSpec extends SparkSpec {

  // Zipf-ish skew: key k appears ~ 2000/k times, keys 1..50
  private def skewed = {
    import spark.implicits._
    (1 to 50).flatMap(k => Seq.fill(2000 / k)(k.toLong)).toDF("k")
  }

  test("estimates never undercount and overcount stays within e*N/w") {
    val df = skewed
    val n = df.count()
    val cms = CountMin.sketch(df, "k", width = 256)
    val r = CountMin.estimate(cms, df, "k", width = 256)
      .join(df.groupBy("k").agg(count(lit(1)).as("exact")), "k")
      .collect()
    assert(r.length === 50)
    r.foreach { row =>
      val (est, exact) = (row.getAs[Long]("est"), row.getAs[Long]("exact"))
      assert(est >= exact, s"undercount at k=${row.getAs[Long]("k")}")
      assert(est - exact <= math.ceil(math.E * n / 256).toLong,
        s"overcount ${est - exact} beyond eN/w at k=${row.getAs[Long]("k")}")
    }
  }

  test("sketch is partitioning-insensitive and bounded by depth x width") {
    val df = skewed
    val a = CountMin.sketch(df.repartition(1), "k", width = 64)
    val b = CountMin.sketch(df.repartition(13), "k", width = 64)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    assert(a.count() <= 4L * 64)
  }
}
