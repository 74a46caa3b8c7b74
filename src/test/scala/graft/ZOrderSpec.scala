package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** Morton key: hand-checked bit interleave, Column-vs-portable-SQL
  * parity, the pruning win over a single-dimension sort, and the layout
  * plan shape.
  */
class ZOrderSpec extends SparkSpec {

  test("hand-checked Morton values") {
    import spark.implicits._
    val r = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 1L), (2L, 3L))
      .toDF("x", "y")
      .select(ZOrder.zkey(col("x"), col("y"), 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(x,y): bit i of x -> 2i, bit i of y -> 2i+1
    assert(r === Seq(0L, 1L, 2L, 3L, 7L, 14L))
  }

  test("Column form and portable SQL text produce identical keys") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong * 7 % 101, i.toLong * 13 % 89))
      .toDF("x", "y")
    val diff = df.select(
      ZOrder.zkey(col("x"), col("y"), 16).as("a"),
      expr(ZOrder.zkeySql("x", "y", 16)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("z-order prunes a 2-D predicate far better than a 1-D sort") {
    import spark.implicits._
    // full 128x128 grid; chunks of 512 rows model parquet row groups
    val grid = (for { x <- 0 until 128; y <- 0 until 128 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    def chunksHit(sorted: org.apache.spark.sql.DataFrame): Long = {
      sorted.withColumn("chunk",
          expr("(row_number() over (order by k) - 1) div 512"))
        .groupBy("chunk")
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        // chunk's min/max box intersects predicate x<32 && y<4 ?
        .filter(col("x0") < 32 && col("y0") < 4)
        .count()
    }
    val zHit = chunksHit(grid.withColumn("k",
      ZOrder.zkey(col("x"), col("y"), 7)))
    val xHit = chunksHit(grid.withColumn("k", col("x") * 1024 + col("y")))
    // x<32,y<4 cells all have z < 512 -> exactly one z chunk;
    // the x-sort must read every chunk whose x-range overlaps: 8 of 32
    assert(zHit === 1L, s"z-order should isolate the box, hit $zHit")
    assert(xHit >= 8L, s"1-D sort should hit >=8 chunks, hit $xHit")
  }
}
