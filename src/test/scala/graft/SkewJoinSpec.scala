package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Salted join == plain join on skewed data, for inner and left shapes. */
class SkewJoinSpec extends SparkSpec {

  private def fixtures = {
    import spark.implicits._
    // key 1 owns 90% of the rows (the hot key); key 99 misses the dim
    val big = ((1 to 900).map(i => (1L, s"row$i")) ++
      (1 to 50).map(i => ((i % 5 + 2).toLong, s"tail$i")) :+ (99L, "orphan"))
      .toDF("k", "payload")
    val small = (1L to 6L).map(k => (k, s"dim$k")).toDF("k", "name")
    (big, small)
  }

  test("inner salted join matches plain inner join") {
    val (big, small) = fixtures
    val plain = big.join(small, Seq("k"), "inner")
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), "inner", factor = 8)
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("left salted join keeps probe misses exactly once") {
    val (big, small) = fixtures
    val plain = big.join(small, Seq("k"), "left")
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), "left", factor = 8)
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
    assert(salted.filter(col("k") === 99).count() === 1)
  }

  test("salt spreads the hot key across many join partitions") {
    val (big, small) = fixtures
    // every hot-key row still appears exactly once post-join...
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), "inner", factor = 8)
    assert(salted.filter(col("k") === 1).count() === 900)
    // ...and the hot key's rows hash to many distinct salt values (the
    // same deterministic salt formula the join uses)
    val spread = big.filter(col("k") === 1)
      .select(pmod(hash(col("payload")), lit(8)).as("s"))
      .distinct().count()
    assert(spread >= 6, s"hot key only spread across $spread of 8 salts")
  }
}
