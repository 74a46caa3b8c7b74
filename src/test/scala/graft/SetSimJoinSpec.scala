package graft

import graft.operators.{Dedup, SetSimJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Prefix-filtered exact set-similarity join, through the production
  * halves (prefix build, then candidates + verify) the set-similarity
  * gates run: brute-force differential (the losslessness proof),
  * exact-twin and boundary semantics, shingle sets, the stop-token cap,
  * and the no-all-pairs plan shape.
  */
class SetSimJoinSpec extends SparkSpec {

  private def brute(
      docs: Seq[(Long, Set[String])],
      t: Double): Set[(Long, Long, Long)] =
    (for {
      (ia, sa) <- docs
      (ib, sb) <- docs if ia < ib
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= t
    } yield (ia, ib, inter.toLong)).toSet

  private def tokensDf(docs: Seq[(Long, Set[String])]) = {
    import spark.implicits._
    docs.flatMap { case (id, s) => s.map(w => (id, w)) }.toDF("id", "w")
  }

  private def join(tokens: DataFrame, t: Double): DataFrame =
    SetSimJoin.selfJoinFromPrefix(tokens, SetSimJoin.prefixTable(tokens, t), t)

  private def joinCapped(tokens: DataFrame, t: Double, maxDf: Int): DataFrame =
    join(SetSimJoin.capTokens(tokens, maxDf), t)

  test("matches brute force on clustered near-threshold sets") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"w$i")
    // Clusters of mutated copies of a base set — most pairs land close
    // to the 0.5 threshold, exercising both sides of the boundary.
    val docs = (0 until 40).flatMap { c =>
      val base = rnd.shuffle(vocab).take(8 + rnd.nextInt(8)).toSet
      (0 until 3).map { v =>
        val drop = base.take(rnd.nextInt(4))
        val add = rnd.shuffle(vocab).take(rnd.nextInt(4)).toSet
        ((c * 3 + v).toLong, base -- drop ++ add)
      }
    }
    val got = join(tokensDf(docs), 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expect = brute(docs, 0.5)
    assert(got === expect)
    assert(expect.size > 20,
      s"only ${expect.size} qualifying pairs - fixture too thin")
  }

  test("exact twins score 1.0; the >= boundary includes exact-threshold pairs") {
    val docs = Seq(
      1L -> Set("a", "b", "c", "d"),
      2L -> Set("a", "b", "c", "d"), // twins
      3L -> Set("a", "b", "c", "x", "y", "z"), // inter 3, union 7 vs doc 1
      4L -> Set("a", "b", "e", "f")) // inter 2, union 6 vs doc 1 -> 1/3
    val rows = join(tokensDf(docs), 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    assert(rows((1L, 2L)) === 1.0)
    assert(!rows.contains((1L, 3L)) && !rows.contains((1L, 4L)))
    // Exactly-at-threshold pair: {a,b,c,d} vs {a,b,e,f} at t = 1/3
    val third = join(tokensDf(docs), 1.0 / 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    assert(third((1L, 4L)) === 1.0 / 3)
  }

  test("shingle wrapper: shifted twin qualifies, unrelated text does not") {
    import spark.implicits._
    val body = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, body),
      (2L, s"pre $body"), // one leading word: shingle sets nearly equal
      (3L, (100 to 130).map(i => s"tok$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = join(Dedup.shingles(df, "text", "doc_id", 3)
        .select(col("id"), col("shingle").as("w")), 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got === Set((1L, 2L)))
  }

  test("capped join: stop tokens leave the universe on BOTH sides of the metric") {
    import spark.implicits._
    // "stop" appears in every doc (df 4 > cap 2); the pair (1,2) shares
    // {stop, x, y} of {stop, x, y, u1|u2}. Uncapped J = 3/5 = 0.6;
    // capped universe drops "stop" for EVERYONE: J = 2/4 = 0.5.
    val docs = Seq(
      1L -> Seq("stop", "x", "y", "u1"),
      2L -> Seq("stop", "x", "y", "u2"),
      3L -> Seq("stop", "p", "q", "r"),
      4L -> Seq("stop", "m", "n", "o")).flatMap { case (id, ws) =>
      ws.map(w => (id, w))
    }.toDF("id", "w")
    val capped = joinCapped(docs, 0.5, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(capped.keySet === Set((1L, 2L)))
    assert(capped((1L, 2L)) === ((2L, 0.5)))
    // uncapped sees the extra shared stop token
    val uncapped = join(docs, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(uncapped((1L, 2L)) === 3L)
    // a doc whose every token is capped away simply drops out
    val all = Seq((1L, "s"), (2L, "s"), (3L, "s")).toDF("id", "w")
    assert(joinCapped(all, 0.5, maxDf = 2).isEmpty)
  }

  test("capped join matches brute force over the retained universe (seeded Zipf)") {
    val rnd = new scala.util.Random(23)
    // Zipf-ish vocabulary: a handful of near-ubiquitous head tokens
    // (guaranteed over any reasonable cap) over a long discriminative
    // tail — the natural-corpus shape the cap is designed for.
    val head = (0 until 5).map(i => s"head$i")
    val tail = (0 until 80).map(i => s"tail$i")
    // clusters of mutated copies (the first differential's recipe) so
    // retained-universe similarities land on both sides of the 0.5 bar
    val docs = (0 until 20).flatMap { c =>
      val base = rnd.shuffle(tail).take(6 + rnd.nextInt(5)).toSet
      (0 until 3).map { v =>
        val hs = head.filter(_ => rnd.nextDouble() < 0.8).toSet
        val drop = base.take(rnd.nextInt(3))
        val add = rnd.shuffle(tail).take(rnd.nextInt(3)).toSet
        ((c * 3 + v).toLong, hs ++ (base -- drop ++ add))
      }
    }
    val maxDf = 12
    // brute force on the RETAINED universe: drop tokens with corpus df
    // > maxDf from every set first, then exact Jaccard — the metric
    // capTokens' scaladoc promises
    val df = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val retained = docs.map { case (id, s) => (id, s.filter(df(_) <= maxDf)) }
      .filter(_._2.nonEmpty)
    val expect = brute(retained, 0.5)
    val got = joinCapped(tokensDf(docs), 0.5, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expect)
    // the fixture must actually exercise the cap and keep real pairs
    assert(head.forall(h => df(h) > maxDf), "head tokens must exceed the cap")
    assert(expect.nonEmpty, "fixture produced no qualifying pairs")
  }

  test("float-boundary threshold (0.07): qualifying pair at exactly J = t survives") {
    // IEEE: 100 * 0.07 = 7.000000000000001, so an unslacked
    // ceil(n*t) shortens doc 2's prefix by one position AND the length
    // filter rejects min=7 >= max*t — both previously dropped this
    // qualifying pair before the exact verify. |a| = 7 ⊂ |b| = 100:
    // J = 7/100 = 0.07 exactly; the 93 unique fillers (df 1) sort
    // BEFORE the shared tokens (df 2), so the shared tokens sit at the
    // very end of b's prefix window — the worst case for the bound.
    val shared = (1 to 7).map(i => s"s$i").toSet
    val fillers = (8 to 100).map(i => f"u$i%03d").toSet
    val docs = Seq(1L -> shared, 2L -> (shared ++ fillers))
    val got = join(tokensDf(docs), 0.07)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((1L, 2L, 7L, 0.07)),
      s"boundary pair lost to float rounding: $got")
  }

  test("plan: prefix equi-join only - no cartesian, no nested-loop join") {
    val docs = Seq(1L -> Set("a", "b"), 2L -> Set("b", "c"))
    val plan = join(tokensDf(docs), 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
