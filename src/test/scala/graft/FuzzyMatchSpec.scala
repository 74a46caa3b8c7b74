package graft

import graft.operators.FuzzyMatch
import org.apache.spark.sql.functions._

/** SymSpell delete-1 blocking: hand-checked matches, the losslessness
  * property against brute-force levenshtein on a seeded random
  * dictionary, precision of the verify step, and the no-cartesian plan.
  */
class FuzzyMatchSpec extends SparkSpec {

  test("hand-checked: substitution, deletion, insertion all match at dist 1") {
    import spark.implicits._
    val ents = Seq("kitten", "sitten", "kitte", "kittens", "dog")
      .toDF("name")
    val r = FuzzyMatch.matchPairs(ents, "name")
      .orderBy("name_a", "name_b")
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(r === Seq(
      ("kitte", "kitten"),   // deletion
      ("kitten", "kittens"), // insertion
      ("kitten", "sitten"))) // substitution; dist-2 pairs excluded
  }

  test("lossless vs brute force on a seeded random dictionary") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "abc" // tiny alphabet makes dist-1 collisions common
    val words = (1 to 120).map { _ =>
      (1 to (3 + rnd.nextInt(4))).map(_ => alphabet(rnd.nextInt(3))).mkString
    }.distinct
    val ents = words.toDF("name")
    val ours = FuzzyMatch.matchPairs(ents, "name")
      .select("name_a", "name_b").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val brute = ents.as("a").crossJoin(ents.as("b"))
      .filter(col("a.name") < col("b.name") &&
        levenshtein(col("a.name"), col("b.name")) <= 1)
      .select(col("a.name"), col("b.name")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(ours === brute, "delete-1 blocking must equal brute force at dist 1")
    assert(brute.nonEmpty, "fixture must actually produce matches")
  }

  test("verify step removes shared-variant false positives (ab/ba case)") {
    import spark.implicits._
    val ents = Seq("ab", "ba").toDF("name")
    // "ab" and "ba" share delete-variant "b" (and "a") but are at dist 2
    assert(FuzzyMatch.matchPairs(ents, "name").count() === 0)
  }

  test("plan is equi-join on variant, no cartesian product") {
    import spark.implicits._
    val plan = FuzzyMatch.matchPairs(Seq("x").toDF("name"), "name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
}
