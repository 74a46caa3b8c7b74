package graft

import graft.operators.LinkGraph
import org.apache.spark.sql.functions.{col, lit, pmod, udf}

/** PageRank fixed points and orderings on hand-analyzable graphs. */
class LinkGraphSpec extends SparkSpec {

  test("ring graph is a fixed point: every rank stays exactly 1/N") {
    import spark.implicits._
    val ring = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val pr = LinkGraph.pageRank(ring, "src", "dst", iters = 7)
      .orderBy("node").collect().map(_.getAs[Double]("rank"))
    assert(pr.toSeq === Seq.fill(5)(0.2))
  }

  test("hub collecting all links outranks the leaves; mass is conserved") {
    import spark.implicits._
    // 0 <-> each of 1..4: node 0 has inlinks from everyone.
    val edges = ((1L to 4L).map(i => (i, 0L)) ++ (1L to 4L).map(i => (0L, i)))
      .toDF("src", "dst")
    val pr = LinkGraph.pageRank(edges, "src", "dst", iters = 12)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert((1L to 4L).forall(i => pr(0L) > pr(i)), s"hub not top: $pr")
    // outdegree >= 1 everywhere -> the ranks form a distribution.
    assert(math.abs(pr.values.sum - 1.0) < 1e-4, s"mass leaked: ${pr.values.sum}")
    // symmetric leaves tie exactly
    assert((2L to 4L).forall(i => pr(i) == pr(1L)))
  }

  test("source-only node keeps its floor rank and keeps contributing") {
    import spark.implicits._
    // 1 <-> 2 plus a source-only node 3 -> 1 (no inlinks to 3).
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val pr = LinkGraph.pageRank(edges, "src", "dst", iters = 8)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    // Node 3 must survive every iteration at the (1-d)/N floor...
    assert(pr.contains(3L), s"source-only node dropped: $pr")
    assert(pr(3L) === math.rint((1.0 - 0.85) / 3.0 * 1e6) / 1e6)
    // ...and the ranks must remain a full distribution: if node 3 (or
    // its outbound contribution) were dropped after iteration 1, mass
    // would leak and the sum would land visibly below 1.
    assert(math.abs(pr.values.sum - 1.0) < 1e-3,
      s"source-only mass leaked: ${pr.values.sum}")
  }

  test("parameter validation") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(e, "src", "dst", damping = 1.0)
    }
  }

  test("triangles: K4 gives every node 3; C5 gives none") {
    import spark.implicits._
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b))
      .toDF("src", "dst")
    val r = LinkGraph.triangleCounts(k4, "src", "dst")
      .orderBy("node").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)))
    val c5 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L))
      .toDF("src", "dst")
    assert(LinkGraph.triangleCounts(c5, "src", "dst").count() === 0)
  }

  test("triangles: direction/duplicate/self-loop insensitive, matches brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val raw = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val e = raw.toDF("src", "dst")
    // brute force on the canonical undirected simple graph
    val und = raw.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val adj = und.foldLeft(Map.empty[Long, Set[Long]]) { case (m, (a, b)) =>
      m.updated(a, m.getOrElse(a, Set.empty) + b)
        .updated(b, m.getOrElse(b, Set.empty) + a)
    }
    val expect = (for {
      (a, b) <- und.toSeq
      c <- (adj(a) intersect adj(b)) if c > b
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = LinkGraph.triangleCounts(e, "src", "dst")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === expect)
    assert(expect.nonEmpty, "fixture must contain triangles")
  }

  test("shortestPaths: min hop distances, cycles and revisits ignored") {
    import spark.implicits._
    // 1->2->3->4->6, 1->5->4 (4 reachable at hop 2 via 5 AND hop 3 via
    // 3 -> must record 2), back-edge 2->1 (must not re-add the seed),
    // disconnected 7->8 (must not appear).
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 4L),
      (4L, 6L), (2L, 1L), (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("n")
    val got = LinkGraph.shortestPaths(e, "src", "dst", seeds, "n", maxHops = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L,
      4L -> 2L, 6L -> 3L))
  }

  test("shortestPaths: maxHops bounds the frontier") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("n")
    val got = LinkGraph.shortestPaths(e, "src", "dst", seeds, "n", maxHops = 1)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L))
  }

  test("shortestPaths: multiple seeds take the nearest") {
    import spark.implicits._
    // 1->2->3 and 9->3: node 3 is 2 hops from seed 1 but 1 hop from
    // seed 9 -> dist 1.
    val e = Seq((1L, 2L), (2L, 3L), (9L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("n")
    val got = LinkGraph.shortestPaths(e, "src", "dst", seeds, "n", maxHops = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got === Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("triangle plan: keyed equi-joins only, no cartesian") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val plan = LinkGraph.triangleCounts(e, "src", "dst")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("pageRankBounded is bit-identical to the distributed pageRank " +
      "on an indegree<=2 generator graph (the q_domain_authority shape)") {
    import spark.implicits._
    // 61 of 97 residues present (the partial-residue small-SF case),
    // edges from the two injective generator maps -> indegree <= 2.
    val hosts = (0L until 97L).filter(_ % 3 != 1)
    val edges = (hosts.map(h => (h, (3 * h + 1) % 97)) ++
      hosts.map(h => (h, (7 * h + 2) % 97))).toDF("src", "dst")
    val dist = LinkGraph.pageRank(edges, "src", "dst", iters = 10)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bounded = LinkGraph.pageRankBounded(edges, "src", "dst", iters = 10)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(bounded.toSeq === dist.toSeq)
  }

  test("pageRankBounded falls back to the distributed form on " +
      "indegree > 2 and on maxNodes (r17 verdict: no API trap)") {
    import spark.implicits._
    // node 0 has indegree 3 — the driver sum's IEEE order would not be
    // replayable, so the bounded entry must route to pageRank and
    // return ITS result rather than throwing
    val dense = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L)).toDF("src", "dst")
    val viaBounded = LinkGraph.pageRankBounded(dense, "src", "dst", iters = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaDist = LinkGraph.pageRank(dense, "src", "dst", iters = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaBounded.toSeq === viaDist.toSeq)
    val ring = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val ringBounded = LinkGraph.pageRankBounded(ring, "src", "dst",
        iters = 2, maxNodes = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ringDist = LinkGraph.pageRank(ring, "src", "dst", iters = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ringBounded.toSeq === ringDist.toSeq)
  }

  test("pageRankBounded pulls at most 2 * maxNodes + 1 edge rows per task " +
      "before falling back on an over-bound graph") {
    // a 400-node ring in 4 partitions: indegree 1 everywhere, so only
    // maxNodes = 5 rules it out; every edge row a task pulls passes the
    // counting UDF. A range source, not a local Seq: the optimizer folds
    // a projection over local rows on the driver, running the UDF on
    // every row
    val pulled = spark.sparkContext.longAccumulator("edge rows pulled")
    val count = udf { (v: Long) => pulled.add(1); v }.asNondeterministic()
    val ring = spark.range(0, 400, 1, 4).select(count(col("id")).as("src"),
      pmod(col("id") + 1, lit(400L)).as("dst"))
    val bounded = LinkGraph.pageRankBounded(ring, "src", "dst",
        iters = 3, maxNodes = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the fallback's pageRank pins the edge list once: 400 more rows
    val perTask = 2 * 5 + 1
    assert(pulled.value - 400 <= 4 * perTask,
      s"${pulled.value - 400} edge rows pulled for 4 tasks of at most $perTask")
    // the upstream stays parallel: no single task reads the whole input
    assert(pulled.value - 400 > perTask,
      s"${pulled.value - 400} edge rows pulled: the bounded collect ran as one task")
    val dist = LinkGraph.pageRank(ring, "src", "dst", iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(bounded.toSeq === dist.toSeq)
  }

  test("shortestPathsBounded matches the distributed BFS rows exactly") {
    import spark.implicits._
    val hosts = (0L until 97L).filter(_ % 5 != 2)
    val edges = (hosts.map(h => (h, (3 * h + 1) % 97)) ++
      hosts.map(h => (h, (7 * h + 2) % 97))).toDF("src", "dst")
    val seeds = Seq(0L).toDF("src")
    val dist = LinkGraph.shortestPaths(edges, "src", "dst", seeds, "src", 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    val bounded = LinkGraph
      .shortestPathsBounded(edges, "src", "dst", seeds, "src", 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bounded.toSeq === dist.toSeq)
  }
}
