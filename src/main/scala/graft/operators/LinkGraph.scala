package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — the classic PageRank iteration as
  * pure DataFrame algebra. In a crawl-curation pipeline the host link
  * graph ranks domains by authority, and that score becomes a quality
  * prior when sampling training data (the public common-crawl curation
  * recipe: authority-weighted inclusion before content-level filters).
  *
  * The formulation is the simplified one from the canonical Spark
  * example (rank = (1-d)/N + d * sum(inbound rank/outdeg), no explicit
  * dangling-mass redistribution) — callers feeding graphs with dangling
  * nodes should add a self-loop or accept the leaked mass; the gated
  * query synthesizes a graph where every node has outdegree 2, so no
  * mass leaks and the scores converge to a proper distribution.
  *
  * Scale shape per iteration: ranks (node-cardinality) equi-join edges
  * on src — a keyed shuffle join whose big side is the EDGE list, never
  * node x node — then one dst-keyed aggregate with map-side combine.
  * The damping constants are computed with the same IEEE double
  * operations an external checker writes down, so fixed-iteration runs
  * are engine-reproducible after rounding. Lineage is cut with
  * localCheckpoint every few rounds (the connectedComponents hygiene:
  * iterative plans otherwise stack exponentially for Catalyst).
  */
object LinkGraph {

  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 10,
      damping: Double = 0.85,
      roundTo: Int = 6): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint() // loop: the edge list every iteration reads
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      // loop: every iteration's rank rebuild left-joins against the
      // full node set, so without pinning it the union+distinct shuffle
      // replays inside every materialization (once per non-checkpointed
      // iteration folded into each checkpoint's plan)
      .localCheckpoint()
    // Node count is a bounded driver scalar (graph order, not corpus
    // size) — the standard PageRank initialization needs it. It also
    // drives the per-iteration join strategy below: the measured count
    // is exact, unlike the planner's post-aggregate estimates.
    val nLong = nodes.count()
    val n = nLong.toDouble
    // Degree-annotated edges, built ONCE: outdeg is rank-independent,
    // but joined lazily inside the loop it re-ran the groupBy over the
    // full edge list every iteration (iters extra aggregates + their
    // exchanges for nothing — on a vocabulary-scale co-occurrence
    // graph that is iters corpus-derived shuffles).
    val e2 = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint() // loop: every iteration reads it
    // Rebuild-join strategy (r18, §3.1): the loop's rebuild left-joins
    // the checkpointed node set against the node-sized contribution
    // table, and the planner's post-aggregate estimate picked a
    // sort-merge join — an exchange + sort of BOTH node tables per
    // iteration. The measured node count is exact, so when it is
    // broadcastable the contribution side is hinted and the rebuild
    // becomes a scan of `nodes` probing a node-sized broadcast: no
    // exchange, no sorts. (The contribution join itself is left to the
    // planner: a fresh broadcast of the ranks side per iteration was
    // measured SLOWER than its choice — the e2 broadcast canonicalizes
    // identically across iterations inside one plan segment, so it
    // builds once, while per-iteration rank broadcasts cannot reuse.)
    // Graphs past the broadcast bound keep the keyed-join form.
    val nodeBcast = nLong <= 1000000L
    def nodeSide(df: DataFrame): DataFrame =
      if (nodeBcast) broadcast(df) else df
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      // Past the broadcast bound, forbid the planner's edge-list
      // broadcast: a checkpointed RDD scan carries no size statistics,
      // so the contribution join was planned BuildLeft over e2 at ANY
      // graph size — at crawl scale that is a driver collect of the
      // whole edge list (and an 8 GB broadcast-cap failure). The
      // shuffle_hash hint on the rank side keeps it a keyed join whose
      // per-partition build is the NODE table slice.
      val rankSide = ranks.withColumnRenamed("node", "src")
      val contribs = e2
        .join(if (nodeBcast) rankSide else rankSide.hint("shuffle_hash"),
          "src")
        .select(col("dst"),
          (col("rank") / col("deg").cast("double")).as("_c"))
        .groupBy(col("dst"))
        .agg(sum(col("_c")).as("_s"))
        .withColumnRenamed("dst", "node")
      // Left-join against the FULL node set: a node with outlinks but
      // no inlinks receives no contribution, yet must keep its
      // (1-d)/N floor and keep CONTRIBUTING — dropping it (the naive
      // groupBy(dst) result) silently deletes its outbound mass from
      // every later iteration.
      ranks = nodes
        .join(nodeSide(contribs), Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("_s"), lit(0.0))).as("rank"))
      if (i % 3 == 0) ranks = ranks.localCheckpoint() // loop: lineage cut
    }
    ranks.select(col("node"), round(col("rank"), roundTo).as("rank"))
  }

  /** [[pageRank]] for DOMAIN-bounded graphs: identical arithmetic, run
    * as a driver-side power iteration over the collected edge list.
    *
    * Motivation (optimization round): each distributed iteration is a
    * join + aggregate + rebuild — 3-4 serial query stages — so a
    * 10-iteration run on a graph of a few hundred nodes spends its
    * whole wall-clock on stage scheduling (measured: q_domain_authority
    * 51 Spark jobs, ~1.3 s at sf0.1, on a 97-node graph). A host graph
    * is DOMAIN-sized by construction (hosts, not pages), the same
    * bounded-driver-state argument as the centroid and panel pulls —
    * collecting it is O(hosts), corpus-scale work (building `edges`)
    * stays distributed in the caller.
    *
    * Bit-parity contract with [[pageRank]]: same constants, same
    * per-edge rank/deg division, same (1-d)/N floor for contribution-
    * less nodes, same final HALF_UP rounding. Per-node contribution
    * sums are IEEE-order-sensitive in general, so this path REQUIRES
    * per-node indegree <= 2 (two doubles sum identically in either
    * order; Spark's sum starts at the first value, not 0.0). A graph
    * with a denser node or more than `maxNodes` nodes falls back to the
    * distributed form. `maxNodes` bounds driver state: a graph that
    * qualifies has at most 2 * `maxNodes` edge rows (every indegree is
    * <= 2), so the edge list is collected through [[DriverRows.atMost]]
    * with that bound and a longer one takes the fallback.
    */
  def pageRankBounded(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 10,
      damping: Double = 0.85,
      roundTo: Int = 6,
      maxNodes: Int = 100000): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val spark = edges.sparkSession
    val bounded = DriverRows.atMost(edges
      .select(col(srcCol).cast("long"), col(dstCol).cast("long")), 2L * maxNodes)
    val es: Array[(Long, Long)] = bounded.getOrElse(Array.empty[Row])
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes: Array[Long] = (es.map(_._1) ++ es.map(_._2)).distinct
    val indeg = scala.collection.mutable.HashMap.empty[Long, Int]
    es.foreach { case (_, d) => indeg.update(d, indeg.getOrElse(d, 0) + 1) }
    // AUTO-FALLBACK, not a throw (r17 verdict item 2: the guards made
    // this an API trap on any realistic host graph): graphs past the
    // driver bound or with indegree > 2 (where the driver contribution
    // sum's IEEE order would not match the distributed aggregate's)
    // route to the distributed form — same constants, same rounding.
    // Callers that need the bounded path's job-count win keep it
    // exactly when its bit-parity contract actually holds.
    if (bounded.isEmpty || nodes.length > maxNodes ||
        indeg.valuesIterator.exists(_ > 2))
      return pageRank(edges, srcCol, dstCol, iters, damping, roundTo)
        .orderBy(col("node"))
    val n = nodes.length.toDouble
    val outdeg = scala.collection.mutable.HashMap.empty[Long, Int]
    es.foreach { case (s, _) => outdeg.update(s, outdeg.getOrElse(s, 0) + 1) }
    var ranks = nodes.map(v => v -> (1.0 / n)).toMap
    val floor = (1.0 - damping) / n
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.HashMap.empty[Long, Double]
      es.foreach { case (s, d) =>
        val c = ranks(s) / outdeg(s).toDouble
        // <= 2 addends per key: first value seeds (Spark's sum starts
        // at the first input, not 0.0), the second adds — commutative,
        // so any edge order reproduces the distributed sum exactly
        sums.update(d, sums.get(d).map(_ + c).getOrElse(c))
      }
      ranks = nodes.map(v =>
        v -> (floor + damping * sums.getOrElse(v, 0.0))).toMap
    }
    // the same HALF_UP double rounding Spark's round(col, n) performs
    def rnd(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
    spark.createDataFrame(nodes.sorted.map(v => (v, rnd(ranks(v)))).toSeq)
      .toDF("node", "rank")
  }

  /** Bounded-hop BFS shortest paths from a seed set — the
    * crawl-frontier / domain-neighborhood query: which hosts are
    * reachable from the trusted seeds within k hops, and at what
    * minimum distance. Seed-anchored distance is the standard
    * trust-propagation prior (the public TrustRank recipe seeds its
    * PageRank the same way), and "within k hops of a known-good hub"
    * is a common crawl-scope rule.
    *
    * Level-synchronous frontier expansion: iteration i joins ONLY the
    * nodes first reached at distance i-1 (the frontier) against the
    * edge list — never the whole visited set — then an anti-join drops
    * already-visited nodes, so each edge is traversed at most once per
    * endpoint discovery and total work is O(edges within the k-hop
    * ball), the textbook distributed-BFS bound. Every join is a keyed
    * equi-join on node ids (the big side is always the EDGE list);
    * lineage is cut with localCheckpoint per level (the
    * connected-components hygiene — iterative plans otherwise stack
    * exponentially in Catalyst).
    *
    * Output: (node, dist) for every node reachable within `maxHops`,
    * dist = exact minimum hop count (seeds at 0).
    */
  def shortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint() // loop: the edge list every level joins
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint() // loop: every level reads it
    var frontier = visited
    var i = 1
    var exhausted = false
    while (i <= maxHops && !exhausted) {
      val reached = frontier
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
      frontier = reached
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(i.toLong))
        .localCheckpoint() // loop: per-level lineage cut
      // early exit at the true eccentricity: an exhausted frontier can
      // never repopulate, and each further hop would still launch real
      // jobs (localCheckpoint is eager) over empty data. The isEmpty
      // probe reads the just-checkpointed frontier — one cheap action.
      if (frontier.isEmpty) exhausted = true
      else visited = visited.unionAll(frontier).localCheckpoint() // loop: lineage cut
      i += 1
    }
    visited
  }

  /** [[shortestPaths]] for DOMAIN-bounded graphs: the same level-
    * synchronous BFS run driver-side over the collected edge list —
    * all-integer arithmetic (hop counts), so unlike
    * [[pageRankBounded]] there is no ordering caveat at all: min-hop
    * distances are unique regardless of traversal order. Motivation is
    * identical (each distributed level is join + anti-join +
    * checkpoint — serial stages that dominate wall-clock on a
    * host-sized graph; measured 33 jobs for a 97-node 4-hop BFS).
    * `maxNodes` bounds the node set the driver iterates over and fails
    * loud past it. Nothing limits the degree here (unlike
    * [[pageRankBounded]]), so the only edge bound a node bound implies
    * is `maxNodes`² (every ordered pair, self-loops included; duplicate
    * edge rows count against it), and the seed set is at most
    * `maxNodes`: both collects fail loud past those bounds.
    */
  def shortestPathsBounded(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      maxNodes: Int = 100000): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val spark = edges.sparkSession
    val es: Array[(Long, Long)] = DriverRows.collect(edges
        .select(col(srcCol).cast("long"), col(dstCol).cast("long")), maxNodes.toLong * maxNodes,
      s"shortestPathsBounded edge list (maxNodes=$maxNodes)")
      .map(r => (r.getLong(0), r.getLong(1)))
    val nNodes = (es.map(_._1) ++ es.map(_._2)).distinct.length
    require(nNodes <= maxNodes,
      s"shortestPathsBounded: $nNodes nodes exceeds maxNodes=$maxNodes — " +
        "use the distributed shortestPaths for graphs this large")
    val adj = es.groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
    val seedIds: Array[Long] = DriverRows.collect(
        seeds.select(col(seedCol).cast("long")).distinct(), maxNodes,
        s"shortestPathsBounded seeds (maxNodes=$maxNodes)")
      .map(_.getLong(0))
    val dist = scala.collection.mutable.HashMap.empty[Long, Long]
    seedIds.foreach(dist.update(_, 0L))
    var frontier: Array[Long] = seedIds
    var i = 1L
    while (i <= maxHops && frontier.nonEmpty) {
      frontier = frontier
        .flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .distinct.filterNot(dist.contains)
      frontier.foreach(dist.update(_, i))
      i += 1
    }
    spark.createDataFrame(dist.toSeq.sorted).toDF("node", "dist")
  }

  /** Per-node triangle counts by the degree-ordered wedge algorithm
    * (Latapy's compact-forward, public literature): canonicalize to
    * undirected distinct edges, orient every edge from its lower
    * (degree, id) endpoint to the higher, build wedges only at each
    * node's OUT-neighbors, and close them against the canonical edge
    * set. Each triangle has exactly one apex whose two edges both point
    * out (its minimum in the (degree, id) total order), so it is found
    * exactly once, then credited to all three corners.
    *
    * Why not the naive 3-way self-join: its wedge stage is Σ deg² over
    * RAW degrees — a celebrity node with 10M neighbors contributes
    * 10^14 wedges. Degree-ordering bounds out-degree by O(√m), so the
    * wedge join is Σ outdeg² = O(m^1.5) worst case and far less on
    * power-law graphs — the difference between feasible and not at
    * crawl scale. All joins are keyed equi-joins; no driver state.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      // reuse: read by the degree aggregate, the orientation join, and
      // the wedge-closing join — canonicalize once. Unpinned, the
      // join-inferred isnotnull filters push below the distinct into
      // each reader, so no exchange is shared and the source scan and
      // its aggregates run once per reader: q_triangle_count 0.47 s
      // pinned vs 1.20 s unpinned (sf0.1 ProfQ, warm medians of 3 JVMs
      // a side)
      .localCheckpoint()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient each edge from lower (deg, id) to higher (deg, id)
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("from"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("to"))
      // reuse: both wedge sides read the oriented edges — orient once.
      // Unpinned, the second side reads the degree aggregate through a
      // ReusedExchange and ProfQ at sf0.1 shows a wash (0.677 s pinned
      // vs 0.674 s), but q_triangle_count lost in Bench sf0.1 (0.476 vs
      // 0.497 s) and in pipeline_suite at sf0.001 (475 vs 512 ms,
      // slower in 5 of 6 pairs)
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.from") === col("e2.from") && col("e1.to") < col("e2.to"))
      .select(col("e1.from").as("u"),
        least(col("e1.to"), col("e2.to")).as("va"),
        greatest(col("e1.to"), col("e2.to")).as("vb"))
    val triangles = wedges
      .join(und, col("va") === col("a") && col("vb") === col("b"))
      .select(col("u"), col("va"), col("vb"))
    triangles
      .select(explode(array(col("u"), col("va"), col("vb"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
