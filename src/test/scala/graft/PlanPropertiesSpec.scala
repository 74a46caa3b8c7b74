package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine-checked plan properties for the headline queries — the scale
  * claims in SCALE.md as assertions, not prose: filters reach the scan,
  * dimension joins broadcast, top-k compiles to TakeOrderedAndProject
  * (never a full sort), and the Bloom probe sits in the plan as a
  * scan-side filter. These run against the sf0.001 testdata so the plan
  * shapes (not timings) are what is pinned.
  */
class PlanPropertiesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("tenant filter is pushed into the parquet scan") {
    val plan = planOf("q_filter_tenant")
    assert(plan.contains("PushedFilters: ["), s"no pushdown section:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*(GreaterThan|EqualTo|IsNotNull)[^\\]]*\\].*"),
      s"tenant predicate did not reach the scan:\n$plan")
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val plan = planOf("q_join_fk")
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("Q3 shape: date filters reach the scans, top-10 is TakeOrdered") {
    val plan = planOf("q_top_unshipped")
    assert(plan.contains("TakeOrderedAndProject"),
      s"full sort instead of top-k:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*(LessThan|GreaterThan)[^\\]]*\\].*"),
      s"date predicates did not reach a scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"segment customer set not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"degenerate join:\n$plan")
  }

  test("star join broadcasts the tiny dims and never goes nested-loop") {
    val plan = planOf("q_star_join")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"degenerate join:\n$plan")
  }

  test("ranked pagination compiles to TakeOrderedAndProject, not a full sort") {
    val plan = planOf("q_rank_paginate")
    assert(plan.contains("TakeOrderedAndProject"), s"full sort instead of top-k:\n$plan")
  }

  test("brute-force ANN top-k avoids a global sort") {
    val plan = planOf("q_embed_topk")
    assert(plan.contains("TakeOrderedAndProject"), s"ANN baseline does a full sort:\n$plan")
  }

  test("filtered vector search pushes the metadata predicate to the scan") {
    val plan = planOf("q_embed_filtered")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(label[^\\]]*\\].*"),
      s"label IN (...) did not reach the parquet scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"filtered search does a full sort:\n$plan")
  }

  test("bloom semi-join carries the might_contain probe as a filter") {
    val plan = planOf("q_bloom_semi")
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    // the exact semi-join still guards semantics after the prefilter
    assert(plan.contains("LeftSemi"), s"exact semi-join missing:\n$plan")
  }

  test("projection pruning: token counting reads only the needed columns") {
    val df = SparkEntry.queries("q_token_count")(spark, sf)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val docScan = scans.find(_.contains("documents")).getOrElse(fail("no documents scan"))
    assert(docScan.contains("doc_id") && docScan.contains("text"))
    assert(!docScan.matches("(?s).*ReadSchema:[^\\n]*embedding.*"),
      "scan reads columns the query never uses")
    assert(!docScan.matches("(?s).*ReadSchema:[^\\n]*lang.*"),
      "scan reads columns the query never uses")
  }

  test("point lookup prunes to a single-key pushed filter") {
    val plan = planOf("q_point_lookup")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo[^\\]]*\\].*"),
      s"point predicate not pushed:\n$plan")
  }

  test("whole-stage codegen covers the text-stats hot path") {
    val df: DataFrame = SparkEntry.queries("q_text_stats")(spark, sf)
    // AQE finalizes (and prints codegen stars for) the plan only after
    // execution, so run the query before inspecting it.
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no WholeStageCodegen spans:\n$plan")
  }

  test("overlap chunking is pure per-row generate — zero exchanges") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = graft.operators.TextAnalysis.chunkWords(
      spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id", 50, 10)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: Exchange => e
    }
    assert(exchanges.isEmpty,
      s"chunking shuffles:\n${df.queryExecution.executedPlan}")
  }

  test("snapshot diff moves hashes through ONE join, never document text") {
    val a = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.SnapshotDiff.diff(a, a, "doc_id", "text")
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1, s"expected one join:\n$plan")
    // no join input carries the raw text column — only id + fingerprint
    joins.head.children.foreach { side =>
      assert(!side.output.exists(_.name == "text"),
        s"document text crosses the join:\n$plan")
    }
  }

  test("expectations row-level suite is one aggregate over one scan") {
    import graft.operators.Expectations._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.operators.Expectations.validate(docs, Seq(
      RowCountAtLeast(1), Complete("text"), InRange("n_chars", 1, 100000)))
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size === 1, s"expected one aggregate:\n${df.queryExecution.optimizedPlan}")
  }

  test("unigram LM scores the corpus stream with broadcast joins only") {
    val plan = planOf("q_unigram_lm")
    // The bounded vocabulary and 1-row totals broadcast; the
    // corpus-sized occurrence stream must never shuffle on the word.
    assert(plan.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"occurrence stream shuffled for a join:\n$plan")
  }

  test("temperature resampling joins the corpus against a broadcast rate table") {
    val plan = planOf("q_temperature_sample")
    assert(plan.contains("BroadcastHashJoin"), s"rates not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for rates:\n$plan")
  }

  test("boilerplate strip: AQE picks a broadcast anti-join at this scale") {
    // the broadcast is no longer FORCED (the boilerplate set is only
    // small relative to the corpus, not unconditionally small — a
    // forced hint would OOM instead of falling back at 100 TB), so the
    // strategy is AQE's runtime choice: execute, then assert the
    // finalized plan broadcast the measured-tiny set here
    val df = SparkEntry.queries("q_boilerplate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*BroadcastHashJoin[^\\n]*LeftAnti.*"),
      s"boilerplate set not broadcast by AQE at gate scale:\n$plan")
  }

  test("URL dedup windows on the canonical key, no join anywhere") {
    val df = SparkEntry.queries("q_dedup_url")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("row_number()"), s"argmax window missing:\n$plan")
    assert(plan.matches("(?s).*hashpartitioning\\(url_canon.*"),
      s"window not keyed on the canonical URL:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }
  test("substring-span dedup: no cartesian, shingle-keyed equi-join only") {
    val plan = planOf("q_dedup_substring")
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in substring dedup:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in substring dedup:\n$plan")
    // the duplicate filter (count > 1) must sit on the aggregate BEFORE
    // positions rejoin — visible as a HashAggregate-fed join, never a
    // join of two raw exploded streams.
    assert(plan.contains("HashAggregate"),
      s"no pre-join duplicate aggregate:\n$plan")
  }

  test("trained-BPE tokenize: merge table folds as literals, no cartesian") {
    val plan = planOf("q_tokenize_bpe")
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in tokenize:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in tokenize:\n$plan")
    // the folded vocabulary (distinct words + token widths) BROADCASTS
    // back to the (doc, word, count) stream — the corpus side never
    // shuffles for the join
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join did not broadcast:\n$plan")
  }
  test("NB classifier / bigram LM / contamination audit: no cartesian anywhere") {
    // BroadcastNestedLoopJoin is PERMITTED here: the 1-row broadcast
    // totals/priors cross joins compile to it by design (the engine's
    // standard broadcast-literal pattern); only a true CartesianProduct
    // — a shuffled all-pairs product — would mark an all-pairs plan.
    Seq("q_quality_classifier", "q_bigram_lm", "q_contamination_audit")
      .foreach { q =>
        val plan = planOf(q)
        assert(!plan.contains("CartesianProduct"), s"$q all-pairs:\n$plan")
      }
  }

  test("contamination audit broadcasts the benchmark side") {
    val plan = planOf("q_contamination_audit")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles did not broadcast:\n$plan")
  }

  test("keyset pagination: cursor predicate reaches the scan, page is top-k") {
    val plan = planOf("q_paginate_keyset")
    assert(plan.contains("TakeOrderedAndProject"),
      s"full sort instead of top-k page:\n$plan")
    // the Or(GreaterThan(p_name,...), And(...)) cursor tuple must land
    // in PushedFilters so row groups wholly before the cursor are
    // skipped on min/max stats
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*Or\\(GreaterThan[^\\]]*\\].*"),
      s"cursor predicate did not reach the scan:\n$plan")
  }

  test("sparse k-NN: query postings broadcast into the retrieval join") {
    val plan = planOf("q_sparse_knn")
    assert(plan.contains("BroadcastHashJoin"),
      s"query postings not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"all-pairs plan:\n$plan")
  }

  test("k-hop BFS and textrank: keyed equi-joins only, no all-pairs") {
    Seq("q_khop", "q_textrank").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q all-pairs:\n$plan")
    }
  }

  test("sparse k-NN serves from the persisted index, never re-reads the corpus") {
    // The standing-artifact contract: after the index is built, the
    // QUERY plan reads only the index/norms parquet — a plan that
    // still scans documents.parquet is re-deriving what the artifact
    // exists to amortize (the build itself is gated by
    // q_sparse_index_build, whose oracle re-derives from source).
    // (documents.parquet may still appear as the doc_id-pruned scan
    // that selects the gate's query panel — in production those ids
    // arrive with the request; the claim here is that no TOKENIZATION
    // of the corpus happens at query time.)
    val plan = planOf("q_sparse_knn")
    // (the plan string truncates scan paths, so match the artifact dir
    // segment rather than the .parquet leaf names)
    assert(plan.contains("sparseknn"),
      s"query side does not read the persisted index:\n$plan")
    // Tokenization shows up as a Generate over a text split/shingle
    // expression; the ONLY Generates allowed are the bounded per-doc
    // unpacks of the multi-dot score array (posexplode over _d/_top) —
    // r13's document-at-a-time retrieval shape.
    val badGenerate = "Generate [a-z]*explode\\((?!slice\\(_d|_top)".r
    assert(badGenerate.findFirstIn(plan).isEmpty,
      s"query side re-tokenizes the corpus (text explode in plan):\n$plan")
    assert(!plan.contains("graft_shingles") && !plan.contains("split("),
      s"query side re-tokenizes the corpus:\n$plan")
  }

  test("published-rule scans (gopher, c4) are single-scan, shuffle only to order") {
    Seq("q_gopher_rules", "q_c4_rules").foreach { q =>
      val plan = planOf(q)
      // exactly one exchange — the output orderBy's range partitioning;
      // the rules themselves are scan-speed HOF expressions
      val exchanges = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length
      assert(exchanges <= 1, s"$q shuffles beyond the output sort:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$q grew a join:\n$plan")
    }
  }

  test("multi-probe ANN recall panel is one union plan, no per-query cartesian") {
    val plan = planOf("q_ann_recall_hi")
    assert(!plan.contains("CartesianProduct"), s"all-pairs plan:\n$plan")
    // ten per-query semi-joins, each broadcasting a 10-row side
    assert(plan.contains("BroadcastHashJoin"),
      s"panel semi-joins not broadcast:\n$plan")
  }

  test("DSIR scoring joins the bounded model via broadcast, no corpus sort") {
    // q_dsir_sample localCheckpoints the scored table (the boundary
    // trick re-reads it three times), so the full query's plan starts
    // at Scan ExistingRDD — assert the SCORING stage's plan directly.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("text"), col("source"))
    val scorePlan = operators.Dsir.importanceScores(docs, "text", "doc_id",
        col("source").isin("src0", "src1", "src2", "src3"), buckets = 4096)
      .queryExecution.executedPlan.toString
    // the <= 4096-row terms table must reach the per-doc counts as a
    // broadcast; a SortMergeJoin here would shuffle the feature stream
    assert(scorePlan.contains("BroadcastHashJoin"),
      s"model terms not broadcast:\n$scorePlan")
    // scalar totals join as BroadcastNestedLoopJoin (broadcast of one
    // row) — a CartesianProduct would be a genuine all-pairs plan
    assert(!scorePlan.contains("CartesianProduct"),
      s"all-pairs plan:\n$scorePlan")
    assert(!scorePlan.contains("Window "), s"unexpected window:\n$scorePlan")
    // selection stage: the only unpartitioned window runs over the
    // single boundary score's rows, never a corpus-wide global sort
    // feeding a window across every score
    val plan = planOf("q_dsir_sample")
    val globalWindows = "Window ".r.findAllIn(plan).length
    assert(globalWindows <= 1,
      s"more than the boundary-score window in the plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"selection stage shuffles:\n$plan")
  }

  test("hard-negative mining broadcasts the panel, heap-bounds the top-k") {
    val plan = planOf("q_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query panel not broadcast into the corpus scan:\n$plan")
    assert(plan.contains("graft_topk"),
      s"top-k not the bounded heap aggregate:\n$plan")
    // no global sort of the scored pairs; ordering happens after the
    // panel-x-k winners are down to panel size
    assert(!plan.contains("SortMergeJoin"), s"scored pairs shuffled:\n$plan")
  }

  test("k-center round scan: broadcast-literal argmax, no join, no vector shuffle") {
    // one selection round = the plan kCenterGreedy builds per
    // iteration: a running least-distance column over the corpus with
    // the argmax as TakeOrdered — centers ride as literals, so there
    // must be NO join of any kind and no Exchange feeding a sort
    import graft.operators.Coreset
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val seed = Coreset.toDoubleArray(
      emb.filter(col("id") === 0).head(), 1).toSeq
    val round = emb
      .withColumn("dmin", Coreset.d2(col("v"), typedLit(seed)))
      .orderBy(col("dmin").desc, col("id")).limit(1)
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"argmax is not a TakeOrdered:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"a selection round must be one scan — no join, no shuffle:\n$plan")
    assert(plan.contains("graft_dot"), s"distance not the native dot:\n$plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"round scan fell out of codegen:\n$plan")
  }

  test("k-center coverage: one aggregate exchange, centers as literals") {
    val plan = planOf("q_kcenter_coverage")
    assert(!plan.contains("Join"),
      s"coverage must not join — centers are broadcast literals:\n$plan")
    assert(plan.contains("graft_dot"), s"distance not the native dot:\n$plan")
  }

  test("max-cover round: literal covered-set filter, combinable gain agg, TakeOrdered argmax") {
    // one greedy round over the materialized pair table, exactly as
    // the greedy loop builds it (greedyMaxCover is its unit-cost case):
    // the covered set rides as an in-set literal filter, gains are a
    // map-side-combinable hash aggregate, the argmax is a TakeOrdered —
    // no join anywhere and only the ONE aggregate exchange (the
    // pair-table distinct is amortized into the one-time
    // materialization, like the production localCheckpoint)
    import graft.operators.MaxCover
    val pairs = MaxCover.featurePairs(
      spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id", 1024)
      .localCheckpoint()
      .withColumn("cost", lit(1L)) // greedyMaxCover's unit cost
    val round = pairs
      .filter(col("cost") <= lit(Long.MaxValue - 3L))
      .filter(!col("bucket").isInCollection((1L to 40L).toSeq))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("gain"), max(col("cost")).as("cost"))
      .withColumn("r", expr("(gain * 1000000) div cost"))
      .orderBy(col("r").desc, col("id"))
      .limit(1)
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"argmax is not a TakeOrdered:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"a greedy round must not join:\n$plan")
    val exchanges = "(?<!Broadcast)Exchange ".r.findAllIn(plan).length
    assert(exchanges <= 1, s"more than the gain-agg exchange:\n$plan")
    // partial aggregation: a map-side HashAggregate must feed the final
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"gain count does not combine map-side:\n$plan")
  }

  test("streaming k-center entry filter: scan-only, centers as literals") {
    // the per-batch novelty filter CoresetStream builds: a codegen'd
    // least chain over broadcast-literal centers — no join, no shuffle
    import graft.operators.Coreset
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
    val centers = emb.limit(3).collect()
      .map(r => Coreset.toDoubleArray(r, 1).toSeq)
    val dists = centers.map(c => Coreset.d2(col("v"), typedLit(c)))
    val filtered = emb.filter(least(dists: _*) > lit(0.5))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"entry filter must be one scan:\n$plan")
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"entry filter fell out of codegen:\n$plan")
  }
}
