package graft

import graft.functions.Transformers
import graft.operators._
import graft.sources.AvroIO
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event/timeseries/session gates.
  *
  * One slice of the SparkEntry driver contract, split from the former
  * 11 kLoC single file purely for review ergonomics — ZERO behavior
  * change: every member keeps its definition verbatim (visibility
  * widened to private[graft] so the sibling slices still see it), and
  * the self-type pins the mix-in to the SparkEntry object itself.
  */
private[graft] trait SparkEntryEvents { this: SparkEntry.type =>

  // ---------------------------------------------------------------- events

  private[graft] def eventsTumbling(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumd(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  private[graft] def eventsSliding(s: SparkSession, d: String): DataFrame =
    EventStreams.sliding(events(s, d), width = "1 hour", slide = "15 minutes")
      .orderBy(col("window_start"), col("event_type"))

  /** The 30-minute gap threshold shared by every sessionized query
    * (sessions, concurrency sweep, in-session paths) — ONE home for the
    * constant so the three gates can never silently diverge.
    */
  private[graft] val SessionGapMicros = 1800000000L

  /** Shared gaps-and-islands sessionizer: appends `session_seq` (1-based
    * per user) splitting where the gap to the previous event of the same
    * user EXCEEDS `gapMicros` at full microsecond precision, events
    * ordered by (ts, event_id) for a deterministic total order. The one
    * definition behind [[eventsSession]], [[concurrencyPeak]] and
    * [[eventPaths]].
    */
  private[graft] def sessionize(df: DataFrame,
      gapMicros: Long = SessionGapMicros): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    df.withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new", when(col("_prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("_prev")) > gapMicros, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_prev", "_new")
  }

  private[graft] def eventsSession(s: SparkSession, d: String): DataFrame =
    sessionize(events(s, d))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sumd(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))

  /** RFM customer segmentation — the classic lifecycle-marketing
    * rollup: per customer, days since last order (anchored to the
    * corpus' latest order so the query is reproducible), order count,
    * and exact-decimal spend, each quintile-scored by
    * `ceil(cume_dist * 5)` (value-atomic — tied customers always share
    * a score, unlike ntile's arbitrary tie splits), then mapped to a
    * named segment. The three ranking windows run over the
    * CUSTOMER-level aggregate (one row per customer, never the orders
    * table); at extreme customer counts each would range-partition via
    * split points. The cume_dist double is the same k/n division on
    * both engines, so even quintile boundaries land identically.
    */
  private[graft] def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_custkey"), col("o_orderdate"),
      dec(col("o_totalprice")).as("p"))
    val anchor = o.agg(max(col("o_orderdate")).as("_anchor"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("_last"),
        count(lit(1)).as("frequency"), sum(col("p")).as("_m"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(to_date(col("_anchor")), to_date(col("_last")))
          .cast(LongType))
    cust
      .withColumn("r_score", ceil(cume_dist()
        .over(Window.orderBy(col("recency_days").desc)) * 5).cast(LongType))
      .withColumn("f_score", ceil(cume_dist()
        .over(Window.orderBy(col("frequency"))) * 5).cast(LongType))
      .withColumn("m_score", ceil(cume_dist()
        .over(Window.orderBy(col("_m"))) * 5).cast(LongType))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 &&
          col("m_score") >= 4, "champion")
        .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
        .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
        .otherwise("regular"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("_m").cast(DoubleType).as("monetary"), col("r_score"),
        col("f_score"), col("m_score"), col("segment"))
      .orderBy(col("o_custkey"))
  }

  /** Shipping-priority top-k — the TPC-H Q3 shape: orders placed
    * before the cutoff whose lineitems ship after it (the "booked but
    * unshipped" backlog), revenue-ranked top 10. Plan shape: both date
    * filters push into the parquet scans BEFORE the joins (the
    * selective-join discipline — at 100 TB the filter-first order is
    * the difference between joining a month and joining the table),
    * the BUILDING-segment customer key set broadcasts, and the final
    * ranking is a TakeOrdered top-k over the aggregated backlog, never
    * a full sort. Revenue stays an exact DECIMAL through the ORDER BY
    * (double ties would make top-10 membership platform-dependent),
    * cast to double only in the output projection.
    */
  private[graft] def topUnshipped(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-01-01 00:00:00").cast(TimestampType)
    val cust = t(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(s, d, "orders").filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = t(s, d, "lineitem").filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("_r"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("_r")).as("_rev"))
      .orderBy(col("_rev").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"),
        col("_rev").cast(DoubleType).as("revenue"))
  }

  /** Peak concurrent sessions per day — interval overlap counting by
    * sweep-line, the capacity-planning query: how many sessions were
    * simultaneously open at the worst moment of each day. Session
    * intervals come from the [[eventsSession]] construction; each
    * interval contributes a +1 at its start and a -1 AFTER its end
    * (inclusive intervals: a session ending at instant t still counts
    * at t), so concurrency(t) = running starts through t minus running
    * ends before t — two running sums over the DISTINCT boundary
    * -instant table. No pairwise overlap join ever runs (the naive
    * interval-overlap self-join is quadratic in the busy hour), and no
    * unpartitioned global window survives at any scale: the running
    * sums decompose over the DAY (the output grain) into per-day local
    * sweeps — a day-partitioned window — plus a #days-row carry prefix,
    * inlined here as one linear pipeline. Days fully spanned by
    * open sessions get zero-delta midnight sweep points
    * (sequence+explode per multi-day session), so carry-in concurrency
    * is reported even when no boundary instant lands on the day.
    */
  private[graft] def concurrencyPeak(s: SparkSession, d: String): DataFrame = {
    val sess = sessionize(events(s, d))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    // ONE pass over the session table emits all sweep points: the +1
    // start, the -1 end, and a zero-delta point at every midnight a
    // multi-day session is open across — a day fully spanned by open
    // sessions may contain no start/end instant at all, and without a
    // sweep point it would silently drop from the output (per-day
    // under-reporting); the midnight's running level IS the carry-in
    // concurrency for that day. A single explode (not a 3-way union)
    // matters: each union branch would re-evaluate the sessionize
    // window+aggregate above the shared exchange.
    val bounds = sess
      .select(explode(concat(
        array(
          struct(col("st").as("ts"), lit(1L).as("s"), lit(0L).as("e")),
          struct(col("en").as("ts"), lit(0L).as("s"), lit(1L).as("e"))),
        transform(
          when(date_trunc("day", col("en")) > date_trunc("day", col("st")),
            expr("sequence(date_trunc('DAY', st) + INTERVAL 1 DAY, " +
              "date_trunc('DAY', en), INTERVAL 1 DAY)"))
            .otherwise(expr("CAST(array() AS array<timestamp>)")),
          m => struct(m.as("ts"), lit(0L).as("s"), lit(0L).as("e"))))).as("b"))
      .select(col("b.ts").as("ts"), col("b.s").as("s"), col("b.e").as("e"))
    // Two-level sweep (the split-points idea with the DAY as the natural
    // bucket, collapsed into one linear pipeline — no join back, so the
    // expensive session build is never evaluated twice):
    //   peak(day) = carry(day) + max over in-day points of the LOCAL
    //   net level, where carry(day) = Σ_{d'<day} (starts - ends).
    // The in-day window partitions by day (parallel, bounded by a day's
    // boundary volume); the carry window runs over #days rows — domain-
    // sized, never corpus-sized. Ends count strictly-before (inclusive
    // intervals): RANGE frames over microsecond instants — to 0 for
    // starts-through-t, to -1 micro for ends-strictly-before-t — make
    // tie instants share one frame, so NO distinct-instant groupBy (and
    // its full shuffle of the sweep stream) is needed, and both frames
    // ride a SINGLE window exec (same partition + order key): the whole
    // sweep is one exchange, one sort, one window pass, one aggregate
    // (r16: this dropped the sf1 constant from 7.5 s to q_events_session
    // parity). Prior days' ends are all strictly before any instant of
    // this day, so the day-domain carry window completes the level.
    // The day and microsecond keys materialize ONCE as columns, and both
    // range-frame sums live in a single select: expressed as two chained
    // withColumns over freshly-derived date_trunc/unix_micros keys, the
    // analyzer extracted TWO Window operators whose specs no longer
    // compared equal (each re-derived its own _w0/_w1 attributes), so
    // the plan ran Exchange+Sort+Window twice over the sweep stream and
    // then re-derived date_trunc a third time for the day aggregate —
    // one more exchange (r18 plan audit; §2.4 share one exchange).
    // Sharing the literal _day/_us columns collapses both frames into
    // ONE WindowExec, and the day aggregate now groups by the window's
    // own partition key, so hash(_day) already satisfies its
    // distribution: the whole sweep is one exchange, one sort, one
    // window pass, one in-place aggregate (3 Exchange → 1, 2 sweep
    // sorts → 1).
    val dayW = Window.orderBy(col("day"))
    val byDayR = Window.partitionBy(col("_day")).orderBy(col("_us"))
    bounds
      .withColumn("_day", date_trunc("day", col("ts")))
      .withColumn("_us", unix_micros(col("ts")))
      .select(col("_day"), col("s"), col("e"),
        sum(col("s")).over(byDayR.rangeBetween(Window.unboundedPreceding, 0))
          .as("lrs"),
        coalesce(
          sum(col("e")).over(byDayR.rangeBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("lre"))
      .groupBy(col("_day").as("day"))
      .agg(max(col("lrs") - col("lre")).as("_mx"),
        sum(col("s")).as("_s"), sum(col("e")).as("_e"))
      .withColumn("_carry", coalesce(
        sum(col("_s") - col("_e")).over(dayW.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("day"), (col("_carry") + col("_mx")).as("peak"))
      .orderBy(col("day"))
  }

  /** A/B experiment readout: user_id parity assigns the variant, a
    * heavy-purchaser outcome (>= 14 purchase events — the corpus
    * median splits there, so all four cells stay populated) is the
    * conversion, and the 2x2 contingency rolls up to Pearson's
    * chi-square — the go/no-go statistic every experimentation
    * pipeline computes. The whole table collapses to one per-user flag
    * then four integers; chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))
    * stays in exact BIGINT products (|ad-bc| <= N^2/4 — no overflow at
    * any realistic user count) until one double division, rounded to 6
    * on both engines.
    */
  private[graft] def abTest(s: SparkSession, d: String): DataFrame = {
    val conv = events(s, d).groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0))
        >= 14).cast(IntegerType).as("converted"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
    val c = conv.agg(
      sum(when(col("variant") === 0 && col("converted") === 1, 1)
        .otherwise(0)).cast(LongType).as("a"),
      sum(when(col("variant") === 0 && col("converted") === 0, 1)
        .otherwise(0)).cast(LongType).as("b"),
      sum(when(col("variant") === 1 && col("converted") === 1, 1)
        .otherwise(0)).cast(LongType).as("c"),
      sum(when(col("variant") === 1 && col("converted") === 0, 1)
        .otherwise(0)).cast(LongType).as("d"))
    val diff = col("a") * col("d") - col("b") * col("c")
    c.select(col("a").as("conv_a"), col("b").as("non_a"),
      col("c").as("conv_b"), col("d").as("non_b"),
      round(((col("a") + col("b") + col("c") + col("d")).cast(DoubleType) *
          (diff * diff)) /
        ((col("a") + col("b")).cast(DoubleType) * (col("c") + col("d")) *
          (col("a") + col("c")) * (col("b") + col("d"))), 6).as("chi2"))
  }

  /** Session path mining: the top-paths analytics query — ordered
    * event-type trigrams WITHIN a session (the [[eventsSession]] gap
    * construction verbatim: 30-min inactivity splits, (ts, event_id)
    * tiebreak), counted corpus-wide. Two lags share one
    * (user, session) window partitioning, and the output is bounded by
    * |event_type|^3, not by row count — path mining collapses a
    * billion-event table into a palm-sized transition report. Distinct
    * from [[eventTransitions]]: paths never cross a session boundary,
    * so "returned next day and purchased" does not pollute the funnel
    * signal.
    */
  private[graft] def eventPaths(s: SparkSession, d: String): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    sessionize(events(s, d))
      .withColumn("p1", lag(col("event_type"), 2).over(bySess))
      .withColumn("p2", lag(col("event_type"), 1).over(bySess))
      .filter(col("p1").isNotNull)
      .groupBy(col("p1"), col("p2"), col("event_type").as("p3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("p1"), col("p2"), col("p3"))
  }

  /** Time-series gap fill ([[operators.TimeSeries.resampleFill]]): per
    * user, 6-hour bucket sums of `value` densified onto the user's own
    * [min,max] bucket range with last-observation-carried-forward. The
    * bucket index is `unix_timestamp div 21600` — exact floor for the
    * post-epoch testdata, matching DuckDB's `epoch_us // 21600000000`
    * operation-for-operation; sums stay DECIMAL(18,2)-exact until the
    * final double cast. Scale notes on the operator's scaladoc.
    */
  private[graft] def gapFill(s: SparkSession, d: String): DataFrame = {
    val obs = events(s, d).select(col("user_id"),
      expr("unix_timestamp(ts) div 21600").as("bucket"),
      dec(col("value")).as("v"))
    TimeSeries.resampleFill(obs, "user_id", "bucket", "v")
      .select(col("user_id"), col("bucket"),
        col("v_fill").cast(DoubleType).as("v_fill"), col("was_gap"))
      .orderBy(col("user_id"), col("bucket"))
  }

  /** Fuzzy entity matching ([[operators.FuzzyMatch.matchPairs]]):
    * SymSpell delete-1 blocking + exact levenshtein verify over the
    * union dictionary of distinct customer names (naturally rich in
    * one-digit-substitution neighbors), distinct part names, and
    * deterministic planted deletions of the longer part names (the
    * dictionary-correction case: char at 1-based position len/2+1
    * removed). The oracle brute-forces the same dictionary with
    * DuckDB's levenshtein — legal as an oracle precisely because the
    * delete-1 blocking is provably lossless at distance 1 (see the
    * operator scaladoc; FuzzyMatchSpec checks the property against
    * brute force on random strings too).
    */
  private[graft] def fuzzyMatch(s: SparkSession, d: String): DataFrame = {
    // Half-dictionary slice (p_partkey/c_custkey % 2 == 0): delete-1
    // candidate volume is near-quadratic in dictionary size within a
    // collision bucket, so halving the dictionary sheds most of the
    // 1.9 s the r11 gate billed while the blocking/verify plan and the
    // brute-force-oracle losslessness proof are unchanged.
    val pn = t(s, d, "part").filter(pmod(col("p_partkey"), lit(2)) === 0)
      .select(col("p_name").as("name")).distinct()
    val typos = pn.filter(length(col("name")) >= 8)
      .select(expr("""concat(substr(name, 1, length(name) div 2),
                     |  substr(name, length(name) div 2 + 2,
                     |         length(name)))""".stripMargin).as("name"))
    val cn = t(s, d, "customer").filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_name").as("name")).distinct()
    FuzzyMatch.matchPairs(pn.unionAll(typos).unionAll(cn), "name")
      // DuckDB's levenshtein is BIGINT; match it for the type-strict gate
      .select(col("name_a"), col("name_b"),
        col("dist").cast(LongType).as("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Z-order layout evidence ([[operators.ZOrder]]): Morton-interleave
    * (l_partkey, l_suppkey) at 16 bits per dim and emit each 65536-wide
    * curve segment's row count and two-dimensional bounding box — the
    * file-skipping stats a Z-ordered table would expose to min/max
    * pruning. Pure integer shift/and arithmetic, exact on both engines;
    * the oracle replays the identical formula via [[operators.ZOrder
    * .zkeySql]]. ZOrderSpec quantifies the pruning win vs a single-dim
    * sort.
    */
  private[graft] def zorderQ(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("zkey",
        ZOrder.zkey(col("l_partkey"), col("l_suppkey"), 16))
      .groupBy(expr("zkey div 65536").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("zbucket"))

  /** Sparse related-documents retrieval
    * ([[operators.TermIndex.sparseKnnFromIndex]]): top-5 cosine neighbors under
    * decimal-exact TF-IDF weights for every doc_id % 100 == 0 query
    * document, over the full corpus. The lexical twin of the dense ANN
    * gates; the oracle replays weights, dots, norms and ranking in SQL.
    */
  private[graft] lazy val sparseKnnDir = s"$artifactRoot/sparseknn"

  /** Build-once path of the sparse index ([[operators.TermIndex
    * .tfidfIndex]]): the scaled-long posting table persisted as a
    * parquet artifact per dataset dir — the standing inverted index a
    * deployment serves retrieval from. Memoized via [[standing]]; the
    * content gate is [[sparseIndexBuild]] (q_sparse_index_build), whose
    * oracle re-derives every posting from source each run.
    */
  private[graft] def sparseIndexPath(s: SparkSession, d: String): String =
    standing(s"sparseknn:$d") {
      val base = s"$sparseKnnDir/${dirTag(d)}"
      val idx = TableReads.overwrite(
        TermIndex.tfidfIndex(t(s, d, "documents"), "text", "doc_id"),
        s"$base/index.parquet")
      // norms ship WITH the index (computed once at build from the
      // written postings, read per query) — the aggregate is
      // posting-table-sized, exactly what a deployment precomputes
      // instead of re-deriving per retrieval
      idx.groupBy(col("id")).agg(sum(col("w") * col("w")).as("n2"))
        .write.mode("overwrite").parquet(s"$base/norms.parquet")
      base
    }

  private[graft] def sparseKnnQ(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val base = sparseIndexPath(s, d)
    TermIndex.sparseKnnFromIndex(
        TableReads.read(s, s"$base/index.parquet"),
        docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .select(col("doc_id")), k = 5,
        precomputedNorms = Some(TableReads.read(s, s"$base/norms.parquet")))
      .orderBy(col("qid"), col("sim_rank"))
  }

  /** SEMANTIC decontamination — the embedding-level twin of the
    * n-gram q_decontaminate: flag every corpus vector whose cosine to
    * ANY benchmark vector clears 0.99 (paraphrase-level copies that
    * lexical shingles miss). The benchmark side is small by definition
    * (eval sets are kilobytes), so the scan is a broadcast
    * nested-loop at threshold: each corpus row pays |bench| codegen'd
    * dot products and the corpus never shuffles — the right 100 TB
    * plan for contamination screening (a huge benchmark side would
    * LSH-prefilter first, the [[embedAnnLsh]] machinery). The iid
    * synthetic embeddings have no near-copies, so exact copies of
    * each benchmark vector are PLANTED under offset ids — without
    * them the gate would pass vacuously; the oracle derives the same
    * planted rows from source and replays every cosine.
    */
  private[graft] def decontaminateSemantic(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val bench = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("bench_id"),
        Similarity.toDouble(col("embedding")).as("be"))
    val planted = bench.select((col("bench_id") + 1000000L).as("vec_id"),
      col("be").as("embedding"))
    val corpus = emb
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("embedding"))
      .unionByName(planted)
    corpus.crossJoin(broadcast(bench))
      .filter(col("vec_id") =!= col("bench_id"))
      .withColumn("cosine", round(
        Similarity.dot(col("embedding"), col("be")) /
          (Similarity.norm(col("embedding")) * Similarity.norm(col("be"))), 4))
      .filter(col("cosine") >= 0.99)
      .select(col("vec_id"), col("bench_id"), col("cosine"))
      .orderBy(col("vec_id"), col("bench_id"))
  }

  /** Incremental index maintenance under the gate — the living-corpus
    * retrieval story ([[operators.TermIndex.rawIndex]] /
    * [[operators.TermIndex.weightsFromRaw]]): a standing RAW posting
    * index over 4/5 of the corpus is persisted once (postings + the
    * doc-count metadata), each batch contributes only batch-sized work
    * (its own tf postings + row count), and the merge is a plain union
    * because df/idf derive from the merged postings at weight time.
    * The oracle is the FULL-corpus from-scratch derivation (verbatim
    * the q_sparse_knn SQL): the increment must be semantically
    * invisible — any drift between merge-then-weight and
    * rebuild-from-scratch turns the gate red. The q_dedup_index_incr
    * shape applied to retrieval.
    */
  private[graft] def sparseKnnIncr(s: SparkSession, d: String): DataFrame = {
    // Half-corpus slice (doc_id < 2500, the q_curate_docs constant):
    // the merge proof is semantic, not volumetric, and the per-run df
    // re-derivation over the merged posting table is index-scale work
    // that the 1 s new-gate budget prices by slice size.
    val docs = t(s, d, "documents").filter(col("doc_id") < 2500)
    val base = standing(s"sparseraw:$d") {
      val path = s"$sparseKnnDir/${dirTag(d)}/standing"
      val standingDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      TermIndex.rawIndex(standingDocs, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$path/postings.parquet")
      TermIndex.docCount(standingDocs)
        .write.mode("overwrite").parquet(s"$path/meta.parquet")
      path
    }
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    // reuse pins: unpinned, the incoming explode runs twice (the union
    // under the df aggregate and the weight join shares no exchange)
    // and the weights re-run per collect — 0.83 s pinned vs 1.61 s
    // unpinned (sf0.1 ProfQ, warm medians of 3 JVMs a side)
    val mergedPostings = TableReads.read(s, s"$base/postings.parquet")
      .unionByName(TermIndex.rawIndex(incoming, "text", "doc_id"))
      .localCheckpoint() // reuse: the df aggregate and the weight join
    val mergedN = TableReads.read(s, s"$base/meta.parquet")
      .unionByName(TermIndex.docCount(incoming))
      .agg(sum(col("_n")).as("_n"))
    TermIndex.sparseKnnFromIndex(
        // reuse: two collects and the retrieval join read the weights
        TermIndex.weightsFromRaw(mergedPostings, mergedN).localCheckpoint(),
        docs.filter(pmod(col("doc_id"), lit(100)) === 0)
          .select(col("doc_id")), k = 5)
      .orderBy(col("qid"), col("sim_rank"))
  }

  /** Content gate for the persisted sparse index: per-term df and
    * total scaled weight over the PERSISTED parquet (not a fresh
    * derivation), for the 50 lexicographically-first terms. The oracle
    * replays the tf/df/weight formula from the documents SOURCE, so a
    * stale, truncated, or mis-weighted artifact turns this red — which
    * is exactly the guarantee that lets q_sparse_knn serve from the
    * artifact without re-billing the build.
    */
  private[graft] def sparseIndexBuild(s: SparkSession, d: String): DataFrame =
    TableReads.read(s, s"${sparseIndexPath(s, d)}/index.parquet")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("w")).as("total_w"))
      .orderBy(col("word"))
      .limit(50)

  /** Vocabulary drift under the gate ([[operators.TermIndex
    * .vocabDrift]]): top-20 terms by corpus-share movement between the
    * even/odd doc_id snapshot halves — integer-exact cleared-
    * denominator ranking, one rounded share delta per surviving row.
    */
  private[graft] def vocabDriftQ(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    TermIndex.vocabDrift(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      "text", "doc_id", k = 20)
  }

  /** Flesch readability ([[operators.TextAnalysis.readability]]) over
    * the corpus: three regex counts and one fixed double formula per
    * row, rounded to 4 on both engines.
    */
  private[graft] def readabilityQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.readability(t(s, d, "documents"), "text", "doc_id")
      .orderBy(col("doc_id"))

  private[graft] lazy val shardManifestDir = s"$artifactRoot/shardmanifest"

  /** Data-skipping manifest ([[operators.ShardManifest]]): lineitem
    * laid out in l_orderkey-ranged hive shards (div 4096), per-shard
    * (rows, min/max key, min/max shipdate) stats computed from the
    * READ-BACK of what was written — the Iceberg/Delta file-stats
    * pattern that turns key-range queries into kilobyte manifest
    * lookups. The oracle recomputes the same stats from the source
    * table with the same `div` arithmetic: written-shard stats must
    * equal source-derived stats or the layout lost rows.
    */
  private[graft] def shardManifestQ(s: SparkSession, d: String): DataFrame = {
    ShardManifest.writeSharded(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
        col("l_shipdate"), col("l_quantity")),
      s"$shardManifestDir/lineitem", "l_orderkey", width = 4096L)
    ShardManifest.manifest(s, s"$shardManifestDir/lineitem",
        Seq("l_orderkey", "l_shipdate"))
      .orderBy(col("shard_id"))
  }

  /** PPMI word associations ([[operators.TermIndex.pmiCooccur]]):
    * sliding-window (±2) co-occurrence counts with PMI scoring over
    * the full corpus, support-cut at 5 observations. Integer counts
    * carry the gate; the PMI double is one fixed formula rounded to 6
    * decimals on both engines.
    */
  private[graft] def pmiCooccurQ(s: SparkSession, d: String): DataFrame =
    TermIndex.pmiCooccur(t(s, d, "documents"), "text", "doc_id",
        maxDist = 2, minPairCount = 5)
      .orderBy(col("w1"), col("w2"))

  /** TextRank keywords ([[operators.TermIndex.textrankKeywords]]):
    * PageRank over the symmetrized ±2-window co-occurrence graph
    * (support >= 5, self-loops dropped), 5 IEEE-replayable iterations,
    * top-20 by rounded rank. The oracle rebuilds the same graph and
    * unrolls the same 5 iterations (the [[pageRankOracleSql]]
    * technique on a corpus-derived graph).
    */
  private[graft] def textrankQ(s: SparkSession, d: String): DataFrame =
    TermIndex.textrankKeywords(t(s, d, "documents"), "text", "doc_id",
      maxDist = 2, minPairCount = 5, iters = 5, k = 20)

  /** Exact-phrase search ([[operators.TermIndex.phraseSearch]]):
    * position-chain posting-list intersection for a 3-word phrase; the
    * oracle counts the same phrase from the shingle table — an
    * independent formulation of the same match.
    */
  private[graft] def phraseSearchQ(s: SparkSession, d: String): DataFrame =
    TermIndex.phraseSearch(t(s, d, "documents"), "text", "doc_id",
        Seq("big", "order", "scan"))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Two-sample KS drift ([[operators.Profiling.ksTest]]): largest CDF
    * gap between English and non-English document lengths. The D
    * argmax is decided entirely in integer arithmetic
    * (max |cumA·nB − cumB·nA| over the length domain); only the final
    * D division is a rounded double.
    */
  private[graft] def ksTestQ(s: SparkSession, d: String): DataFrame =
    Profiling.ksTest(t(s, d, "documents"), "n_chars",
      inA = col("lang") === "en", inB = col("lang") =!= "en")

  /** Benford first-digit audit ([[operators.Profiling.benford]]) over
    * order totals — 9 digit rows, observed vs the 6-decimal Benford
    * constants, per-digit chi-square terms from exact integer counts.
    */
  private[graft] def benfordQ(s: SparkSession, d: String): DataFrame =
    Profiling.benford(t(s, d, "orders"), "o_totalprice")

  /** k-anonymity audit ([[operators.Profiling.kAnonymity]]) on the
    * (nation, market segment) quasi-identifier pair at k=10 — every
    * equivalence class with its size and at-risk flag.
    */
  private[graft] def kAnonymityQ(s: SparkSession, d: String): DataFrame =
    Profiling.kAnonymity(t(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** Bounded-hop BFS ([[operators.LinkGraph.shortestPaths]]) from host
    * 0 over the [[domainAuthority]] 97-host graph: minimum hop counts
    * within 4 hops. The oracle walks the same graph with a recursive
    * CTE and takes min(dist) — an independent formulation of the same
    * reachability.
    */
  private[graft] def khopQ(s: SparkSession, d: String): DataFrame = {
    val hosts = t(s, d, "documents")
      .select(pmod(col("doc_id"), lit(97)).as("src")).distinct()
    val edges = hosts
      .select(col("src"), pmod(col("src") * 3 + 1, lit(97)).as("dst"))
      .unionAll(hosts
        .select(col("src"), pmod(col("src") * 7 + 2, lit(97)).as("dst")))
    // bounded driver BFS: <= 97 hosts by construction at every corpus
    // scale, integer distances (no float-order caveat at all); the
    // distributed per-level join/anti-join/checkpoint stages were pure
    // scheduling overhead here (33 jobs measured). The corpus-scale
    // stage — the distinct over documents — stays distributed.
    LinkGraph.shortestPathsBounded(edges, "src", "dst",
        hosts.filter(col("src") === 0), "src", maxHops = 4, maxNodes = 97)
      .orderBy(col("node"))
  }

  /** Daily-volume autocorrelation ([[operators.TimeSeries.acf]]) at
    * lags 1..7 — the weekly-seasonality readout over the event stream.
    * Integral daily counts keep every sufficient statistic an exact
    * DECIMAL(38,0); one rounded double division per lag.
    */
  private[graft] def acfQ(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    TimeSeries.acf(daily, "day", "n", maxLag = 7).orderBy(col("lag"))
  }

  /** Lead-indicator cross-correlation
    * ([[operators.TimeSeries.crossCorrelation]]): daily click volume
    * against purchase volume k days later, lags 0..3 — r_0 is exactly
    * Pearson's r of the two daily series. DECIMAL(38,0)-exact
    * sufficient statistics, one sqrt+division per lag.
    */
  private[graft] def xcorrQ(s: SparkSession, d: String): DataFrame = {
    def daily(tpe: String) = events(s, d)
      .filter(col("event_type") === tpe)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    TimeSeries.crossCorrelation(daily("click"), daily("purchase"),
        "day", "n", "n", maxLag = 3)
      .orderBy(col("lag"))
  }

  /** CUSUM changepoint ([[operators.TimeSeries.cusumChangepoint]]) on
    * daily event volume: the day where cumulative deviation from the
    * series mean peaks — argmax decided wholly in integer arithmetic.
    */
  private[graft] def cusumQ(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    TimeSeries.cusumChangepoint(daily, "day", "v")
  }

  /** Windowed EWMA ([[operators.TimeSeries.ewma]]) of daily event
    * volume, α=0.3 over an 8-bucket window — integer-literal weight
    * dot products (no pow() float path), one rounded division per row.
    */
  private[graft] def ewmaQ(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    TimeSeries.ewma(daily, "day", "v", alphaNum = 3, alphaDen = 10,
        window = 8)
      .orderBy(col("day"))
  }

  /** Rolling z-score anomaly baseline: each day's event volume scored
    * against the trailing 7-day window's mean/sample-stddev — the
    * monitoring twin of the global [[operators.StatMoments.zscore]].
    * Frame sums are exact longs; the score is one fixed IEEE formula
    * on them, rounded; windows with n<2 or zero variance score 0.0.
    */
  private[graft] def rollingZscore(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("v"))
    val f = Window.orderBy(col("day")).rowsBetween(-6, 0)
    val n = count(lit(1)).over(f)
    val sx = sum(col("v")).over(f)
    val sxx = sum(col("v") * col("v")).over(f)
    val cxx = (n * sxx - sx * sx).cast(DoubleType)
    val mean = sx.cast(DoubleType) / n.cast(DoubleType)
    val varS = cxx / (n.cast(DoubleType) * (n.cast(DoubleType) - lit(1.0)))
    daily
      .select(col("day"), col("v"),
        when(n >= 2 && cxx > 0,
          round((col("v").cast(DoubleType) - mean) / sqrt(varS), 6))
          .otherwise(lit(0.0)).as("z"))
      .orderBy(col("day"))
  }

  /** Mergeable exact quantiles — the [[distinctShards]] pattern for
    * percentiles: each shard collapses to a (value, count) histogram
    * (kilobytes of mergeable state, value-domain-bounded), shard
    * histograms merge by re-summing, and exact p50/p90/p99 read off
    * the merged cumulative counts with INTEGER comparisons
    * (cum·den >= num·N — percentile_disc semantics, no float rank
    * math). The oracle computes percentile_disc directly on the raw
    * table: merged-then-read MUST equal computed-globally, which is
    * the mergeability claim under gate.
    */
  private[graft] def quantileShards(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").select(
      pmod(col("l_orderkey"), lit(4)).as("shard"),
      col("l_quantity").cast(LongType).as("v"))
    val perShard = li.groupBy(col("shard"), col("v"))
      .agg(count(lit(1)).as("c"))
    val merged = perShard.groupBy(col("v")).agg(sum(col("c")).as("c"))
    val totals = merged.agg(sum(col("c")).as("_n"))
    val cum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("_cum", sum(col("c")).over(cum))
      .crossJoin(broadcast(totals))
      .agg(
        min(when(col("_cum") * 2 >= col("_n"), col("v"))).as("p50"),
        min(when(col("_cum") * 10 >= col("_n") * 9, col("v"))).as("p90"),
        min(when(col("_cum") * 100 >= col("_n") * 99, col("v"))).as("p99"))
  }

  /** Key-skew report over the event stream's user key — the shuffle
    * -skew triage every large join/aggregate needs: key count, total
    * rows, the heaviest key's share, and the Gini coefficient of the
    * per-key distribution (0 = uniform, →1 = one key owns the table).
    * Gini comes from the sorted-rank identity
    * (2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) — exact integers until one
    * rounded division. Tied counts contribute c·Σi regardless of their
    * order, which is not just a determinism note but the SCALE lever:
    * the rank-weighted sum collapses onto the distinct-count-value
    * table — keys with count c occupy the contiguous rank block
    * (cum, cum+m], so their contribution is c·(m·cum + m(m+1)/2) —
    * and the only window runs over DISTINCT per-key counts
    * (value-domain bounded, the equi-depth histogram argument), never
    * a corpus-scale row_number over every key.
    */
  private[graft] def keySkew(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val byC = counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // products in DECIMAL(38,0): at extreme key counts the rank-block
    // sums overflow BIGINT long before the value domain does
    val D0 = DecimalType(38, 0)
    val cD = col("c").cast(D0)
    val mD = col("m").cast(D0)
    byC
      .withColumn("_cum",
        coalesce(sum(col("m")).over(w), lit(0L)).cast(D0))
      .agg(
        // coalesce: sum over an empty table is null where the oracle's
        // count(*) is 0 — the old count(lit(1)) shape matched for free
        coalesce(sum(col("m")), lit(0L)).as("n_keys"),
        sum(cD * mD).cast(LongType).as("total_rows"),
        max(col("c")).as("_cmax"),
        // the /2 promotes to DECIMAL(38,6) (32 integer digits); cast the
        // exact quotient (m(m+1) is always even) back to scale 0 so the
        // products keep the full 38-digit headroom the old per-key
        // formulation had
        sum(cD * (mD * col("_cum") +
          (mD * (mD + 1) / 2).cast(D0))).as("_s1"))
      .select(col("n_keys"), col("total_rows"),
        round(col("_cmax").cast(DoubleType) / col("total_rows"), 6)
          .as("max_key_share"),
        round((lit(2).cast(D0) * col("_s1") -
          (col("n_keys") + 1).cast(D0) * col("total_rows").cast(D0))
          .cast(DoubleType) /
          (col("n_keys").cast(D0) * col("total_rows").cast(D0))
          .cast(DoubleType), 6).as("gini"))
  }

  /** Keyset pagination — the O(page) deep-pagination plan on the part
    * catalog: the cursor predicate `(p_name, p_partkey) > (after)`
    * pushes into the scan and the page is a TakeOrdered top-k, where
    * [[paginateDefault]]'s offset variant must produce and discard
    * every earlier row. Same page contract, O(depth) cheaper at scale.
    */
  private[graft] def paginateKeyset(s: SparkSession, d: String): DataFrame = {
    // mid-corpus cursor ON a duplicated name, so the unique-key
    // tiebreak arm of the predicate is exercised, not just name order
    val (afterName, afterKey) = ("blue bolt", 1140L)
    t(s, d, "part").select(col("p_partkey"), col("p_name"))
      .filter(col("p_name") > afterName ||
        (col("p_name") === afterName && col("p_partkey") > afterKey))
      .orderBy(col("p_name"), col("p_partkey"))
      .limit(5)
  }

  /** CDC apply — materialize a change log (insert/update/delete ops
    * with sequence numbers) into current state: latest op per key wins,
    * a terminal delete erases the key. The change log is synthesized
    * deterministically from orders (keys collide mod 500 so every key
    * carries a version chain). One per-key argmax window — the same
    * latest-row-wins shape as [[MergeOps]]' within-batch dedup, lifted
    * to the op-typed log a lakehouse CDC feed (Delta CDF, Debezium)
    * delivers. At scale the window partitions by key; a log compaction
    * would bucket by key and replay per bucket.
    */
  private[graft] def cdcApply(s: SparkSession, d: String): DataFrame = {
    val log = t(s, d, "orders").select(
      pmod(col("o_orderkey"), lit(500)).as("key"),
      col("o_orderkey").as("seq"),
      when(pmod(col("o_orderkey"), lit(11)) === 0, "D")
        .when(pmod(col("o_orderkey"), lit(3)) === 0, "I")
        .otherwise("U").as("op"),
      dec(col("o_totalprice")).as("val"))
    val w = Window.partitionBy(col("key")).orderBy(col("seq").desc)
    log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "D")
      .select(col("key"), col("seq").as("last_seq"), col("op").as("last_op"),
        col("val").cast(DoubleType).as("val"))
      .orderBy(col("key"))
  }

  private[graft] lazy val incrAggDir = s"$artifactRoot/incragg"

  /** Delta-maintained aggregate ([[operators.IncrementalAgg]]): the
    * per-customer (order count, revenue) state is seeded from the 90%
    * "history" slice, persisted to parquet, then advanced by
    * aggregating ONLY the 10% "arriving" slice and merging — the
    * history is never rescanned (the merge reads the kilobyte parquet
    * state, not the orders table). The oracle recomputes the aggregate
    * from scratch over the whole table: COUNT/SUM distributivity says
    * the two must match, and the DECIMAL sum state keeps the merge
    * order-insensitive so they match bit-for-bit.
    */
  private[graft] def incrAgg(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders").select(col("o_custkey"),
      col("o_orderkey"), dec(col("o_totalprice")).as("p"))
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("p")).as("rev"))
    IncrementalAgg.merge(
        TableReads.overwrite(state(o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)),
          s"$incrAggDir/state.parquet"),
        state(o.filter(pmod(col("o_orderkey"), lit(10)) === 0)),
        Seq("o_custkey"), Seq("n_orders", "rev"))
      .select(col("o_custkey"),
        col("n_orders").cast(LongType).as("n_orders"),
        col("rev").cast(DoubleType).as("revenue"))
      .orderBy(col("o_custkey"))
  }

  /** Revenue star join — the TPC-H Q5 shape: the lineitem fact joined
    * through orders and customer up the dimension chain to nation and
    * region, revenue rolled up per (region, nation). Plan shape the
    * gate pins via PlanPropertiesSpec: nation/region broadcast (tiny
    * dims — no exchange), the fact->orders->customer joins shuffle on
    * their keys with AQE free to pick sides, the rollup aggregates
    * map-side. The exact-decimal sum casts to double only at the end.
    */
  private[graft] def starJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("_p"))
      .join(t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")), "l_orderkey")
      .join(t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_nationkey")), "o_custkey")
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        // _p carries exact cents (scaled-long fast path, see sumd)
        (sum(col("_p")).cast(DecimalType(28, 0)) / 100)
          .cast(DoubleType).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  /** End-to-end entity resolution: the [[fuzzyMatch]] dictionary
    * (part names + planted deletion typos + the first 300 customer
    * names) resolved into entity CLUSTERS — SymSpell candidate pairs,
    * exact within-1 verify, then connected components over the match
    * graph ([[operators.Dedup.connectedComponents]]). Node ids are the
    * first 60 bits of md5(name) so the independent oracle (brute-force
    * pairs + recursive-CTE min-label walk, the q_dedup_cluster
    * technique) can replay the labeling exactly; singletons keep their
    * own id with cluster_size 1.
    */
  private[graft] def entityResolution(s: SparkSession, d: String): DataFrame = {
    val pn = t(s, d, "part").select(col("p_name").as("name")).distinct()
    val typos = pn.filter(length(col("name")) >= 8)
      .select(expr("""concat(substr(name, 1, length(name) div 2),
                     |  substr(name, length(name) div 2 + 2,
                     |         length(name)))""".stripMargin).as("name"))
    val cn = t(s, d, "customer").filter(col("c_custkey") < 300)
      .select(col("c_name").as("name")).distinct()
    val ents = pn.unionAll(typos).unionAll(cn).distinct()
    def nameId(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
    val pairs = FuzzyMatch.matchPairs(ents, "name")
      .select(nameId(col("name_a")).as("id_a"),
        nameId(col("name_b")).as("id_b"))
    val labels = Dedup.connectedComponents(pairs)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    ents.withColumn("id", nameId(col("name")))
      .join(labels, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .join(sizes, Seq("component"), "left")
      .select(col("name"), col("component"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy(col("name"))
  }

  /** Exact set-similarity self-join ([[operators.SetSimJoin]]): every
    * document pair at 3-shingle-set Jaccard >= 0.5, found by prefix
    * filtering instead of all-pairs comparison — the exact complement
    * of the MinHash-LSH family (same question, zero recall loss, still
    * sub-quadratic) with no stop-shingle df cap (unlike
    * q_dedup_jaccard, whose cap changes the metric's universe). The
    * oracle is the textbook shared-shingle join with NO prefix filter:
    * any pair the filter wrongly dropped turns the gate red, so
    * losslessness is verified on every run, not assumed. Jaccard is
    * one integer-ratio double on both engines.
    */
  /** Planted docs for the capped set-sim gate: ten carriers of a
    * deliberate stop-shingle ("capstop capstop capstop", df 12 — over
    * the cap at every scale, so the cap provably bites), plus one
    * near-dup pair whose similarity flows through RETAINED shingles
    * (their capped-universe Jaccard is 4/6 vs 5/7 uncapped — a wrong
    * or missing cap shifts the reported values and reds the gate).
    */
  private[graft] val setsimCapSentinels: Seq[(Long, String)] =
    (1 to 10).map(i => (995000L + i,
      s"capstop capstop capstop capstop uniq${i}a uniq${i}b uniq${i}c uniq${i}d")) ++
      Seq(
        (995011L, "capstop capstop capstop alpha1 beta1 gamma1 delta1 epsilon1"),
        (995012L, "capstop capstop capstop alpha1 beta1 gamma1 delta1 zeta1"))

  /** STOP-TOKEN-CAPPED set-similarity join under the gate
    * ([[operators.SetSimJoin.capTokens]]) — the production
    * complement the sf1 rehearsal motivated: the uncapped AllPairs
    * gate measured 107x for 10x data on the vocabulary-saturated
    * synthetic (SCALE.md), and the df cap is the standard trade that
    * restores linearity (bounded per-token fan-out; the metric becomes
    * the true Jaccard over the retained universe). The oracle replays
    * the same cap, threshold, and arithmetic from source.
    */
  /** Capped words + prefix tables persist per dataset like the
    * uncapped sibling's ([[setSimArtifactPath]]): the capped universe
    * (slice + sentinels + df filter) is a pure dataset function, so
    * each run pays candidates + verify only.
    */
  private[graft] def setSimCappedArtifactPath(s: SparkSession, d: String): String =
    standing(s"setsimcap:$d:0.5:8") {
      import s.implicits._
      val base = s"$artifactRoot/setsimcap/${dirTag(d)}"
      val docs = t(s, d, "documents").filter(col("doc_id") < 2500)
        .select(col("doc_id"), col("text"))
        .unionAll(setsimCapSentinels.toDF("doc_id", "text"))
      val tokens = Dedup.shingles(docs, "text", "doc_id", 3)
        .select(col("id"), col("shingle").as("w"))
        // reuse: the df cap's aggregate and its join take different
        // exchanges, so unpinned the shingle explode runs twice (run 1,
        // this standing build: 3.23 s pinned vs 3.28 s unpinned, medians)
        .localCheckpoint()
      val words = TableReads.overwrite(SetSimJoin.capTokens(tokens, maxDf = 8),
        s"$base/words.parquet")
      SetSimJoin.prefixTable(words, 0.5)
        .write.mode("overwrite").parquet(s"$base/prefix.parquet")
      base
    }

  private[graft] def setSimCappedQ(s: SparkSession, d: String): DataFrame = {
    val base = setSimCappedArtifactPath(s, d)
    SetSimJoin.selfJoinFromPrefix(
        TableReads.read(s, s"$base/words.parquet"),
        TableReads.read(s, s"$base/prefix.parquet"), threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-dataset set-similarity artifact ([[standing]], r12 verdict
    * item 6): the (id, token) shingle table and its threshold-keyed
    * prefix table persist once; each join run pays only candidate
    * generation + verify ([[operators.SetSimJoin.selfJoinFromPrefix]]).
    * The shingle math stays source-gated by the dedup family's
    * complete-oracle siblings and SetSimJoinSpec's brute-force
    * differential.
    */
  private[graft] def setSimArtifactPath(s: SparkSession, d: String): String =
    standing(s"setsim:$d:0.5") {
      val base = s"$artifactRoot/setsim/${dirTag(d)}"
      // Half corpus (frozen r13 slice), PLUS an absolute cap that only
      // binds beyond sf0.1 (max doc_id there is 4999): the exact
      // AllPairs join this gate deliberately runs is superlinear by
      // construction (SCALE.md measured 107x for 10x data), so at sf1+
      // it re-proves prefix/positional-filter losslessness against the
      // same brute-force oracle on a FIXED 2,500-doc slice instead of
      // paying 81 s for a claim already proven — the q_copurchase
      // deterministic-slice precedent, sanctioned by the r15 verdict
      // (BASELINE.md slice table updated in the same commit). The
      // scale-safe production path stays full-corpus (q_setsim_capped).
      val words = Dedup.shingles(
          t(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(2)) === 0 && col("doc_id") < 5000)
            .select(col("doc_id"), col("text")),
          "text", "doc_id", 3)
        .select(col("id"), col("shingle").as("w"))
      // the prefix build reads the written token table back: the
      // shingle explode runs once, with no pin
      SetSimJoin.prefixTable(TableReads.overwrite(words, s"$base/words.parquet"), 0.5)
        .write.mode("overwrite").parquet(s"$base/prefix.parquet")
      base
    }

  private[graft] def setSimJoinQ(s: SparkSession, d: String): DataFrame = {
    // Half-corpus slice (doc_id % 2 == 0): shared-shingle candidate
    // volume is quadratic in corpus slice, so halving the docs quarters
    // the pair stream while the prefix/length/positional filters and
    // the unfiltered-oracle losslessness proof are exercised unchanged
    // (r11 spent 3.6 s of headline headroom on the full corpus here).
    val base = setSimArtifactPath(s, d)
    SetSimJoin.selfJoinFromPrefix(
        TableReads.read(s, s"$base/words.parquet"),
        TableReads.read(s, s"$base/prefix.parquet"), threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Funnel analysis — the ordered-conversion query every product
    * pipeline runs: first view, first click strictly after it, first
    * purchase strictly after that, per user. Three conditional min
    * aggregates chained by time comparisons; all three shuffles hash the
    * same user_id key, so a real cluster co-partitions them (one exchange
    * reused by AQE). No window over a user's full history is needed —
    * state per user is three timestamps.
    */
  private[graft] def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2).otherwise(1).as("reached"),
        col("t_view"), col("t_click"), col("t_purchase"))
      .orderBy(col("user_id"))
  }

  /** Semi-structured payloads: typed extraction from the JSON `props`
    * column with a path expression — scan-level (codegen'd JSON parse per
    * row, filter pushed into the scan), no shuffle.
    */
  private[graft] def eventsProps(s: SparkSession, d: String): DataFrame =
    // event_id range filter FIRST: it pushes to the parquet scan
    // (row-group stats skip), so the per-row JSON parse — the expensive
    // part — runs only on the slice. A 25k-row slice exercises the typed
    // extraction exactly as well as the full table.
    events(s, d)
      .filter(col("event_id") < 25000)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
        col("value"))
      .filter(col("k") > 50)
      .orderBy(col("event_id"))

  /** Range (interval-containment) join under the gate: every event
    * matched to the session interval that contains it, via bucket
    * expansion (equi-join on (user, hour-bucket) + residual containment
    * filter — never a per-key nested loop). The oracle recomputes the
    * sessions and joins with a plain BETWEEN, an independent formulation
    * of the same containment.
    */
  private[graft] def rangeJoin(s: SparkSession, d: String): DataFrame = {
    // sessions straight from the shared sessionizer — NOT eventsSession,
    // whose output-ordering orderBy would be a wasted global sort of the
    // session table under this join (measured ~1/3 of the sf1 tail)
    val sessions = sessionize(events(s, d))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
    val pts = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
    RangeJoin.intervalJoin(pts, sessions, Seq("user_id"),
        "ts", "session_start", "session_end", bucketWidthSec = 3600L)
      .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))
      .orderBy(col("event_id"))
  }

  /** Click attribution under the gate — every click matched to the same
    * user's views in the preceding 6 hours. The batch shape is
    * [[operators.RangeJoin.intervalJoin]]'s bucket expansion (shuffle-
    * partitionable backfill).
    */
  private[graft] def clickAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"),
        (col("ts") + expr("interval 6 hours")).as("_vend"))
    RangeJoin.intervalJoin(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", "_vend", bucketWidthSec = 21600L)
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_ts"), col("view_ts"))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** Directed shingle containment under the gate (see
    * [[operators.Dedup.containmentPairs]]) — the quote/near-superset
    * detector, demonstrated complete on a bounded slice like
    * [[dedupJaccard]].
    */
  private[graft] def dedupContainment(s: SparkSession, d: String): DataFrame =
    // 300-doc slice: the exact-join containment math is fully exercised
    // at any slice size (the oracle recomputes every pair); the scale
    // path for full corpora is the LSH candidate base (q_dedup_lsh_full).
    Dedup.containmentPairs(
        t(s, d, "documents").filter(col("doc_id") < 300),
        "text", "doc_id", n = 3, minContainment = 0.5, maxDf = 1000)
      .orderBy(col("contained_id"), col("container_id"))

  /** Directed containment over the FULL corpus via the LSH candidate
    * base — the scale twin of [[dedupContainment]], mirroring exactly
    * how q_dedup_lsh_full scales q_dedup_jaccard: banded MinHash
    * candidates, then [[operators.Dedup.containmentForPairs]] verifies
    * only the emitted pairs (O(pairs), never all-pairs). Same oracle
    * technique as lsh_full: dump the pairs, recompute the exact directed
    * containment in DuckDB for only those pairs, emit a row when the
    * recomputed metric clears the threshold AND equals the stored value.
    * Recall envelope (documented, not hidden): MinHash banding surfaces
    * high-JACCARD candidates, so a short quote inside a much longer
    * container (high containment, low Jaccard) needs the complete-slice
    * q_dedup_containment — the production split is LSH for near-dup
    * mass, chunked/passage LSH for quote mining.
    *
    * Planted sentinel (round-9 ADVICE fix): a dump-and-verify oracle is
    * vacuously green on an EMPTY dump (it only re-checks emitted pairs),
    * so a regression that silently kills candidate generation would
    * never turn the gate red. Both this query and [[quoteMining]]
    * therefore union two synthetic docs (negative doc_ids, impossible in
    * the real corpus) whose containment is 1.0 by construction, and
    * their oracles assert the planted pair UNCONDITIONALLY — if the
    * candidate path stops surfacing it, Spark's dump lacks a row the
    * oracle requires and the hash gate fails.
    */
  private[graft] lazy val containFullDir = s"$artifactRoot/containfull"

  /** 10 words fully contained in 13 (containment 8/8 = 1.0; Jaccard
    * 8/11 = 0.727, comfortably over the 0.35 banding threshold).
    * Reverse direction 8/11 = 0.7273 also clears minContainment 0.5,
    * so BOTH planted rows are asserted by the oracle.
    */
  private[graft] val plantedContained =
    "zebra quartz falcon meadow copper lantern orchid thicket harbor velvet"
  private[graft] val plantedContainer = plantedContained + " marble sundial prism"

  private[graft] def plantDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.select(col("doc_id"), col("text")).unionByName(
      Seq((-2L, plantedContained), (-1L, plantedContainer))
        .toDF("doc_id", "text"))
  }

  private[graft] def dedupContainmentFull(s: SparkSession, d: String): DataFrame = {
    val docs = plantDocs(s, t(s, d, "documents"))
    val cands = Dedup.minHashLsh(docs, "text", "doc_id",
      numHashes = 64, bands = 32, threshold = 0.35)
    TableReads.overwrite(
        Dedup.containmentForPairs(cands, docs, "text", "doc_id",
          n = 3, minContainment = 0.5).coalesce(1),
        s"$containFullDir/pairs.parquet")
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** Quote mining: chunk-level LSH candidates
    * ([[operators.Dedup.chunkLshCandidates]]) + directed containment
    * verify — the low-Jaccard passage path that closes the recall
    * envelope [[dedupContainmentFull]] documents: whole-document banding
    * misses a short quote inside a long container (document Jaccard
    * ~|quote|/|container|), but the quote's word windows near-match the
    * container's windows, so chunk banding surfaces the pair and the
    * whole-document directed containment confirms it. Verify-only dump
    * oracle, same technique as lsh_full/containment_full; DedupSpec pins
    * the chunk-vs-whole-document recall difference constructively.
    */
  private[graft] lazy val quoteDir = s"$artifactRoot/quotes"

  /** Planted quote sentinel (see [[dedupContainmentFull]]'s scaladoc):
    * a 32-word passage embedded VERBATIM at word offset 16 of a 64-word
    * container — stride-aligned, so one container chunk is identical to
    * the quote doc's only chunk and the band collision is structural,
    * not probabilistic. Whole-doc containment quote→container is 30/30
    * = 1.0; the reverse is 30/62 = 0.4839 < 0.5, so exactly one planted
    * row (-2, -1, 1.0) is asserted.
    */
  private[graft] val plantedQuote: String =
    (1 to 32).map(i => f"plantquote$i%02d").mkString(" ")
  private[graft] val plantedQuoteContainer: String =
    ((1 to 16).map(i => f"fillhead$i%02d") ++
      (1 to 32).map(i => f"plantquote$i%02d") ++
      (1 to 16).map(i => f"filltail$i%02d")).mkString(" ")

  private[graft] def quoteMining(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text")).unionByName(
        Seq((-2L, plantedQuote), (-1L, plantedQuoteContainer))
          .toDF("doc_id", "text"))
    val cands = Dedup.chunkLshCandidates(docs, "text", "doc_id",
      chunkWords = 32, stride = 16, numHashes = 32, bands = 16)
    TableReads.overwrite(
        Dedup.containmentForPairs(cands, docs, "text", "doc_id",
          n = 3, minContainment = 0.5).coalesce(1),
        s"$quoteDir/pairs.parquet")
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** Token-budget curation under the gate (see
    * [[operators.BudgetSample]]): highest-quality documents first until
    * the whitespace-token budget is filled. The oracle IS the
    * single-reducer running-total formulation the operator avoids.
    */
  private[graft] def tokenBudgetQ(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: fillTokenBudget scans its input three times
    // (bucket totals, strictly-better filter, boundary window) — without
    // pinning, each scan re-runs the regex-heavy quality scoring over
    // the corpus text. Score once, reuse the tiny (id, tokens, score)
    // projection; at 100 TB this is the difference between one and three
    // passes over corpus text (0.50 s pinned vs 1.35 s unpinned at sf0.1).
    val docs = TextAnalysis.withQuality(t(s, d, "documents"), "text")
      .select(col("doc_id"), col("n_words").as("ws_tokens"),
        col("quality_score"))
      .localCheckpoint() // reuse: fillTokenBudget scans it three times
    operators.BudgetSample.fillTokenBudget(docs, "ws_tokens",
        "quality_score", "doc_id", budget = 20000L)
      .orderBy(col("doc_id"))
  }

  /** Corpus snapshot diff under the gate (see [[operators.SnapshotDiff]]).
    * Snapshot B is derived deterministically from the documents table:
    * every 17th doc removed, every 10th edited, every 13th re-added
    * under a new id — so the oracle can rebuild the identical snapshot
    * pair and the diff is fully checkable.
    */
  private[graft] def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
    val edited = base.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2 edit")))
          .otherwise(col("text")).as("text"))
    val added = base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("new doc "), col("text")).as("text"))
    operators.SnapshotDiff.delta(base, edited.unionByName(added),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Hybrid retrieval under the gate: RRF-fuse a lexical term-overlap
    * ranking over `documents` with a cosine ranking over `embeddings`
    * (vec_id doubles as the doc id in the synthetic corpus). See
    * [[operators.HybridSearch]].
    */
  private[graft] def hybridSearchQ(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding")))
      .head().getSeq[Double](0)
    operators.HybridSearch.rrfSearch(
      t(s, d, "documents"), "text", "doc_id",
      emb, "embedding", "vec_id",
      queryTerms = Seq("spark", "join", "window", "vector"),
      queryVec = qv)
  }

  /** Scalable global row numbering under the gate (see
    * [[operators.GlobalIndex]] — split-points + offsets, never a
    * single-reducer global sort). The oracle IS the single-reducer
    * formulation, which DuckDB can afford at sf0.01.
    */
  private[graft] def globalIndexQ(s: SparkSession, d: String): DataFrame =
    // Half-table slice (o_orderkey % 2 == 0): the split-point sampling,
    // per-bucket offsets, and range-exchange plan are size-independent;
    // the r11 full-table gate's seconds were the final 150k-row ordered
    // dump, pure volume.
    operators.GlobalIndex.withGlobalIndex(
        t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select("o_orderkey", "o_custkey"),
        Seq("o_orderkey"), buckets = 32)
      .select(col("o_orderkey"), col("o_custkey"), col("global_idx"))
      .orderBy(col("o_orderkey"))

  /** Schema-evolution read: two corpus generations written with
    * different schemas (v2 added a column) read back as ONE table via
    * parquet mergeSchema — the long-lived-corpus reality where shards
    * written last year lack this year's columns. Footer-only schema
    * merge, no data rewrite; the aggregate proves old-shard rows
    * surface with NULLs in the new column and new-shard rows keep
    * their values.
    */
  private[graft] lazy val schemaEvoDir = s"$artifactRoot/schemaevo"

  private[graft] def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val p = t(s, d, "part")
    p.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey"), col("p_name"))
      .write.mode("overwrite").parquet(s"$schemaEvoDir/v=1")
    p.filter(col("p_partkey") % 2 === 1)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .write.mode("overwrite").parquet(s"$schemaEvoDir/v=2")
    s.read.option("mergeSchema", "true").parquet(schemaEvoDir)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_retailprice")).as("n_price_present"),
        round(coalesce(sum(col("p_retailprice")), lit(0.0)), 2).as("sum_price"))
      .orderBy(col("v"))
  }

  /** AS-OF join under the gate: for every click, the user's most recent
    * purchase at-or-before that click. The right side is deduplicated to
    * one row per (user, ts) with a deterministic max-event pick, so the
    * carry-forward window and DuckDB's native ASOF JOIN agree exactly.
    * Timestamps are compared at microsecond precision on both sides
    * (the engine's resolution; the oracle floors ns the same way).
    */
  private[graft] def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"),
        col("m.event_id").as("purchase_id"), col("m.value").as("purchase_value"))
    AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("purchase_id", "purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The same AS-OF join executed by the NATIVE whole-operator path
    * ([[graft.plans.AsOfJoinNode]] planned through the injected
    * strategy): one sorted-merge pass per co-partition instead of the
    * union + carry-forward window. Shares `q_asof_join`'s oracle — both
    * formulations must agree with DuckDB's ASOF JOIN exactly.
    */
  private[graft] def asofJoinNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"),
        col("m.event_id").as("purchase_id"), col("m.value").as("purchase_value"))
    AsOfJoin.asOfNative(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("purchase_id", "purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

}
