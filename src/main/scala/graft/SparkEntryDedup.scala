package graft

import graft.functions.Transformers
import graft.operators._
import graft.sources.AvroIO
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dedup / text-analysis gates (exact, MinHash, SimHash, containment, fingerprints).
  *
  * One slice of the SparkEntry driver contract, split from the former
  * 11 kLoC single file purely for review ergonomics — ZERO behavior
  * change: every member keeps its definition verbatim (visibility
  * widened to private[graft] so the sibling slices still see it), and
  * the self-type pins the mix-in to the SparkEntry object itself.
  */
private[graft] trait SparkEntryDedup { this: SparkEntry.type =>

  // ---------------------------------------------------------------- dedup / text

  private[graft] def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(t(s, d, "documents"), "text", "doc_id")
      .select(col("keep_id"), col("n_copies"), col("text"))
      .orderBy(col("keep_id"))

  private[graft] def dedupJaccard(s: SparkSession, d: String): DataFrame =
    // maxDf=100 (half the 200-doc corpus): stop-shingles above that
    // document frequency are dropped from the Jaccard universe before the
    // candidate self-join — the scale guard against a near-cross-product
    // bucket. The oracle applies the identical df filter.
    Dedup.jaccardPairs(t(s, d, "documents").filter(col("doc_id") < 200),
        "text", "doc_id", n = 3, minJaccard = 0.6, maxDf = 100)
      .orderBy(col("id_a"), col("id_b"))

  /** MinHash-LSH generates CANDIDATES (xxhash64-based, not reproducible by
    * another engine); the emitted pairs are then verified with the EXACT
    * shingle-set Jaccard, which any engine can recompute — so the result
    * set is fully determined by a DuckDB-checkable predicate, and the LSH
    * stage only has to achieve recall (bands=32 → r=2: a pair at the 0.8
    * verify threshold survives banding with p = 1-(1-0.64)^32 ≈ 1-1e-14).
    */
  private[graft] def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 300)
    val cands = Dedup.minHashLsh(docs, "text", "doc_id",
      numHashes = 64, bands = 32, threshold = 0.35)
    Dedup.exactShingleJaccard(cands, docs, "text", "doc_id", n = 3, minJaccard = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash-LSH dedup over the FULL documents table — no doc_id cap, so
    * the bench exercises dedup at the real corpus size (5,000 docs at
    * sf0.1 vs the 300-doc capped variant: sub-quadratic growth is visible
    * in BENCH per-query times).
    *
    * Oracle technique (containment, not completeness): a complete oracle
    * needs the all-pairs Jaccard — quadratic in DuckDB and the reason the
    * capped variants exist. Instead the query DUMPS its verified pairs to
    * parquet, and the oracle recomputes the exact shingle Jaccard for
    * ONLY those pairs (restricting the shingle universe to docs that
    * appear in a pair), emitting a row when the recomputed metric clears
    * the threshold AND equals the stored value. Any false-positive pair
    * drops out -> row-count mismatch -> red. Oracle cost is O(pairs).
    * Recall is covered by the banding-probability argument (bands=32,
    * r=2: survival at the 0.8 verify threshold is 1-(1-0.64)^32) and the
    * capped variant's complete oracle.
    */
  private[graft] lazy val lshFullDir = s"$artifactRoot/lshfull"

  private[graft] def dedupLshFull(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val cands = Dedup.minHashLsh(docs, "text", "doc_id",
      numHashes = 64, bands = 32, threshold = 0.35)
    TableReads.overwrite(
        Dedup.exactShingleJaccard(cands, docs, "text", "doc_id", n = 3, minJaccard = 0.8)
          .coalesce(1),
        s"$lshFullDir/pairs.parquet")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Mutation schedule for the text-dedup recall panel: panel doc k
    * (doc_id < 500, doc_id % 10 == 0 — present at every generated
    * scale) gets a planted twin (id 980000 + doc_id) whose every m-th
    * word is replaced by the marker token, m =
    * muts[(doc_id div 10) mod 10]. Small m → shingle Jaccard far below
    * the 0.8 verify bar (the twin exercises the NEGATIVE side of the
    * panel); large m (≥ the doc's word count) → an exact or
    * near-exact duplicate. The schedule spans the Jaccard range, so
    * the measured recall covers borderline pairs, not just identical
    * ones. Deterministic and expressible in both engines (index-aware
    * transform over the \s+-split word list, single-space re-join), so
    * the oracle replays the panel from source.
    */
  private[graft] val dedupRecallMuts = Seq(4, 6, 10, 20, 30, 50, 80, 120, 200, 1000)
  private[graft] lazy val dedupRecallDir = s"$artifactRoot/dduprecall"

  /** Shared tail of the text-dedup recall gates: DUMP the verified
    * found pairs to the run-scoped path (the oracle re-counts them
    * against its own target — soundness), read them back, and emit the
    * one (n_target, n_found, recall) row. Callers append their own
    * engine-side assertion filter (q_dedup_recall) or none (the honest
    * unfiltered readouts).
    */
  private[graft] def recallSummaryRow(s: SparkSession, found: DataFrame,
      foundPath: String, target: DataFrame): DataFrame = {
    val foundBack = TableReads.overwrite(found.coalesce(1), foundPath)
    target.agg(count(lit(1)).as("n_target"))
      .crossJoin(foundBack.agg(count(lit(1)).as("n_found")))
      .select(col("n_target"), col("n_found"),
        round(col("n_found").cast(DoubleType) /
          greatest(col("n_target"), lit(1L)).cast(DoubleType), 6).as("recall"))
  }

  private[graft] def dedupRecallPlanted(docs: DataFrame): DataFrame = {
    val m = element_at(typedLit(dedupRecallMuts),
      (pmod(expr("doc_id div 10"), lit(10)) + 1).cast("int"))
    val ws = split(trim(col("text")), "\\s+")
    val mutated = array_join(
      transform(ws, (w, i) => when(pmod(i + 1, m) === 0, lit("xmutx")).otherwise(w)),
      " ")
    docs.filter(col("doc_id") < 500 && pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 980000L).as("doc_id"), mutated.as("text"))
  }

  /** MEASURED banding recall of the production MinHash config (r12
    * verdict item 3 — the q_ann_recall_hi pattern for text dedup): the
    * [[dedupRecallPlanted]] twins probe the corpus through the
    * production config (64 hashes, 32 bands, est ≥ 0.35, exact verify
    * ≥ 0.8 — the q_dedup_lsh_full config) via the pair-identical
    * asymmetric banded join ([[operators.Dedup.minHashLshProbe]]), and
    * the verified (corpus, planted) pairs are DUMPED to parquet. The
    * complete ground truth is [[operators.Dedup.probeJaccard]] — no
    * LSH, no df cap, so found ⊆ target by construction and recall =
    * n_found / n_target; both corpus signatures and the target persist
    * per dataset ([[recallSigPath]]).
    * The engine emits its one summary row ONLY when recall ≥ 0.95; the
    * oracle recomputes the target from source, counts the dumped pairs
    * that genuinely clear the bar (soundness — a false pair shrinks
    * the oracle's n_found and reds the gate), and emits its row
    * UNFILTERED: a recall regression → engine 0 rows vs oracle 1 row.
    */
  /** Corpus MinHash signatures for the recall gate, persisted per
    * dataset ([[standing]] — the production config's signature table is
    * a build artifact; each recall run signs only the 50 planted twins).
    */
  private[graft] def recallSigPath(s: SparkSession, d: String): String =
    standing(s"ddrsigs:$d:${dedupRecallMuts.mkString(",")}") {
      val base = s"$dedupRecallDir/${dirTag(d)}"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.minHashSignatures(docs, "text", "doc_id", numHashes = 64)
        .write.mode("overwrite").parquet(s"$base/sigs.parquet")
      // the ground-truth pair set is a pure function of the dataset
      // (planted twins are deterministic), so it builds once with the
      // signatures; the ORACLE recomputes it from source every run, so
      // a stale persisted target red-flags as an n_target mismatch
      Dedup.probeJaccard(docs, dedupRecallPlanted(docs),
          "text", "doc_id", n = 3, minJaccard = 0.8)
        .write.mode("overwrite").parquet(s"$base/target.parquet")
      base
    }

  private[graft] def dedupRecall(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = dedupRecallPlanted(docs)
    val universe = docs.unionByName(planted)
    // The banding, estimate filter, and exact verify are PAIR-LOCAL,
    // so the production self-join's recall on (corpus, planted) pairs
    // equals the asymmetric probe join's ([[operators.Dedup
    // .minHashLshProbe]] — identical per-pair arithmetic) at
    // probe-sized cost: the corpus never pairs with itself here (that
    // workload is billed once, in q_dedup_lsh_full), and corpus
    // signatures read from the standing artifact.
    val base = recallSigPath(s, d)
    val cands = Dedup.minHashLshProbe(
      TableReads.read(s, s"$base/sigs.parquet"),
      Dedup.minHashSignatures(planted, "text", "doc_id", numHashes = 64),
      numHashes = 64, bands = 32, threshold = 0.35)
    val found = Dedup.exactShingleJaccard(
        cands, universe, "text", "doc_id", n = 3, minJaccard = 0.8)
      .filter(col("id_a") < 980000L && col("id_b") >= 980000L)
    recallSummaryRow(s, found, s"$dedupRecallDir/found.parquet",
        TableReads.read(s, s"$base/target.parquet"))
      .filter(col("recall") >= 0.95)
  }

  /** Full-corpus SimHash signatures + complete bag-Jaccard target for
    * the SimHash recall readout, persisted per dataset like
    * [[recallSigPath]]'s MinHash pair (the target is a pure function of
    * the dataset; the ORACLE recomputes it from source every run, so a
    * stale persisted target reds as an n_target mismatch).
    */
  private[graft] def simhashRecallSigPath(s: SparkSession, d: String): String =
    standing(s"simrecsigs:$d:${dedupRecallMuts.mkString(",")}") {
      val base = s"$dedupRecallDir/${dirTag(d)}"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.simHash(docs, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$base/simsigs.parquet")
      Dedup.probeBagJaccard(docs, dedupRecallPlanted(docs),
          "text", "doc_id", minJaccard = 0.8)
        .write.mode("overwrite").parquet(s"$base/simtarget.parquet")
      base
    }

  /** HONEST SimHash recall readout — the q_ann_recall pattern (measure,
    * don't assert) for the combination-banding family: the
    * [[dedupRecallPlanted]] twins probe the corpus through the
    * q_dedup_simhash_full config (8 pieces, Hamming <= 6, exact bag
    * Jaccard >= 0.8 verify) via the pair-identical asymmetric join
    * ([[operators.Dedup.simHashProbe]]); ground truth is the COMPLETE
    * bag-Jaccard probe ([[operators.Dedup.probeBagJaccard]]). Unlike
    * q_dedup_recall this row is UNFILTERED: combination banding is
    * complete for its HAMMING radius (DedupSpec pigeonhole proof), but
    * the radius is not the metric — a bag-J 0.8 pair's expected Hamming
    * can exceed 6 — and this gate measures exactly that envelope, the
    * honest number a production dedup configs against.
    */
  private[graft] def simhashRecall(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = dedupRecallPlanted(docs)
    val universe = docs.unionByName(planted)
    val base = simhashRecallSigPath(s, d)
    val cands = Dedup.simHashProbe(
      TableReads.read(s, s"$base/simsigs.parquet"),
      Dedup.simHash(planted, "text", "doc_id"), maxHamming = 6, pieces = 8)
    val found = Dedup.exactBagJaccard(
        cands.select(col("id_a"), col("id_b")),
        universe, "text", "doc_id", minJaccard = 0.8)
      .filter(col("id_a") < 980000L && col("id_b") >= 980000L)
    recallSummaryRow(s, found, s"$dedupRecallDir/simfound.parquet",
      TableReads.read(s, s"$base/simtarget.parquet"))
  }

  /** Planted verbatim quotes for the containment recall readout: 50
    * probe docs, each a CONTIGUOUS word slice of a corpus document
    * (doc_id % 10 == 5, doc_id < 500) — slice length from a 6..40-word
    * schedule (below, at, and above the 32-word chunk width) and start
    * offset 0 or 4 (deliberately NOT stride-aligned, unlike
    * q_quote_mining's structural sentinel). A verbatim slice's shingles
    * are all present in its source, so (source, probe) containment is
    * exactly 1.0 — every probe contributes a known-true target pair
    * while the offsets/lengths exercise the probabilistic part of the
    * chunk banding. Deterministic and replayable in both engines
    * (list_slice over the \s+-split word list).
    */
  private[graft] val quoteRecallLens = Seq(6, 8, 10, 12, 16, 20, 24, 28, 32, 40)

  private[graft] def quoteRecallPlanted(docs: DataFrame): DataFrame = {
    val l = element_at(typedLit(quoteRecallLens),
      (pmod(expr("doc_id div 10"), lit(10)) + 1).cast("int"))
    val off = pmod(expr("doc_id div 10"), lit(2)) * 4
    val ws = split(trim(col("text")), "\\s+")
    docs.filter(col("doc_id") < 500 && pmod(col("doc_id"), lit(10)) === 5)
      .select((col("doc_id") + 990000L).as("doc_id"),
        array_join(slice(ws, off + 1, l), " ").as("text"))
  }

  /** Corpus banded chunk keys for the containment recall readout,
    * persisted per dataset ([[operators.Dedup.chunkBandKeys]] under the
    * q_quote_mining production config: 32-word chunks, stride 16, 32
    * hashes, 16 bands).
    */
  private[graft] def quoteRecallBandPath(s: SparkSession, d: String): String =
    standing(s"qrecbands:$d:${quoteRecallLens.mkString(",")}") {
      val base = s"$dedupRecallDir/${dirTag(d)}"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      Dedup.chunkBandKeys(docs, "text", "doc_id", chunkWords = 32,
          stride = 16, numHashes = 32, bands = 16)
        .write.mode("overwrite").parquet(s"$base/qbands.parquet")
      // the complete ground truth persists with the bands (pure function
      // of the dataset; the oracle recomputes it from source, so a stale
      // target reds as an n_target mismatch — the recallSigPath contract)
      Dedup.probeContainment(docs, quoteRecallPlanted(docs), "text", "doc_id",
          n = 3, minContainment = 0.5)
        .filter(col("contained_id") >= 990000L && col("container_id") < 980000L)
        .write.mode("overwrite").parquet(s"$base/qtarget.parquet")
      base
    }

  /** HONEST chunk-LSH containment recall readout — the third leg of the
    * recall triple (q_dedup_recall: MinHash banding, asserted;
    * q_simhash_recall: combination banding, measured; this: chunk
    * banding on the quote-mining config, measured): the
    * [[quoteRecallPlanted]] verbatim slices probe the corpus through
    * 32/16 chunk banding ([[operators.Dedup.chunkLshProbe]] over the
    * persisted corpus band table) with directed-containment >= 0.5
    * exact verify; ground truth is the COMPLETE probe containment
    * ([[operators.Dedup.probeContainment]]). UNFILTERED by design:
    * q_quote_mining's planted sentinel proves the stride-aligned
    * 32-word case structurally, while this row measures the envelope a
    * production quote miner actually configs against — quotes SHORTER
    * than the chunk width collide only probabilistically (a 6-word
    * quote's chunk shares ~4/30 shingles with its covering corpus
    * window), so recall here is genuinely below 1.0 and the number is
    * the point.
    */
  private[graft] def containmentRecall(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = quoteRecallPlanted(docs)
    val universe = docs.unionByName(planted)
    val base = quoteRecallBandPath(s, d)
    val cands = Dedup.chunkLshProbe(
      TableReads.read(s, s"$base/qbands.parquet"),
      Dedup.chunkBandKeys(planted, "text", "doc_id", chunkWords = 32,
        stride = 16, numHashes = 32, bands = 16))
    val found = Dedup.containmentForPairs(
        cands.select(col("id_a"), col("id_b")),
        universe, "text", "doc_id", n = 3, minContainment = 0.5)
      .filter(col("contained_id") >= 990000L && col("container_id") < 980000L)
    recallSummaryRow(s, found, s"$dedupRecallDir/qfound.parquet",
      TableReads.read(s, s"$base/qtarget.parquet"))
  }

  /** Incremental dedup: the 20% of docs with doc_id % 5 == 0 arrive as a
    * new batch and are classified against the standing 80% — exact /
    * near / unique with the smallest matching corpus id. The oracle is
    * COMPLETE (fingerprint join for exact, all inc×ex shingle-Jaccard
    * via the shingle equi-join for near), so both the LSH recall and the
    * status precedence are externally pinned. See
    * [[operators.Dedup.incrementalStatus]] for why this batch-vs-corpus
    * shape, not whole-corpus re-dedup, is the 100 TB production path.
    */
  private[graft] def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    // Half-corpus slice: the batch-vs-standing-corpus shape (the thing
    // this query gates) is identical at any corpus size; the full-corpus
    // LSH machinery is billed once, in q_dedup_lsh_full.
    val docs = t(s, d, "documents").filter(col("doc_id") < 1500)
    Dedup.incrementalStatus(
        existing = docs.filter(col("doc_id") % 5 =!= 0),
        incoming = docs.filter(col("doc_id") % 5 === 0),
        "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup against a PERSISTED standing index — the 100 TB
    * production shape [[dedupIncremental]] only simulates: corpus
    * fingerprints + MinHash signatures are built ONCE
    * ([[operators.Dedup.dedupIndex]]), written as a parquet table, and
    * each batch classifies against the stored index without recomputing
    * anything on the standing side (corpus text is read only to verify
    * the final candidate pairs). Same slice and the SAME complete
    * oracle as q_dedup_incremental — the index must be semantically
    * invisible, and the gate proves it.
    */
  private[graft] lazy val dedupIndexDir = s"$artifactRoot/dedupindex"

  private[graft] def dedupIndexIncr(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 1500)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    Dedup.incrementalStatusWithIndex(
        TableReads.overwrite(Dedup.dedupIndex(existing, "text", "doc_id"),
          s"$dedupIndexDir/index.parquet"),
        existing, incoming, "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** SimHash banding generates candidates — COMPLETE for Hamming <= 6 by
    * multi-block pigeonhole (8 pieces of 8 bits: a pair within Hamming 6
    * agrees exactly on >= 2 chunks, and the candidate join enumerates all
    * C(8,2) = 28 chunk pairs as 16-bit keys) — then the emitted pairs are
    * verified with the exact word-multiset (bag) Jaccard, the
    * frequency-weighted metric SimHash approximates. The corpus' bag-J >=
    * 0.8 pairs all sit at Hamming <= 5 (next pair down is at bag-J 0.68),
    * so the Hamming-6 completeness region covers the verify threshold with
    * margin, and DedupSpec pins both the result and the candidate bound.
    *
    * Scale shape: every banding key is 16 bits wide (65,536 bucket values
    * per subset), keeping candidate generation sub-quadratic. The previous
    * parameterization (pieces=16, single 4-bit chunks) bought provable
    * Hamming-15 completeness with 16-bucket joins — ~N^2/32 candidates, an
    * all-pairs cross-product in disguise. See Dedup.simHashPairsFromSigs.
    */
  private[graft] def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 300)
    // Direct per-document banding: on a 300-doc slice the bag-grouping
    // machinery's two extra materialization jobs cost more than the
    // within-group collisions it avoids. The grouped shape is exercised
    // where it pays — the full-corpus q_dedup_simhash_full.
    val cands = Dedup.simHashNearDupDirect(docs, "text", "doc_id",
      maxHamming = 6, pieces = 8)
    Dedup.exactBagJaccard(cands, docs, "text", "doc_id", minJaccard = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup over the FULL documents table — the twin of
    * [[dedupLshFull]], closing the gap where sub-quadratic SimHash was
    * only demonstrated on the 300-doc slice. Same containment oracle:
    * dump the verified pairs, recompute the exact bag Jaccard in DuckDB
    * for ONLY those pairs (O(pairs), no all-pairs), emit a row when the
    * recomputed metric clears the threshold AND equals the stored value.
    * Completeness for the Hamming<=6 radius is the multi-block
    * pigeonhole argument on [[dedupSimhash]]'s complete 300-doc oracle;
    * runtime vs that slice (see BENCH) is the sub-quadratic evidence —
    * 16x the documents for far less than 256x the time.
    */
  private[graft] lazy val simhashFullDir = s"$artifactRoot/simhashfull"

  /** Per-dataset SimHash artifact ([[standing]], the sparseIndexPath
    * pattern — r12 verdict item 6): bag groups + one signature per
    * group persist once per dataset dir; every dedup run reads them
    * and pays only the banding join + verify. The simhash math stays
    * content-gated from source by the capped sibling q_dedup_simhash
    * (complete oracle) and DedupSpec's fingerprint determinism rows.
    */
  private[graft] def simhashArtifactPath(s: SparkSession, d: String): String =
    standing(s"simhashsigs:$d") {
      val base = s"$simhashFullDir/${dirTag(d)}"
      val docs = t(s, d, "documents").filter(pmod(col("doc_id"), lit(2)) === 0)
      val groups = Dedup.bagGroups(docs, "text", "doc_id")
      groups.write.mode("overwrite").parquet(s"$base/groups.parquet")
      val repDocs = docs.join(groups.select(col("rep").as("doc_id")),
          Seq("doc_id"), "left_semi")
        // reuse: two writes read the representatives (standing build,
        // with the bagGroups pin: run 1 3.62 s pinned vs 4.60 s unpinned)
        .localCheckpoint()
      Dedup.simHash(repDocs, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$base/sigs.parquet")
      // representative word counts ship WITH the signatures: the exact
      // bag-Jaccard verify needs them every run, and they are a build
      // product of the same representative scan
      repDocs.select(col("doc_id").as("_id"),
          explode(split(trim(col("text")), "\\s+")).as("_w"))
        .filter(length(col("_w")) > 0)
        .groupBy("_id", "_w").agg(count(lit(1)).as("_c"))
        .write.mode("overwrite").parquet(s"$base/counts.parquet")
      base
    }

  private[graft] def dedupSimhashFull(s: SparkSession, d: String): DataFrame = {
    // Half-corpus slice (doc_id % 2 == 0, applied at artifact build in
    // [[simhashArtifactPath]]): candidate-join volume within a band
    // bucket is quadratic in the slice, and the dump-and-verify
    // oracle (soundness over exactly the emitted pairs) needs no slice
    // coordination. Still 80x the 300-doc complete-oracle sibling, so
    // the sub-quadratic-scaling evidence stands.
    // Everything below the expansion runs per distinct word BAG, not per
    // document: identical bags collapse before banding (their pairs are
    // emitted directly at J=1 — identical multisets, no verify needed),
    // and both the candidate join and the exact bag-Jaccard verify see
    // one representative per group. On this 10x-duplicated corpus that
    // is ~100x less candidate-join work; at crawl scale it is the
    // difference between paying for raw rows and paying for content.
    val base = simhashArtifactPath(s, d)
    val groups = TableReads.read(s, s"$base/groups.parquet")
    val gpairs = Dedup.simHashPairsFromSigs(
      TableReads.read(s, s"$base/sigs.parquet"), maxHamming = 6, pieces = 8)
    // verify against the PERSISTED representative word counts (part of
    // the same artifact — a rep's bag is its group's bag, so the metric
    // is unchanged); the pair list materializes internally, so the
    // banding self-join runs exactly once.
    val verified = Dedup.exactBagJaccardFromCounts(
      gpairs.select(col("rep_a").as("id_a"), col("rep_b").as("id_b")),
      TableReads.read(s, s"$base/counts.parquet"), minJaccard = 0.8)
    val pairs = Dedup.expandGroupPairs(
        verified.select(col("id_a").as("rep_a"), col("id_b").as("rep_b"),
          col("bag_jaccard")), groups)
      .unionByName(Dedup.intraGroupPairs(groups)
        .withColumn("bag_jaccard", lit(1.0)))
    TableReads.overwrite(pairs.coalesce(1), s"$simhashFullDir/pairs.parquet")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Batch similarity search — top-k neighbors for MANY query vectors in
    * ONE corpus pass, the shape production retrieval actually runs
    * (single-query scans don't amortize at 100 TB). The query set is
    * broadcast (small side by construction), every corpus row scores all
    * queries in a codegen'd projection, and the native `graft_topk`
    * aggregate keeps per-(task, query) heaps so the shuffle carries only
    * k rows per task per query — never the scored cross product.
    * Cosines are rounded before ranking so the ordering is
    * engine-reproducible (see [[operators.Similarity.bruteForceTopK]]).
    */
  private[graft] def annBatch(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        Similarity.toDouble(col("embedding")).as("q_vec"))
    val corpus = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("c_vec"))
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine",
        round(Similarity.dot(col("c_vec"), col("q_vec")) /
          (Similarity.norm(col("c_vec")) * Similarity.norm(col("q_vec"))), 4))
      .select(col("q_id"), col("vec_id"), col("cosine"))
    TopK.perGroupAgg(scored, Seq(col("q_id")),
        sortKey = struct(negate(col("cosine")), col("vec_id")), k = 5)
      .select(col("q_id"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Hard-negative mining ([[operators.Similarity.hardNegatives]]):
    * label-aware top-10 retrieval for the 8-query panel — wrong-label
    * high-cosine neighbors are the hard negatives a contrastive
    * trainer wants; the oracle re-ranks by brute force and replays the
    * label-disagreement flag.
    */
  private[graft] def hardNegativesQ(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(t(s, d, "embeddings"), "embedding", "vec_id",
        "label", isQuery = col("vec_id") < 8, k = 10)
      .orderBy(col("q_id"), col("rn"))

  private[graft] def embedTopk(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding")))
      .head().getSeq[Double](0)
    // roundTo=4: rank by the ROUNDED cosine (ties broken by vec_id) so the
    // ordering is engine-reproducible — ranking unrounded and rounding
    // after would make the top-k boundary depend on sub-round-off noise.
    Similarity.bruteForceTopK(emb, "embedding", "vec_id", qv, k = 10, roundTo = 4)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** k-center greedy coreset selection ([[operators.Coreset]] — Gonzalez
    * 1985's farthest-first 2-approximation, the Sener & Savarese 2018
    * training-data selection recipe): 6 picks over the embeddings table
    * from pinned seed vec_id 0, each reporting the rounded squared-L2
    * radius that elected it. The oracle replays all six rounds UNROLLED
    * (argmax of the running least-distance per round, 6-decimal rounding
    * before every comparison), so the engine's k-scan construction must
    * land on the identical (round, vec_id, radius) table.
    */
  /** The 6-pick selection, memoized per dataset dir ([[standing]]):
    * both kcenter gates consume the same picks, and the oracles replay
    * the whole selection from source, so a stale memo fails the gate.
    */
  private[graft] def kcenterPicks(s: SparkSession, d: String): Seq[Coreset.KCenterPick] =
    standing(s"kcenter:$d:6:0") {
      Coreset.kCenterGreedy(t(s, d, "embeddings"), "embedding", "vec_id",
        k = 6, seedId = 0L)
    }

  private[graft] def kcenterSelect(s: SparkSession, d: String): DataFrame =
    Coreset.kCenterSelect(s, kcenterPicks(s, d), "vec_id")
      .orderBy(col("round"))

  /** Coverage readout of the same 6-pick selection: nearest-center
    * assignment (rounded d2, ties to the earliest pick) with per-center
    * counts, exact-DECIMAL mean d2, and max d2 — the max over centers is
    * the covering radius the greedy invariant promises a 7th pick would
    * report. */
  private[graft] def kcenterCoverage(s: SparkSession, d: String): DataFrame =
    Coreset.kCenterCoverage(t(s, d, "embeddings"), "embedding", "vec_id",
        kcenterPicks(s, d))
      .orderBy(col("round"))

  /** MEASURED selection-quality readout (the q_ann_recall philosophy
    * applied to diversity selection): the greedy picks' covering radius²
    * against a deterministic pseudo-random 6-selection (rank by
    * md5(vec_id), the repo's replayable hash) over the same corpus —
    * what farthest-first actually buys. Reported honestly, not
    * asserted: greedy's 2-approximation bounds it against OPT, not
    * against a lucky draw (the planted-geometry assertion where greedy
    * provably wins lives in CoresetSpec). The oracle replays the full
    * greedy selection (unrolled CTEs), the hash draw, and both
    * covering radii.
    */
  private[graft] def kcenterVsRandom(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val greedyCenters = kcenterPicks(s, d).map(_.center.toArray)
    val rndCenters = emb
      .select(Similarity.toDouble(col("embedding")).as("e"),
        md5(col("vec_id").cast(StringType).cast(BinaryType)).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(6)
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    Coreset.coveringRadiusSq(emb, "embedding", greedyCenters, "greedy_r2")
      .crossJoin(
        Coreset.coveringRadiusSq(emb, "embedding", rndCenters, "random_r2"))
      .select(lit(6L).as("k"), col("greedy_r2"), col("random_r2"),
        round(col("greedy_r2") / col("random_r2"), 4).as("ratio"))
  }

  /** Greedy max-coverage selection ([[operators.MaxCover]] — Nemhauser
    * et al. 1978 greedy over hashed uni+bigram feature buckets, the
    * coverage-space complement of the k-center family): 5 picks over
    * the documents table at B=1024, each reporting its exact integer
    * marginal gain and the running covered-bucket total. The picks are
    * memoized per dataset ([[standing]]); the oracle replays all five
    * rounds UNROLLED — per-doc uncovered counts, (gain DESC, id ASC)
    * argmax, covered-set union — from the same md5 bucket hash, so a
    * stale memo fails the gate.
    */
  private[graft] def maxcoverPicks(s: SparkSession, d: String): Seq[MaxCover.CoverPick] =
    standing(s"maxcover:$d:5:1024") {
      val pairs = MaxCover.featurePairs(t(s, d, "documents"), "text",
        "doc_id", buckets = 1024)
        .localCheckpoint() // loop: every greedy round reads the pair table
      MaxCover.greedyMaxCover(pairs, k = 5)
    }

  private[graft] def maxcoverSelect(s: SparkSession, d: String): DataFrame =
    MaxCover.coverSelect(s, maxcoverPicks(s, d), "doc_id")
      .orderBy(col("round"))

  /** Budgeted max-coverage ([[operators.MaxCover.greedyBudgetCover]] —
    * the Khuller–Moss–Naor gain/cost ratio rule): pick documents
    * maximizing newly-covered vocabulary buckets PER TOKEN under a
    * 60-token budget, 6 rounds max (documents cost 10-100 tokens here,
    * so the affordability filter binds after the first few picks and
    * the run can stop early on an exhausted budget — both engines
    * replay that stop). Cost = the document's lowercased
    * whitespace token count (the same token stream the features hash
    * from), attached to the pair table with ONE build-time join (the
    * memo amortizes it; per-round scans carry the cost column for
    * free). The oracle replays every round's affordability filter,
    * integer floor-division ratio argmax, budget arithmetic, and
    * covered-set union unrolled — empty rounds (nothing affordable)
    * produce no row in either engine, so early stop is hash-gated too.
    */
  private[graft] def maxcoverBudgetPicks(s: SparkSession, d: String): Seq[MaxCover.BudgetPick] =
    standing(s"maxcoverbudget:$d:60:6:1024") {
      val docs = t(s, d, "documents")
      val costs = docs.select(col("doc_id").as("id"),
        size(TextAnalysis.words(lower(col("text")))).cast(LongType).as("cost"))
      val pairs = MaxCover.featurePairs(docs, "text", "doc_id",
        buckets = 1024).join(costs, "id")
        .localCheckpoint() // loop: every greedy round reads the pair table
      MaxCover.greedyBudgetCover(pairs, budget = 60L, maxRounds = 6)
    }

  private[graft] def maxcoverBudget(s: SparkSession, d: String): DataFrame =
    MaxCover.budgetSelect(s, maxcoverBudgetPicks(s, d), "doc_id")
      .orderBy(col("round"))

  private[graft] def maxcoverBudgetOracle(budget: Long, maxRounds: Int,
      buckets: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH w AS (SELECT doc_id, " +
      "list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
      "x -> len(x) > 0) AS ws FROM documents),\n"
    sb ++= "uni AS (SELECT doc_id, unnest(ws) AS g FROM w),\n"
    sb ++= "bi AS (SELECT doc_id, ws[t.i - 1] || ' ' || ws[t.i] AS g " +
      "FROM w, unnest(range(2, len(ws) + 1)) AS t(i) WHERE len(ws) >= 2),\n"
    sb ++= "feats AS (SELECT DISTINCT doc_id AS id, " +
      s"CAST(concat('0x', substr(md5(g), 1, 6)) AS BIGINT) % $buckets " +
      "AS bucket FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),\n"
    sb ++= "dcost AS (SELECT doc_id AS id, len(ws) AS cost FROM w),\n"
    sb ++= "fc AS (SELECT f.id, f.bucket, c.cost FROM feats f " +
      "JOIN dcost c ON f.id = c.id),\n"
    for (i <- 1 to maxRounds) {
      // MATERIALIZED: each round's CTEs are referenced by several later
      // rounds — inlined (DuckDB's default) the CTE tree re-evaluates
      // exponentially in maxRounds; materialization keeps the replay
      // linear, exactly like the engine's one-scan-per-round loop.
      val remaining =
        if (i == 1) budget.toString
        else s"$budget - (SELECT s FROM s${i - 1})"
      val notIn =
        if (i == 1) ""
        else s" AND bucket NOT IN (SELECT bucket FROM cov${i - 1})"
      sb ++= s"g$i AS MATERIALIZED (SELECT id, count(*) AS g, max(cost) AS cost " +
        s"FROM fc WHERE cost <= $remaining$notIn GROUP BY 1),\n"
      sb ++= s"p$i AS MATERIALIZED (SELECT id, g, cost FROM g$i " +
        "ORDER BY (g * 1000000) // cost DESC, id LIMIT 1),\n"
      val prevSpent = if (i == 1) "0" else s"(SELECT s FROM s${i - 1})"
      sb ++= s"s$i AS MATERIALIZED (SELECT $prevSpent + " +
        s"COALESCE((SELECT cost FROM p$i), 0) AS s),\n"
      val prevCov = if (i == 1) "" else s"SELECT bucket FROM cov${i - 1} UNION "
      sb ++= s"cov$i AS MATERIALIZED (${prevCov}SELECT bucket FROM feats " +
        s"WHERE id = (SELECT id FROM p$i)),\n"
      sb ++= s"t$i AS MATERIALIZED (SELECT count(*) AS c FROM cov$i),\n"
    }
    sb ++= "sel AS (\n" + (1 to maxRounds).map(i =>
      s"  SELECT CAST($i AS BIGINT) AS round, id AS doc_id, g AS gain, " +
        s"cost, (SELECT CAST(s AS BIGINT) FROM s$i) AS spent, " +
        s"(SELECT CAST(c AS BIGINT) FROM t$i) AS covered FROM p$i")
      .mkString("\n  UNION ALL\n") +
      ")\nSELECT round, doc_id, gain, cost, spent, covered FROM sel " +
      "ORDER BY round"
    sb.toString
  }

  private[graft] def maxcoverOracle(k: Int, buckets: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH w AS (SELECT doc_id, " +
      "list_filter(string_split_regex(trim(lower(text)), '\\s+'), " +
      "x -> len(x) > 0) AS ws FROM documents),\n"
    sb ++= "uni AS (SELECT doc_id, unnest(ws) AS g FROM w),\n"
    sb ++= "bi AS (SELECT doc_id, ws[t.i - 1] || ' ' || ws[t.i] AS g " +
      "FROM w, unnest(range(2, len(ws) + 1)) AS t(i) WHERE len(ws) >= 2),\n"
    sb ++= "feats AS (SELECT DISTINCT doc_id AS id, " +
      s"CAST(concat('0x', substr(md5(g), 1, 6)) AS BIGINT) % $buckets " +
      "AS bucket FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),\n"
    for (i <- 1 to k) {
      val notIn =
        if (i == 1) ""
        else s" WHERE bucket NOT IN (SELECT bucket FROM cov${i - 1})"
      // MATERIALIZED: cov/p CTEs feed several later rounds — inlined
      // (DuckDB's default) the replay tree re-evaluates exponentially
      // in k, which only shows at corpus scale (fine at sf0.01, stalls
      // at sf1); materialization keeps it linear like the engine loop.
      sb ++= s"g$i AS MATERIALIZED (SELECT id, count(*) AS g FROM feats$notIn GROUP BY 1),\n"
      sb ++= s"p$i AS MATERIALIZED (SELECT id, g FROM g$i ORDER BY g DESC, id LIMIT 1),\n"
      val prev = if (i == 1) "" else s"SELECT bucket FROM cov${i - 1} UNION "
      sb ++= s"cov$i AS MATERIALIZED (${prev}SELECT bucket FROM feats " +
        s"WHERE id = (SELECT id FROM p$i)),\n"
      sb ++= s"t$i AS MATERIALIZED (SELECT count(*) AS c FROM cov$i),\n"
    }
    sb ++= "sel AS (\n" + (1 to k).map(i =>
      s"  SELECT CAST($i AS BIGINT) AS round, id AS doc_id, g AS gain, " +
        s"(SELECT CAST(c AS BIGINT) FROM t$i) AS covered FROM p$i")
      .mkString("\n  UNION ALL\n") +
      ")\nSELECT round, doc_id, gain, covered FROM sel ORDER BY round"
    sb.toString
  }

  /** Shared unrolled-CTE prefix of the two k-center oracles: dN is every
    * point's running least squared distance after N centers (6-decimal
    * rounding before any comparison, exactly like the engine), cN is
    * round N's (dmin DESC, vec_id) argmax row. The k-round loop the
    * engine runs becomes k-1 chained CTEs the oracle replays literally —
    * the q_bpe_train unrolled-replay technique on vectors.
    */
  private[graft] def kcenterCtes(k: Int): String = {
    def dist(e: String, c: String) =
      s"round(list_dot_product($e, $e) - 2 * list_dot_product($e, $c) + " +
        s"list_dot_product($c, $c), 6)"
    val sb = new StringBuilder
    sb ++= "WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
      "FROM embeddings),\n"
    sb ++= "d1 AS (SELECT emb.vec_id, emb.e, " + dist("emb.e", "s.e") +
      " AS dmin FROM emb, (SELECT e FROM emb WHERE vec_id = 0) s),\n"
    for (i <- 2 to k) {
      sb ++= s"c$i AS (SELECT vec_id, e, dmin FROM d${i - 1} " +
        "ORDER BY dmin DESC, vec_id LIMIT 1),\n"
      if (i < k)
        sb ++= s"d$i AS (SELECT d.vec_id, d.e, least(d.dmin, " +
          dist("d.e", s"c$i.e") + s") AS dmin FROM d${i - 1} d, c$i),\n"
    }
    sb.toString
  }

  /** The `WHERE dmin > 0` on every non-seed arm replays the engine's
    * early stop: when fewer than k distinct vectors exist, the argmax
    * dmin collapses to 0 (every remaining point IS a center) and the
    * engine stops — dmin is non-increasing across rounds, so filtering
    * each arm reproduces the truncated selection exactly.
    */
  private[graft] def kcenterSelectOracle(k: Int): String =
    kcenterCtes(k) +
      "sel AS (SELECT CAST(1 AS BIGINT) AS round, CAST(0 AS BIGINT) AS vec_id, " +
      "CAST(NULL AS DOUBLE) AS radius\n" +
      (2 to k).map(i =>
        s"  UNION ALL SELECT $i, vec_id, dmin FROM c$i WHERE dmin > 0").mkString("\n") +
      ")\nSELECT round, vec_id, radius FROM sel ORDER BY round"

  private[graft] def kcenterVsRandomOracle(k: Int): String = {
    def dist(e: String, c: String) =
      s"round(list_dot_product($e, $e) - 2 * list_dot_product($e, $c) + " +
        s"list_dot_product($c, $c), 6)"
    kcenterCtes(k) +
      "cents AS (SELECT vec_id, e FROM emb WHERE vec_id = 0\n" +
      (2 to k).map(i =>
        s"  UNION ALL SELECT vec_id, e FROM c$i WHERE dmin > 0").mkString("\n") +
      "),\n" +
      "rnd AS (SELECT vec_id, e FROM emb " +
      s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),\n" +
      "gm AS (SELECT emb.vec_id AS pid, min(" + dist("emb.e", "cents.e") +
      ") AS md FROM emb, cents GROUP BY 1),\n" +
      "rm AS (SELECT emb.vec_id AS pid, min(" + dist("emb.e", "rnd.e") +
      ") AS md FROM emb, rnd GROUP BY 1),\n" +
      "g AS (SELECT max(md) AS greedy_r2 FROM gm),\n" +
      "r AS (SELECT max(md) AS random_r2 FROM rm)\n" +
      s"SELECT CAST($k AS BIGINT) AS k, greedy_r2, random_r2, " +
      "round(greedy_r2 / random_r2, 4) AS ratio FROM g, r"
  }

  private[graft] def kcenterCoverageOracle(k: Int): String = {
    def dist(e: String, c: String) =
      s"round(list_dot_product($e, $e) - 2 * list_dot_product($e, $c) + " +
        s"list_dot_product($c, $c), 6)"
    kcenterCtes(k) +
      "cents AS (SELECT CAST(1 AS BIGINT) AS round, vec_id, e FROM emb " +
      "WHERE vec_id = 0\n" +
      (2 to k).map(i =>
        s"  UNION ALL SELECT $i, vec_id, e FROM c$i WHERE dmin > 0").mkString("\n") +
      "),\n" +
      "assign AS (SELECT pid, round, cid, d, row_number() OVER " +
      "(PARTITION BY pid ORDER BY d, round) AS rk FROM\n" +
      "  (SELECT emb.vec_id AS pid, c.round, c.vec_id AS cid, " +
      dist("emb.e", "c.e") + " AS d FROM emb, cents c))\n" +
      "SELECT round, cid AS vec_id, count(*) AS n_assigned,\n" +
      "  round(CAST(sum(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / count(*), 4) " +
      "AS avg_d2,\n" +
      "  max(d) AS max_d2\n" +
      "FROM assign WHERE rk = 1 GROUP BY round, cid ORDER BY round"
  }

  /** Same retrieval shape as [[embedTopk]] but ranked by the int8-
    * quantized cosine — the 4x-smaller-footprint scale path (see
    * [[operators.Similarity.withInt8Codes]]). The oracle recomputes the
    * identical quantizer in DuckDB, so this gates the quantization math
    * itself, not just the ranking.
    */
  private[graft] def embedQuantized(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding")))
      .head().getSeq[Double](0)
    Similarity.int8TopK(emb, "embedding", "vec_id", qv, k = 10, roundTo = 4)
      .orderBy(col("q_cosine").desc, col("vec_id"))
  }

  /** Data-quality expectations over the documents corpus — the
    * validation gate a snapshot passes before training sees it. One
    * aggregate pass for all row-level checks plus the exact-unique
    * plane (see [[operators.Expectations]]).
    */
  private[graft] def expectationsQ(s: SparkSession, d: String): DataFrame = {
    import operators.Expectations._
    Expectations.validate(t(s, d, "documents"), Seq(
      RowCountAtLeast(100),
      Unique("doc_id"),
      Complete("doc_id"),
      Complete("text"),
      InRange("n_chars", 1, 100000),
      // second band on the SAME column (tolerant distribution check) —
      // gates the r16 parameterized constraint names: both bands report
      // under self-describing, deterministically ordered names
      InRange("n_chars", 1, 2000, minRatio = 0.5),
      InSet("lang", Seq("en", "de", "es", "fr", "zh")),
      MatchesPattern("source", "^src[0-9]+$"),
      Satisfies("consistent(n_chars)", "n_chars",
        col("n_chars") === length(col("text")))))
  }

  /** Sliding-window chunking (50-token chunks, 10-token overlap) — the
    * long-document context-prep step (see
    * [[operators.TextAnalysis.chunkWords]]).
    */
  private[graft] def chunkOverlap(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkWords(t(s, d, "documents"), "text", "doc_id",
        chunkSize = 50, overlap = 10)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Chunk-level BM25 retrieval — the RAG indexing composition: the
    * corpus splits into 50-token / 10-overlap chunks
    * ([[chunkOverlap]]'s construction) and BM25 ranks CHUNKS, so the
    * retrieved unit is a passage that fits a context window, not a
    * whole document ([[operators.TermIndex.bm25TopK]] unchanged —
    * chunk ids pack as doc_id·10^6 + chunk_id and unpack in the
    * output; the multiplier bounds documents at a million chunks
    * (~40M tokens at stride 40) and the pack is GUARDED: a chunk_id
    * at or beyond the multiplier would silently misattribute the
    * passage to a neighboring doc_id, and since the oracle packs
    * identically the gate could never catch it — so the engine side
    * raises instead). The oracle chains both siblings' oracle CTEs.
    */
  private[graft] def chunkRetrieval(s: SparkSession, d: String): DataFrame = {
    val packWidth = 1000000L
    val chunks = TextAnalysis.chunkWords(t(s, d, "documents"), "text",
        "doc_id", chunkSize = 50, overlap = 10)
      .select((col("doc_id") * packWidth +
        when(col("chunk_id") < packWidth, col("chunk_id"))
          .otherwise(raise_error(concat(lit("chunk_id overflows the "),
            lit(packWidth).cast(StringType), lit("-wide id packing: "),
            col("chunk_id").cast(StringType)))))
        .as("cid"),
        col("chunk_text"))
    TermIndex.bm25TopK(chunks, "chunk_text", "cid",
        Seq("spark", "merge", "window"), k = 10)
      .select(expr(s"cid div $packWidth").as("doc_id"),
        pmod(col("cid"), lit(packWidth)).as("chunk_id"),
        col("score"), col("rank"))
      .orderBy(col("rank"))
  }

  private[graft] def embedAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding")))
      .head().getSeq[Double](0)
    // 4 tables x 8 planes, Hamming<=1 probes: scans ~1-(1-9/256)^4 = 13%
    // of the corpus; recall compounds across tables (vs 3.5% scan but low
    // recall for one table). The oracle reproduces the bucket filter
    // exactly from the same inlined hyperplane constants.
    Similarity.lshTopK(emb, "embedding", "vec_id", qv,
        k = 10, planes = 8, tables = 4, roundTo = 4)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** ANN recall@10 evaluation — the eval-harness query every ANN
    * deployment runs before trusting an index: the LSH result set
    * ([[embedAnnLsh]]'s exact configuration) scored against the exact
    * brute-force top-10 ([[embedTopk]]'s formulation). Both sides are
    * independently gated queries; this gate pins their INTERSECTION —
    * an approximate index silently losing recall turns this row red
    * even while the LSH query itself stays self-consistent. The
    * oracle composes both sides' oracle SQL verbatim as nested CTEs.
    */
  private[graft] def annRecall(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding"))).head().getSeq[Double](0)
    // TRUE-NEIGHBOR recall (r16): the query vector is excluded from both
    // rankings — counting the guaranteed self-hit (cosine 1.0, bucket
    // XOR 0) inflated every config's recall@10 by a free 0.1 and let a
    // 7/9-true-recall config read as exactly the 0.8 shipping bar.
    val corpus = emb.filter(col("vec_id") =!= 0)
    val approx = Similarity.lshTopK(corpus, "embedding", "vec_id", qv,
      k = 10, planes = 8, tables = 4, roundTo = 4).select(col("vec_id"))
    val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", qv,
      k = 10, roundTo = 4).select(col("vec_id"))
    exact.join(approx, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        round(col("n_hits").cast(DoubleType) / lit(10.0), 6).as("recall"))
  }

  /** Query panel for the production-recall ANN gate: ten fixed vector
    * ids present at every generated scale (embeddings has >= 500 rows
    * from sf0.001 up), so the recall estimate averages over queries
    * instead of riding one query's luck.
    */
  private[graft] val annPanelIds: Seq[Long] = (0 to 9).map(_ * 50L)

  /** PRODUCTION-recall ANN gate (r11 verdict item 3): the honest
    * [[annRecall]] eval measured the 4x8/Hamming<=1 config at
    * recall@10 = 0.3 — the "don't ship this index" answer. This gate
    * runs the multi-probe config that DOES ship (8 tables x 8 planes,
    * Hamming <= 2 — measured TRUE-NEIGHBOR mean recall@10 0.92-0.97 at
    * sf0.001/0.01/0.1 over this panel since the r16 self-hit exclusion;
    * 0.98 under the old self-inclusive readout) and
    * ASSERTS the >= 0.8 bar: the engine emits its one summary row only
    * when the panel-mean recall clears 0.8, while the oracle recomputes
    * the UNFILTERED recall from source — a config regression below the
    * bar yields engine 0 rows vs oracle 1 row and turns the gate red.
    * The deliberate engine/oracle asymmetry IS the assertion.
    *
    * All ten queries ride ONE Spark job: per-query LSH top-10 and exact
    * top-10 subplans union into a single count — no per-query
    * collect/job loop (the query vectors arrive in one batched
    * collect).
    */
  private[graft] def annRecallHi(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qvs = DriverRows.collect(emb.filter(col("vec_id").isin(annPanelIds: _*))
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("e")),
        annPanelIds.size, "ANN recall panel vectors")
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val hits = annPanelIds.map { qid =>
      // r12 ADVICE: fail with a diagnosable message (not a bare
      // NoSuchElementException) if a generated dataset ever lacks a
      // panel vector — the panel contract is vec_id 0,50,...,450.
      val qv = qvs.getOrElse(qid,
        sys.error(s"ANN recall panel vector $qid missing from embeddings " +
          s"(have ${qvs.size} of ${annPanelIds.size} panel ids)"))
      // true-neighbor recall: self-hit excluded (see annRecall)
      val corpus = emb.filter(col("vec_id") =!= qid)
      val approx = Similarity.lshTopK(corpus, "embedding", "vec_id", qv,
        k = 10, planes = 8, tables = 8, roundTo = 4, maxHamming = 2)
        .select(col("vec_id"))
      val exact = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", qv,
        k = 10, roundTo = 4).select(col("vec_id"))
      exact.join(approx, Seq("vec_id"), "left_semi")
        .select(lit(qid).as("qid"), col("vec_id"))
    }.reduce(_ unionAll _)
    hits.agg(count(lit(1)).as("n_hits"))
      .select(lit(annPanelIds.size).as("n_queries"), lit(10).as("k"),
        col("n_hits"),
        round(col("n_hits").cast(DoubleType) /
          lit(annPanelIds.size * 10.0), 6).as("recall"))
      .filter(col("recall") >= 0.8)
  }

  /** Matryoshka prefix dims measured by [[matryoshkaRecall]] — MRL's
    * power-of-two nesting (Kusupati et al. 2022) under the 64-dim corpus.
    */
  private[graft] val matryoshkaDims = Seq(8, 16, 32)

  /** Matryoshka / coarse-to-fine ANN readout (Kusupati et al. 2022:
    * nested prefix dims of one embedding carry usable geometry): over
    * the [[annPanelIds]] panel, measure TRUE-NEIGHBOR recall@10 of
    * (a) DIRECT prefix-dim ranking — cosine on the first d of 64 dims —
    * and (b) the production COARSE-TO-FINE path: shortlist 50 by
    * prefix-d cosine, re-rank the shortlist by full-dim cosine. At
    * 100 TB (b) is the shape that matters: the corpus scan reads d/64
    * of the vector bytes (a pruned column of a dim-major layout) and
    * full vectors are fetched for 50 rows per query — the readout
    * quantifies the recall cost of each d. One job: every (query, doc)
    * pair carries the full cosine and each prefix cosine; all windows
    * share the qid partitioning (one shuffle, per-dim sorts).
    *
    * The synthetic iid embeddings are the WORST case for prefix
    * ranking (every dim carries equal independent signal, so a d-dim
    * prefix is a pure d/64 information cut — trained MRL embeddings
    * front-load information); the measured recall is an honest floor,
    * and the rerank column shows the shortlist recovering most of it.
    * Measured (sf0.001/0.01/0.1): direct d=8 0.08/0.10/0.04,
    * d=16 0.08/0.19/0.09, d=32 0.31/0.36/0.28; reranked
    * d=8 0.26/0.41/0.09, d=16 0.38/0.56/0.28, d=32 0.69/0.80/0.56 —
    * the d=32 coarse-to-fine path recovers 2-2.4x its direct recall
    * from a 50-row full-vector fetch per query, and recall falls with
    * corpus size exactly as the iid worst-case predicts.
    */
  private[graft] def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val k = 10
    val m = 50
    val panel = broadcast(emb.filter(col("vec_id").isin(annPanelIds: _*))
      .select(col("vec_id").as("qid"),
        Similarity.toDouble(col("embedding")).as("qv")))
    def cosOf(av: Column, bv: Column): Column =
      round(Similarity.dot(av, bv) /
        (Similarity.norm(av) * Similarity.norm(bv)), 4)
    val pairs = emb
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("cv"))
      .crossJoin(panel)
      .filter(col("vec_id") =!= col("qid")) // true-neighbor: self excluded
    val scored = matryoshkaDims.foldLeft(
        pairs.withColumn("fs", cosOf(col("cv"), col("qv")))) { (df, dm) =>
      df.withColumn(s"ps_$dm",
        cosOf(slice(col("cv"), 1, dm), slice(col("qv"), 1, dm)))
    }
    val byQ = Window.partitionBy(col("qid"))
    val ranked = matryoshkaDims.foldLeft(
        scored.withColumn("rn_full", row_number().over(
          byQ.orderBy(col("fs").desc, col("vec_id"))))) { (df, dm) =>
      df.withColumn(s"rn_$dm", row_number().over(
          byQ.orderBy(col(s"ps_$dm").desc, col("vec_id"))))
        // re-rank WITHIN the prefix shortlist by the full cosine: the
        // null key parks non-shortlist rows after every candidate, so
        // row_number of a shortlist row is its full-cosine rank there
        .withColumn(s"rrn_$dm", row_number().over(
          byQ.orderBy(when(col(s"rn_$dm") <= m, col("fs")).desc_nulls_last,
            col("vec_id"))))
    }
    val aggCols = matryoshkaDims.flatMap(dm => Seq(
      sum(when(col("rn_full") <= k && col(s"rn_$dm") <= k, 1L)
        .otherwise(0L)).as(s"direct_$dm"),
      sum(when(col("rn_full") <= k && col(s"rrn_$dm") <= k, 1L)
        .otherwise(0L)).as(s"rerank_$dm")))
    val one = ranked.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = matryoshkaDims.map(dm =>
      s"$dm, direct_$dm, rerank_$dm").mkString(", ")
    val denom = annPanelIds.size * k.toDouble
    one.select(expr(s"stack(${matryoshkaDims.size}, $stackArgs) " +
        "as (dim, direct_hits, rerank_hits)"))
      .select(col("dim"), lit(annPanelIds.size).as("n_queries"),
        lit(k).as("k"), col("direct_hits"),
        round(col("direct_hits").cast(DoubleType) / lit(denom), 6)
          .as("direct_recall"),
        col("rerank_hits"),
        round(col("rerank_hits").cast(DoubleType) / lit(denom), 6)
          .as("rerank_recall"))
      .orderBy(col("dim"))
  }

  /** MMR diversity re-rank under the gate ([[operators.Similarity
    * .mmrRerank]]): query vec_id 0 (true-neighbor: excluded from the
    * corpus side), shortlist 50 by cosine, greedy k=10 at lambda 0.7.
    * The oracle replays the greedy selection as UNROLLED CTEs (the
    * k-center discipline — no engine state leaks into the check): each
    * step scores every unpicked candidate `0.7*rel - 0.3*max(sim to
    * picked)` from the same rounded-4 inputs and picks the arg-max with
    * id tie-break.
    */
  private[graft] def mmrRerankQ(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding"))).head().getSeq[Double](0)
    Similarity.mmrRerank(emb.filter(col("vec_id") =!= 0), "embedding",
        "vec_id", qv, k = 10, shortlist = 50, lambda = 0.7)
      .orderBy(col("mmr_rank"))
  }

  /** IVF ANN under the oracle gate: centroid training is deterministic
    * (seed-free Lloyd's on an id-ordered sample), the query DUMPS the
    * trained centroids to parquet, and the oracle replays cell assignment
    * and probe selection from that file with the exact same score formula
    * (2 v.c - ||c||^2, sequential sums) — bitwise-equal scores, so the
    * approximate result set is exactly checkable, like q_embed_ann_lsh.
    */
  private[graft] lazy val ivfDir = s"$artifactRoot/ivf"

  private[graft] def embedIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val cs = IvfIndex.trainCentroids(emb, "embedding", "vec_id", nlist = 8, iters = 5)
    cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$ivfDir/centroids.parquet")
    val qv = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDouble(col("embedding")))
      .head().getSeq[Double](0)
    IvfIndex.ivfTopK(emb, "embedding", "vec_id", qv, cs,
        k = 10, nprobe = 4, roundTo = 4)
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  private[graft] lazy val embedDriftDir = s"$artifactRoot/embdrift"

  /** EMBEDDING-distribution drift between two corpus snapshots — the
    * semantic sibling of the scalar monitors (q_drift_psi watches a
    * numeric column's buckets, q_ks_test its CDF; this watches WHERE
    * the corpus lives in embedding space): vectors of both snapshots
    * are assigned to FROZEN IVF cells (centroids trained on the BASE
    * snapshot only — the production shape: the monitor's reference
    * frame is fixed when the baseline ships, so a drifting current
    * corpus cannot redefine the cells it is measured against), and the
    * per-cell mass shares feed the same clamped PSI rule as
    * q_drift_psi ([[operators.Profiling.psiOverBuckets]] — one
    * definition for both monitors). Sum psi_term for the headline
    * index; > 0.25 = the embedding distribution moved (new topic mix,
    * encoder version slip, crawler config change — shifts scalar
    * monitors can miss entirely).
    *
    * 100 TB shape: cell assignment is one scan per snapshot with
    * nlist-bounded literal centroids (scan-speed, no shuffle of
    * vectors), histograms are map-side-combinable counts over <= nlist
    * cells, and the PSI join is cell-table-sized. The corpus is never
    * pairwise-joined. The oracle replays assignment from the dumped
    * centroid table (the q_embed_ivf technique) and the PSI arithmetic
    * from the counts.
    */
  private[graft] def embedDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val cur = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val cs = IvfIndex.trainCentroids(base, "embedding", "vec_id",
      nlist = 8, iters = 5)
    cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$embedDriftDir/centroids.parquet")
    def hist(df: DataFrame, n: String): DataFrame =
      df.select(IvfIndex.cellId(col("embedding"), cs).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(n))
    Profiling.psiOverBuckets(hist(base, "n_base"), hist(cur, "n_cur"))
      .select(col("bucket").as("cell"), col("n_base"), col("n_cur"),
        col("psi_term"))
      .orderBy(col("cell"))
  }

  private[graft] lazy val ivfIncrDir = s"$artifactRoot/ivfincr"

  /** Standing IVF store (the vector-side q_sparse_knn_incr): centroids
    * trained ONCE on the standing 80% (vec_id % 5 != 0) and frozen, the
    * 80%'s assignments persisted `partitionBy(cell)` per dataset.
    */
  private[graft] def ivfStorePath(s: SparkSession, d: String): String =
    standing(s"ivfstore:$d") {
      import s.implicits._
      val base = s"$ivfIncrDir/${dirTag(d)}"
      val standing80 = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val cs = IvfIndex.trainCentroids(standing80, "embedding", "vec_id",
        nlist = 8, iters = 5)
      cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/centroids.parquet")
      IvfIndex.assign(standing80, "embedding", "vec_id", cs)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/store.parquet")
      base
    }

  /** Incremental IVF index maintenance ([[operators.IvfIndex.assign]] /
    * [[operators.IvfIndex.ivfTopKFromStore]]): the 20% of vectors with
    * vec_id % 5 == 0 arrive as a batch, are assigned under the FROZEN
    * standing-corpus centroids (one row-local scan — nothing standing
    * is touched), and the merged store serves a 3-query retrieval panel
    * at k=10, nprobe=4. The engine asserts merged == from-scratch
    * assignment of everything (exceptAll both ways — the structural
    * guarantee that incremental maintenance never degrades the index),
    * emitting rows only when they are identical; the oracle replays
    * assignment, probe selection, and cosine ranking for the whole
    * panel from the dumped centroid table (the q_embed_ivf technique),
    * so a divergent store reds the gate as 30 oracle rows vs 0.
    */
  /** Read the standing centroids once (refreshing the run-scoped
    * oracle copy at the fixed path — the found.parquet convention:
    * standing artifacts are per-dataset-tagged, oracle inputs are
    * refreshed every run), shared by the q_ivf_incr / q_ivf_recall
    * pair like [[pqRecallCodebooks]] is by the PQ pair.
    */
  private[graft] def ivfCentroids(s: SparkSession, d: String): Array[Array[Double]] = {
    val base = ivfStorePath(s, d)
    val cents = TableReads.read(s, s"$base/centroids.parquet")
      .orderBy(col("cell"))
      // reuse: a write and a collect read the sorted centroids, and
      // unpinned each re-runs the range sort (q_ivf_incr 0.79 s pinned vs
      // 1.26 s unpinned with its store pin; q_ivf_recall 0.82 vs 2.25 s)
      .localCheckpoint()
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$ivfIncrDir/centroids.parquet")
    // ivfStorePath trains nlist = 8 cells
    DriverRows.collect(cents, 8, "IVF store centroids (nlist = 8)")
      .map(_.getSeq[Double](1).toArray)
  }

  /** The 5-query panel's vectors, collected with the missing-vector
    * guard (r12 ADVICE: a panel id absent from a dataset must fail as
    * a named error, not an opaque NoSuchElementException).
    */
  private[graft] def panelVectors(s: SparkSession, d: String,
      panel: Seq[Long]): Long => Seq[Double] = {
    val qvs = DriverRows.collect(t(s, d, "embeddings").filter(col("vec_id").isin(panel: _*))
        .select(col("vec_id"), Similarity.toDouble(col("embedding"))),
        panel.size, "panel vectors")
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    qid => qvs.getOrElse(qid,
      sys.error(s"panel vector $qid missing from embeddings"))
  }

  private[graft] def ivfIncr(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val base = ivfStorePath(s, d)
    val cs = ivfCentroids(s, d)
    val incoming = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val merged = TableReads.read(s, s"$base/store.parquet")
      .select(col("id"), col("cell"), col("vec"))
      .unionByName(IvfIndex.assign(incoming, "embedding", "vec_id", cs))
      // reuse: read by the guard + every panel retrieval
      // (0.79 s pinned vs 1.26 s unpinned with the centroid pin, sf0.1)
      .localCheckpoint()
    val fresh = IvfIndex.assign(emb, "embedding", "vec_id", cs)
    val ok = merged.select(col("id"), col("cell"))
      .exceptAll(fresh.select(col("id"), col("cell")))
      .unionByName(fresh.select(col("id"), col("cell"))
        .exceptAll(merged.select(col("id"), col("cell"))))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") === 0).select(lit(1).as("_ok"))
    val panel = Seq(0L, 17L, 42L)
    val qv = panelVectors(s, d, panel)
    val res = panel.map { qid =>
      IvfIndex.ivfTopKFromStore(merged, qv(qid), cs, k = 10, nprobe = 4,
          roundTo = 4)
        .withColumn("qid", lit(qid))
    }.reduce(_ unionByName _)
    res.crossJoin(ok)
      .select(col("qid"), col("id").as("vec_id"), col("cosine"))
      .orderBy(col("qid"), col("cosine").desc, col("vec_id"))
  }

}
