package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline: what a corpus actually
  * goes through before pre-training, built entirely from the operator
  * library so every stage is individually oracle-verified and the
  * composition is one declarative plan (single pass + one window — no
  * materialization between stages):
  *
  *  1. near-exact dedup on the content fingerprint (whitespace/case
  *     normalized md5) keeping the smallest id per group;
  *  2. quality gate: composite score >= minQuality;
  *  3. language gate: keep only `keepLang` documents (stopword-heuristic
  *     language id);
  *  4. enrich with token counts + the fingerprint for downstream sharding.
  *
  * Scale: the only shuffle is the dedup window keyed by fingerprint
  * (high cardinality); every gate is a scan-speed expression filter that
  * Catalyst pushes below the window where legal.
  */
object CuratePipeline {

  /** Materialize a curated corpus for training consumption: assign the
    * deterministic train/valid/test split and write parquet partitioned
    * by split, clustered so each split lands in contiguous files.
    * Downstream loaders read `split=train/` with partition pruning —
    * no filter scan over the full corpus.
    */
  def materialize(
      curated: DataFrame,
      idCol: String,
      outDir: String,
      trainPct: Int = 80,
      validPct: Int = 10): Unit =
    TextAnalysis.withSplit(curated, idCol, trainPct, validPct)
      .repartition(col("split"))
      .write.mode("overwrite").partitionBy("split").parquet(outDir)

  /** Curation with NEAR-duplicate cluster removal in front: drop every
    * non-canonical member of an LSH-verified near-dup cluster (keep only
    * rows where id == component), then run the standard [[curate]]
    * stages. This is the shape production corpora actually ship with —
    * exact-fingerprint dedup inside [[curate]] only removes byte-level
    * duplicates, while a crawl's bulk duplication is near-dup (template
    * edits, boilerplate variants); the cluster pass deletes by the
    * TRANSITIVE closure (see [[Dedup.connectedComponents]]) so a chain
    * A~B~C keeps exactly its canonical representative.
    *
    * `clusters` is [[Dedup.clusterMembers]] output (id, component, ...).
    * Scale: the cluster relation is pair-derived — orders of magnitude
    * smaller than the corpus — so the anti-join broadcasts (or hash-
    * shuffles on the id key at worst); corpus text never shuffles here,
    * and the exact-fingerprint window inside [[curate]] still catches
    * byte-dups the candidate generation missed.
    */
  def curateNearDup(
      docs: DataFrame,
      clusters: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.7,
      keepLang: String = "en"): DataFrame =
    docs.join(
        clusters.filter(col("id") =!= col("component"))
          .select(col("id").as(idCol)),
        Seq(idCol), "left_anti")
      .transform(curate(_, textCol, idCol, minQuality, keepLang))

  /** Rejection audit — the attrition accounting every production corpus
    * publishes next to the corpus itself: per document, the FIRST stage
    * of [[curate]] that rejected it ('dup' | 'lang' | 'quality') or
    * 'kept'. First-failure precedence mirrors the pipeline's stage
    * order exactly, so `filter(verdict == 'kept')` reproduces
    * [[curate]]'s surviving id set by construction, and a
    * `groupBy(verdict).count` IS the attrition funnel. Same plan shape
    * as [[curate]] (one fingerprint window + scan-speed expressions) —
    * the audit costs what the pipeline costs, not a second corpus pass
    * per stage.
    */
  def rejectionAudit(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.7,
      keepLang: String = "en"): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol))
    docs
      .withColumn("_fp", fp)
      .withColumn("_rn", row_number().over(w))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .transform(TextAnalysis.withQuality(_, textCol))
      .select(col(idCol),
        when(col("_rn") > 1, lit("dup"))
          .when(col("lang_pred") =!= keepLang, lit("lang"))
          .when(col("quality_score") < minQuality, lit("quality"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** One-row corpus report card — the health summary an ops dashboard
    * reads before (and after) every curation run: document and
    * unique-fingerprint counts (their gap is the exact-dup volume),
    * language and quality gate pass counts, and total token mass.
    * One corpus scan; the only shuffle is the exact distinct-
    * fingerprint count (at extreme scale swap in the HLL sketch the
    * profiling family already ships and keep this exact form for
    * audits). All-integer output, so the row is engine-exact.
    */
  def reportCard(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.7,
      keepLang: String = "en"): DataFrame = {
    val enriched = docs
      .withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .transform(TextAnalysis.withQuality(_, textCol))
      .withColumn("_ws", TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .withColumn("_bp",
        TextAnalysis.bpeishTokenCount(col(textCol)).cast("long"))
    enriched.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("_fp")).as("n_unique_fp"),
      (count(lit(1)) - countDistinct(col("_fp"))).as("n_exact_dups"),
      sum(when(col("lang_pred") === keepLang, 1L).otherwise(0L)).as("n_kept_lang"),
      sum(when(col("quality_score") >= minQuality, 1L).otherwise(0L))
        .as("n_quality_ok"),
      sum(col("_ws")).as("total_ws_tokens"),
      sum(col("_bp")).as("total_bpeish_tokens"))
  }

  def curate(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minQuality: Double = 0.7,
      keepLang: String = "en"): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol))
    docs
      .withColumn("_fp", fp)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .filter(col("lang_pred") === keepLang)
      .transform(TextAnalysis.withQuality(_, textCol))
      .filter(col("quality_score") >= minQuality)
      .select(col(idCol), col("_fp").as("fingerprint"), col("lang_pred"),
        col("quality_score"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col(textCol)).cast("long").as("bpeish_tokens"))
  }
}
