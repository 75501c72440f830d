package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the trigram contamination-pair artifact
  * — the d8/d23 member of the ingest-lifecycle family (SURVEY §2.3):
  * without it d8's pair table re-shingled the whole corpus per batch.
  *
  * The merge is STRICTLY SIMPLER than `IncrementalPassages`' — the
  * pair structure is BIPARTITE (train doc × benchmark doc): the
  * panel is fixed by contract (a benchmark release replaces it and
  * rebuilds — releases are rare and tiny), so an ingest batch of
  * train docs can only
  *
  *   - CREATE pairs between a batch doc and a panel doc (old train
  *     docs' trigram sets are immutable, panel ones too — no
  *     batch-batch or corpus-corpus pairs exist in this family);
  *   - VOID shared trigrams of existing pairs, precisely those whose
  *     corpus df crosses the boilerplate cap because of the batch —
  *     which requires the batch to CONTAIN the trigram (the
  *     batch-scoped census argument shared with d11/d24/m5).
  *
  * Merged ≡ full recompute (`PipelineQueries.pairsFromTrigramRows`
  * over the union corpus — the SAME kernel the d8/d23 artifact build
  * runs) is spec-pinned, including a cap-crossing trigram voiding an
  * old pair out of the table.
  */
object IncrementalTrigram {

  /** The training-corpus index: (doc_id, h) rows bucketed on h; rows
    * are distinct (doc, trigram) pairs, so the raw per-h row count IS
    * the document frequency.
    */
  private[operators] val Index = PostingIndex(Seq("tri" -> "h"), "doc_id", "h")

  /** The benchmark panel, bucketed on h like the index so the
    * new-pair join rides the same layout. Bench-keyed and fixed by
    * contract: never appended to, tombstoned or compacted.
    */
  private val Panel = PostingIndex(Seq("panel" -> "h"), "bench_id", "h")

  /** Persist the training-corpus trigram rows and the panel rows. */
  def buildIndex(corpusTris: DataFrame, panel: DataFrame,
      prefix: String = "graft_trigram", buckets: Int = 32): Unit = {
    Index.build(corpusTris.select(col("doc_id"), col("h")), prefix, buckets)
    Panel.build(panel.select(col("bench_id"), col("h")), prefix, buckets)
  }

  /** Fold the net-dead docs into `_tri`; the `_panel` table is untouched. */
  def compact(spark: SparkSession, prefix: String = "graft_trigram"): Unit =
    Index.compact(spark, prefix)

  /** Fold an ingest batch of TRAIN docs into the contamination-pair
    * table EXACTLY. `batchTris` is `PipelineQueries.trigramRows` of
    * the new docs; `oldPairs` the current pair table at the same
    * (cap, minShared).
    */
  def mergeBatch(spark: SparkSession, batchTris: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_trigram",
      cap: Int = PipelineQueries.ContamMaxDf,
      minShared: Int = PipelineQueries.ContamMinShared): DataFrame = {
    val bw = Checkpoints.cut(batchTris.select(col("doc_id"), col("h")))
    val panel = spark.table(s"${prefix}_panel")
    val oldP = Checkpoints.cut(oldPairs)
    // 1. batch-scoped df census: only trigrams the batch CONTAINS can
    // cross the cap or meet the new-pair join
    val sc = Index.scope(spark, prefix, bw)
    // 2. decrements: each crossing trigram has ≤ cap old train
    // holders (by the crossing definition) and the panel's holders of
    // it — every such (train, bench) pair loses one shared count;
    // pairs falling below the floor drop out
    val dec = panelPairs(sc.rows.join(broadcast(sc.crossing(cap)), Seq("h")),
      panel, "n_lost")
    val adjusted = oldP.join(dec, Seq("doc_id", "bench_id"), "left")
      .select(col("doc_id"), col("bench_id"),
        (col("n_shared") - coalesce(col("n_lost"), lit(0L))).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // 3. new pairs: batch trigrams (minus union-hot) meet the panel —
    // bipartite, so no self-join and no corpus partners at all
    val fresh = panelPairs(bw.join(broadcast(sc.hot(cap)), Seq("h"), "left_anti"),
      panel, "n_shared").filter(col("n_shared") >= minShared)
    adjusted.unionByName(fresh)
  }

  /** (doc_id, bench_id, `as` = shared-trigram count) of train rows
    * against the panel — bipartite, never a self-join.
    */
  private def panelPairs(rows: DataFrame, panel: DataFrame, as: String): DataFrame =
    rows.join(panel.select(col("h"), col("bench_id")), "h")
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as(as))

  /** One-owner ingest step ([[PostingIndex.admit]]). Returns the
    * merged pair table.
    */
  def admitBatch(spark: SparkSession, batchTris: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_trigram",
      cap: Int = PipelineQueries.ContamMaxDf,
      minShared: Int = PipelineQueries.ContamMinShared): DataFrame = {
    val bw = Checkpoints.cut(batchTris.select(col("doc_id"), col("h")))
    Index.admit(spark, prefix, bw, cap)(
      mergeBatch(spark, bw, oldPairs, prefix, cap, minShared))
  }

  /** Fold a TAKEDOWN batch out of the contamination-pair table
    * EXACTLY — the reverse lifecycle (opt-out batches are routine on a
    * crawl corpus). Corpus dfs only DECREASE, so a retraction can only
    *
    *   - DELETE the batch docs' own pairs (a broadcast anti-join);
    *   - UN-CROSS trigrams the batch CONTAINS back to df ≤ cap. Each
    *     has ≤ cap remaining live holders, so the affected train docs
    *     are a BOUNDED set whose pair rows are recomputed from scratch
    *     against the post-retraction hot set — increments can't restore
    *     a pair the old cap had pushed below `minShared` out of the
    *     table; a bounded recompute does.
    *
    * `batchTris` must be the trigram rows of the docs' ORIGINAL text
    * (docs are immutable — the family contract). Retract ≡ full
    * recompute on corpus-minus-batch is spec-pinned, including a
    * below-`minShared` pair resurrected by an un-crossing trigram.
    */
  def retractMerge(spark: SparkSession, batchTris: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_trigram",
      cap: Int = PipelineQueries.ContamMaxDf,
      minShared: Int = PipelineQueries.ContamMinShared): DataFrame = {
    val bw = Checkpoints.cut(batchTris.select(col("doc_id"), col("h")))
    val batchIds = bw.select(col("doc_id")).distinct()
    val panel = spark.table(s"${prefix}_panel")
    val oldP = Checkpoints.cut(oldPairs)
    // 1. batch-scoped census: only trigrams the batch CONTAINS can
    // un-cross; the scope's index is the corpus after this retract
    val sc = Index.scope(spark, prefix, bw)
    // 2. affected train docs: the ≤-cap remaining live holders of any
    // un-crossed trigram — recompute their pair rows from scratch
    // against the post-retraction hot set (restricted to the trigrams
    // those docs hold; every other trigram's df is untouched)
    val affIds = Checkpoints.cut(sc.rows.join(broadcast(sc.crossing(cap)), Seq("h"))
      .select(col("doc_id")).distinct())
    val affRows = Checkpoints.cut(
      sc.index.join(broadcast(affIds), Seq("doc_id"), "left_semi"))
    val hotA = sc.hotAmong(affRows.select(col("h")).distinct(), cap)
    val recomputed = panelPairs(affRows.join(broadcast(hotA), Seq("h"), "left_anti"),
      panel, "n_shared").filter(col("n_shared") >= minShared)
    // 3. keep everything else: batch pairs deleted, affected docs'
    // rows replaced by the recompute
    val keep = oldP
      .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
      .join(broadcast(affIds), Seq("doc_id"), "left_anti")
    keep.unionByName(recomputed)
  }

  /** One-owner takedown step ([[PostingIndex.retract]]). Returns the
    * merged pair table.
    */
  def retractBatch(spark: SparkSession, batchTris: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_trigram",
      cap: Int = PipelineQueries.ContamMaxDf,
      minShared: Int = PipelineQueries.ContamMinShared): DataFrame = {
    val bw = Checkpoints.cut(batchTris.select(col("doc_id"), col("h")))
    Index.retract(spark, prefix, bw, cap)(
      retractMerge(spark, bw, oldPairs, prefix, cap, minShared))
  }

  // ---------------------------------------------------------------
  // Bench fixture: the per-batch cost of keeping the pairs fresh
  // ---------------------------------------------------------------

  /** Standing bench artifacts (trigram index over every train doc but
    * each 7th, the panel, and their pair table) — Bench warms this
    * before the timed `d8x` / `d8r` runs.
    */
  private[graft] def benchFixture(spark: SparkSession, dir: String): (String, DataFrame) =
    PostingIndex.fixture(spark, dir, "bench_itri") { prefix =>
      val corpus = PipelineQueries.trainTrigramRows(spark, dir)
        .filter(col("doc_id") % 7 =!= 0)
      buildIndex(corpus, PipelineQueries.benchPanelRows(spark, dir), prefix = prefix)
      PipelineQueries.pairsFromTrigramRows(corpus,
        spark.table(s"${prefix}_panel"),
        PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    }

  /** Bench entry (`d8x_incremental_merge`): the per-ingest cost of
    * folding an every-7th-train-doc batch into the contamination-pair
    * table vs d8's full re-shingle.
    */
  def benchIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    val batch = PipelineQueries.trainTrigramRows(spark, dir)
      .filter(col("doc_id") % 7 === 0)
    mergeBatch(spark, batch, oldPairs, prefix = prefix)
  }

  /** Bench entry (`d8r_retract_merge`): the per-takedown cost of
    * folding an indexed-doc slice OUT of the pair table vs a full
    * re-shingle — `retractMerge` only (pure reads; the tombstone
    * append would mutate the standing fixture across timed runs).
    */
  def benchRetractMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    val slice = PipelineQueries.trainTrigramRows(spark, dir)
      .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
    retractMerge(spark, slice, oldPairs, prefix = prefix)
  }
}
