package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the maximal-repeat artifact — the d24
  * member of the ingest-lifecycle family (SURVEY §2.3). Repeats are
  * STRUCTURAL (runs on a diagonal), not counts, so the repair differs
  * from d11's decrements, but the same monotonicity makes it exact:
  * distinct-doc window frequency only GROWS, therefore
  *
  *   - NEW runs must involve a batch doc (old docs' window sets are
  *     immutable, and two old docs cannot gain a match);
  *   - EXISTING runs can only SHRINK or SPLIT, and only when a
  *     window they pass through CROSSES the hot cap — which requires
  *     the batch to CONTAIN that window (the batch-scoped census
  *     argument, §8l.1);
  *   - a pair is AT RISK only if BOTH docs contain a crossing window
  *     (a match at w exists only when both sides hold w), and at-risk
  *     pairs with no existing repeat row cannot gain one (runs only
  *     shrink), so the repair set is `oldRepeats ∩ crossing-pairs` —
  *     bounded by |crossing| · cap², never corpus-sized.
  *
  * A split run's surviving fragments depend on the pair's FULL match
  * structure, so at-risk pairs are RECOMPUTED from a doc-keyed copy of
  * the index — hence TWO bucketed copies of the (doc, pos, h) rows:
  * `<prefix>_wpos` on h (probes, census) and `<prefix>_wdoc` on doc_id
  * (bounded per-pair recompute). Merged ≡ full recompute is
  * spec-pinned, including a crossing that SPLITS a long run into two
  * shorter surviving fragments.
  */
object IncrementalExactSubstr {

  import ExactSubstr.runsFromMatches

  /** The (doc_id, pos, h) window rows under BOTH layouts, one
    * tombstone table governing both copies; df counts DISTINCT docs
    * (a doc repeating a window contributes several rows but one doc).
    * Appends probe presence per TABLE: a duplicated row would not fail
    * loudly — duplicate `pa` values shift `runsFromMatches`' diagonal
    * row_number chaining and silently UNDERCOUNT run lengths — so a
    * crash between the two appends must heal exactly the lagging one.
    */
  private[operators] val Index = PostingIndex(Seq("wpos" -> "h", "wdoc" -> "doc_id"),
    "doc_id", "h", distinctIds = true)

  private def rows(wins: DataFrame) = wins.select(col("doc_id"), col("pos"), col("h"))

  /** Persist the corpus window-position rows under BOTH layouts. */
  def buildIndexes(wins: DataFrame, prefix: String = "graft_substr",
      buckets: Int = 32): Unit =
    Index.build(rows(wins), prefix, buckets)

  /** Fold the net-dead docs into BOTH window layouts and truncate the history. */
  def compact(spark: SparkSession, prefix: String = "graft_substr"): Unit =
    Index.compact(spark, prefix)

  /** The index a serving consumer probes: live
    * position rows minus the maintained hot exclusion.
    */
  def servableIndex(spark: SparkSession,
      prefix: String = "graft_substr"): DataFrame =
    Index.servableIndex(spark, prefix)

  /** Fold an ingest batch into the repeat table EXACTLY. `batchWins`
    * is `ExactSubstr.windowPositions` of the NEW docs; `oldRepeats` is
    * the current artifact at the same (cap, minTok).
    */
  def mergeBatch(spark: SparkSession, batchWins: DataFrame,
      oldRepeats: DataFrame, prefix: String = "graft_substr",
      cap: Int = 100, minTok: Int = 10): DataFrame = {
    val bw = Checkpoints.cut(rows(batchWins))
    val oldR = Checkpoints.cut(oldRepeats)
    // batch-scoped census over DISTINCT docs (disjoint ids ⇒ union df
    // = index df + batch df)
    val sc = Index.scope(spark, prefix, bw)
    // hot at union counts, for every window the BATCH contains —
    // exactly the set new-pair matching can meet
    val hotNew = sc.hot(cap)
    // at-risk pairs: existing repeat rows whose docs BOTH hold a
    // crossing window (≤ cap docs per crossing window ⇒ ≤ cap² pairs
    // per window); pairs without a row cannot gain one (runs shrink).
    val atRisk = Checkpoints.cut(crossingPairs(sc, cap)
      .join(oldR.select(col("doc_a"), col("doc_b")).distinct(),
        Seq("doc_a", "doc_b"), "left_semi"))
    // at-risk windows graded at UNION counts: a window hot BEFORE the
    // batch and untouched by it must still void matches (the
    // pre-existing-oversized case)
    val dfB = sc.census.select(col("h"), (col("n_all") - col("n_idx")).as("df_b"))
    val riskRepaired = repairRuns(spark, prefix, bw, atRisk, minTok) { riskH =>
      Index.df(sc.index.join(broadcast(riskH), Seq("h"), "left_semi"), "df_c")
        .join(dfB, Seq("h"), "left")
        .filter(col("df_c") + coalesce(col("df_b"), lit(0L)) > cap)
        .select(col("h"))
    }
    // new runs: batch windows (minus union-hot) probe the index for
    // corpus partners and self-join for batch-batch partners; orient
    // each match so doc_a < doc_b with positions following the swap
    val bOk = bw.join(broadcast(hotNew), Seq("h"), "left_anti")
    // (anti ∘ semi ≡ semi ∘ anti on disjoint filters: the corpus
    // partner side is the batch-scoped rows minus the union-hot set)
    val partners = sc.rows.join(broadcast(hotNew), Seq("h"), "left_anti")
      .unionByName(bOk)
    val fresh = bOk.select(col("h"), col("doc_id").as("bd"), col("pos").as("bp"))
      .join(partners.select(col("h"), col("doc_id").as("od"), col("pos").as("op")), "h")
      .filter(col("bd") =!= col("od"))
      .select(least(col("bd"), col("od")).as("doc_a"),
        greatest(col("bd"), col("od")).as("doc_b"),
        when(col("bd") < col("od"), col("bp")).otherwise(col("op")).as("pa"),
        when(col("bd") < col("od"), col("op")).otherwise(col("bp")).as("pb"))
      .distinct() // batch-batch matches arrive once per side
    oldR.join(atRisk, Seq("doc_a", "doc_b"), "left_anti")
      .unionByName(riskRepaired)
      .unionByName(runsFromMatches(fresh, minTok))
  }

  /** Distinct (doc_a < doc_b) pairs of index docs both holding a
    * window the batch crosses (admit) or un-crosses (retract) — ≤ cap
    * holders per such window, so ≤ cap² pairs per window.
    */
  private def crossingPairs(sc: BatchScope, cap: Int): DataFrame = {
    val docs = sc.rows.join(broadcast(sc.crossing(cap)), Seq("h"))
      .select(col("h"), col("doc_id")).distinct()
    docs.select(col("h"), col("doc_id").as("doc_a"))
      .join(docs.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Bounded recompute of the `atRisk` pairs' runs from the doc-keyed
    * index, over the at-risk docs' OWN windows (never a corpus scan)
    * minus the windows `hotAt` grades hot among them. The window set is
    * bounded, so `hotAt` broadcasts it and the h-keyed index side of
    * its census stays exchange-free.
    */
  private def repairRuns(spark: SparkSession, prefix: String, bw: DataFrame,
      atRisk: DataFrame, minTok: Int)(hotAt: DataFrame => DataFrame): DataFrame = {
    val riskDocs = atRisk.select(col("doc_a").as("doc_id"))
      .unionByName(atRisk.select(col("doc_b").as("doc_id"))).distinct()
    val riskWins = Checkpoints.cut(Index.liveExcept(spark, prefix, bw, "wdoc")
      .join(broadcast(riskDocs), "doc_id"))
    val ok = riskWins.join(
      broadcast(hotAt(riskWins.select(col("h")).distinct())), Seq("h"), "left_anti")
    runsFromMatches(ok
      .select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(ok.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pb")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .join(broadcast(atRisk), Seq("doc_a", "doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb")), minTok)
  }

  /** One-owner ingest step ([[PostingIndex.admit]], both layouts).
    * Returns the merged repeat table.
    */
  def admitBatch(spark: SparkSession, batchWins: DataFrame,
      oldRepeats: DataFrame, prefix: String = "graft_substr",
      cap: Int = 100, minTok: Int = 10): DataFrame = {
    val bw = Checkpoints.cut(rows(batchWins))
    Index.admit(spark, prefix, bw, cap)(
      mergeBatch(spark, bw, oldRepeats, prefix, cap, minTok))
  }

  /** Fold a TAKEDOWN batch out of the maximal-repeat table EXACTLY —
    * the reverse lifecycle. Distinct-doc window frequency only
    * DECREASES on removal, so a retraction can only
    *
    *   - DELETE repeat rows involving a batch doc;
    *   - UN-CROSS windows the batch CONTAINS back to df ≤ cap, which
    *     can REJOIN split runs, EXTEND fragments and CREATE rows for
    *     pairs that had none — so, unlike the admit merge, the at-risk
    *     set is every remaining-doc pair both holding an un-crossed
    *     window (≤ cap² per window), recomputed from the doc-keyed
    *     index at post-retraction counts.
    *
    * `batchWins` must be `windowPositions` of the docs' ORIGINAL text
    * (immutability is the family contract). Retract ≡ `maximalRepeats`
    * full recompute on corpus-minus-batch is spec-pinned, including a
    * run resurrected by an un-crossing window.
    */
  def retractMerge(spark: SparkSession, batchWins: DataFrame,
      oldRepeats: DataFrame, prefix: String = "graft_substr",
      cap: Int = 100, minTok: Int = 10): DataFrame = {
    val bw = Checkpoints.cut(rows(batchWins))
    val batchIds = bw.select(col("doc_id")).distinct()
    val oldR = Checkpoints.cut(oldRepeats)
    // batch-scoped distinct-doc census: only windows the batch's docs
    // HOLD can un-cross; the scope's index is the corpus after this
    // retract, tombstones landed or not
    val sc = Index.scope(spark, prefix, bw)
    // at-risk pairs: ALL remaining-doc pairs sharing an un-crossed
    // window (runs can appear where none existed)
    val atRisk = Checkpoints.cut(crossingPairs(sc, cap))
    // at-risk windows graded at POST-retraction counts
    val riskRepaired = repairRuns(spark, prefix, bw, atRisk, minTok)(
      sc.hotAmong(_, cap))
    // keep everything else: batch rows deleted, at-risk rows replaced
    PostingIndex.dropPairs(oldR, batchIds, "doc_a", "doc_b")
      .join(atRisk, Seq("doc_a", "doc_b"), "left_anti")
      .unionByName(riskRepaired)
  }

  /** One-owner takedown step ([[PostingIndex.retract]]). Returns the
    * merged repeat table.
    */
  def retractBatch(spark: SparkSession, batchWins: DataFrame,
      oldRepeats: DataFrame, prefix: String = "graft_substr",
      cap: Int = 100, minTok: Int = 10): DataFrame = {
    val bw = Checkpoints.cut(rows(batchWins))
    Index.retract(spark, prefix, bw, cap)(
      retractMerge(spark, bw, oldRepeats, prefix, cap, minTok))
  }

  // ---------------------------------------------------------------
  // Bench fixture: the per-batch cost of keeping the repeats fresh
  // ---------------------------------------------------------------

  /** Standing bench artifacts (window indexes over every planted doc
    * but each 7th, and its repeat table) — Bench warms this before the
    * timed `d24x` / `d24r` runs.
    */
  private[graft] def benchFixture(spark: SparkSession, dir: String): (String, DataFrame) =
    PostingIndex.fixture(spark, dir, "bench_ixsub") { prefix =>
      val corpus = PipelineQueries.plantedSpanToks(spark, dir)
        .filter(col("doc_id") % 7 =!= 0)
      buildIndexes(ExactSubstr.windowPositions(corpus), prefix = prefix)
      ExactSubstr.maximalRepeats(corpus)
    }

  /** Bench entry (`d24x_incremental_merge`): the per-ingest cost of
    * folding an every-7th-doc batch into the maximal-repeat table vs
    * d24's full window self-join.
    */
  def benchIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldRepeats) = benchFixture(spark, dir)
    val batch = PipelineQueries.plantedSpanToks(spark, dir)
      .filter(col("doc_id") % 7 === 0)
    mergeBatch(spark, ExactSubstr.windowPositions(batch), oldRepeats,
      prefix = prefix)
  }

  /** Bench entry (`d24r_retract_merge`): the per-takedown cost of
    * folding an indexed-doc slice OUT of the repeat table vs the full
    * window self-join — `retractMerge` only (pure reads; tombstones
    * would mutate the standing fixture across timed runs).
    */
  def benchRetractMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldRepeats) = benchFixture(spark, dir)
    val slice = PipelineQueries.plantedSpanToks(spark, dir)
      .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
    retractMerge(spark, ExactSubstr.windowPositions(slice), oldRepeats,
      prefix = prefix)
  }
}
