package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the passage-pair artifact (SURVEY.md
  * §2.3): `PipelineQueries.passagePairs` materializes the (doc_a,
  * doc_b, n_shared ≥ 3) table once per corpus version; this module
  * keeps it EXACT per ingest batch with O(batch + bounded probes)
  * work, exploiting that document frequency only GROWS:
  *
  *   - NEW pairs can only involve a batch doc (old docs' window sets
  *     are immutable);
  *   - EXISTING pairs can only LOSE shared windows — precisely those
  *     whose df crosses the boilerplate cap because of the batch.
  *
  * So the merge is three bounded pieces over a (doc_id, h) window
  * index BUCKETED on h (census and probes run with ZERO corpus-side
  * exchange):
  *
  *   1. df census ([[PostingIndex.scope]]) → the new hot set and the
  *      CROSSING set (was ≤ cap, now > cap).
  *   2. decrements: for each crossing window, the docs containing it
  *      come from an index probe — at most `cap` docs by the
  *      definition of crossing, so the per-window pair fan-out is
  *      ≤ cap² and the whole stage is bounded by |crossing| · cap²,
  *      never corpus-sized. Old pairs lose one shared count per
  *      crossing window both sides contain; pairs falling below the
  *      ≥ 3 floor drop out.
  *   3. new pairs: batch windows (minus the new hot set) probe the
  *      index for corpus partners and self-join for batch-batch
  *      partners; shared counts ≥ 3 enter the table.
  *
  * `mergeBatch` returns the merged pair table; an equivalence spec
  * (IncrementalPassagesSpec) pins merged ≡ full recompute over the
  * union corpus, including a cap-crossing plant.
  */
object IncrementalPassages {

  /** The family's ONE window-hash kernel: the array of 60-bit md5
    * prefixes of each rolling `windowTokens`-token window of the
    * token-array column `tk`. Batch pipeline (d11) and incremental
    * index both hash through this expression — the incremental ≡
    * batch guarantee rests on the kernel never diverging between
    * them. `tk` must be a plain post-exchange
    * attribute so the lambda doesn't re-derive the token array per
    * element.
    */
  private[graft] def windowHashExpr(tk: org.apache.spark.sql.Column,
      windowTokens: Int = 8): org.apache.spark.sql.Column =
    transform(
      sequence(lit(1), size(tk) - lit(windowTokens - 1)),
      i => conv(substring(md5(array_join(slice(tk, i, lit(windowTokens)), " ")), 1, 15), 16, 10)
        .cast("long"))

  /** Distinct (doc_id, h) rolling-window hashes of whitespace-token
    * text — the index row shape.
    */
  def windowHashes(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", windowTokens: Int = 8): DataFrame = {
    val toks = graft.functions.TextFunctions.wsTokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("tk"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= windowTokens, windowHashExpr(col("tk"), windowTokens))
          .otherwise(array().cast("array<long>"))).as("h"))
      .distinct()
  }

  /** Pair derivation shared by the full pipeline and the equivalence
    * spec: df census → hot windows (df > cap) dropped via broadcast
    * anti-join → shared-window self-join → counts ≥ minShared. The
    * d11 contract, parameterized.
    */
  def pairsFromWindows(wins: DataFrame, cap: Int = 100,
      minShared: Int = 3): DataFrame = {
    val hot = wins.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("h"))
    coPairs(wins.join(broadcast(hot), Seq("h"), "left_anti"), "n_shared")
      .filter(col("n_shared") >= minShared)
  }

  /** (doc_a < doc_b, `as` = shared-window count) over window rows. */
  private def coPairs(wins: DataFrame, as: String): DataFrame =
    wins.select(col("h"), col("doc_id").as("doc_a"))
      .join(wins.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as(as))

  /** The window index: (doc_id, h) postings bucketed on h, df = raw
    * row count (rows are distinct (doc, window) pairs).
    */
  private[operators] val Index = PostingIndex(Seq("win" -> "h"), "doc_id", "h")

  /** Persist the corpus window index (the write-time shuffle is paid
    * once per corpus build; census and probes ride its layout).
    */
  def buildWindowIndex(wins: DataFrame, prefix: String = "graft_passages",
      buckets: Int = 32): Unit =
    Index.build(wins.select(col("doc_id"), col("h")), prefix, buckets)

  /** Land the hot-window census (df > cap) as `<prefix>_hot` — the
    * exclusion `servableIndex` consumers read instead of re-counting
    * the corpus.
    */
  def refreshHotWindows(spark: SparkSession, prefix: String = "graft_passages",
      cap: Int = 100): Unit =
    Index.refreshHot(spark, prefix, cap)

  /** Fold the net-dead docs into `_win` and truncate the tombstone history. */
  def compact(spark: SparkSession, prefix: String = "graft_passages"): Unit =
    Index.compact(spark, prefix)

  /** The index a SERVING consumer probes: live windows minus the hot set. */
  def servableIndex(spark: SparkSession,
      prefix: String = "graft_passages"): DataFrame =
    Index.servableIndex(spark, prefix)

  /** Merge an ingest batch into the passage-pair table EXACTLY —
    * returns the pair table of the union corpus without re-windowing
    * a single old doc. `oldPairs` is the current artifact
    * (`pairsFromWindows` of the indexed corpus at the same `cap` /
    * `minShared`); `batchWins` is `windowHashes` of the NEW docs only
    * (batch doc_ids must be disjoint from the corpus').
    */
  def mergeBatch(spark: SparkSession, batchWins: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_passages", cap: Int = 100,
      minShared: Int = 3): DataFrame = {
    // lineage-cut (t15's rule): the batch frame feeds the census AND
    // both new-pair sides
    val bw = Checkpoints.cut(batchWins)
    // 1. df census over the batch's windows only (PostingIndex.scope):
    // a window can only cross the cap if the batch CONTAINS it, and a
    // window absent from the batch can never reach the new-pair join
    val sc = Index.scope(spark, prefix, bw)
    // union-hot set over the batch's windows (broadcast-sized)
    val hotNew = sc.hot(cap)
    // 2. decrements: crossing windows have ≤ cap corpus docs each, so
    // the fan-out is bounded by |crossing| · cap²
    val dec = coPairs(sc.rows.join(broadcast(sc.crossing(cap)), Seq("h")), "n_lost")
    val adjusted = oldPairs.join(dec, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (col("n_shared") - coalesce(col("n_lost"), lit(0L))).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // 3. new pairs: batch windows (minus new hot) against indexed
    // corpus partners + batch-batch partners. The join keys on h from
    // bOk (⊆ batch windows), so the batch-scoped index rows minus the
    // union-hot set are row-equivalent to the full-index partner side
    val bOk = bw.join(broadcast(hotNew), Seq("h"), "left_anti")
    val partners = sc.rows.join(broadcast(hotNew), Seq("h"), "left_anti")
      .unionByName(bOk)
    adjusted.unionByName(sharedPairs(bOk, partners, minShared))
  }

  /** (doc_a < doc_b, n_shared ≥ minShared) pairs between the window
    * rows of `docs` and of `partners` — a doc in both sides meets
    * each partner from both directions, counted once per window.
    */
  private def sharedPairs(docs: DataFrame, partners: DataFrame,
      minShared: Int): DataFrame =
    docs.select(col("h"), col("doc_id").as("doc_new"))
      .join(partners.select(col("h"), col("doc_id").as("doc_other")), "h")
      .filter(col("doc_new") =!= col("doc_other"))
      .select(least(col("doc_new"), col("doc_other")).as("doc_a"),
        greatest(col("doc_new"), col("doc_other")).as("doc_b"),
        col("h"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** One-owner ingest step ([[PostingIndex.admit]]). Returns the
    * merged pair table.
    */
  def admitBatch(spark: SparkSession, batchWins: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_passages", cap: Int = 100,
      minShared: Int = 3): DataFrame = {
    val bw = Checkpoints.cut(batchWins.select(col("doc_id"), col("h")))
    Index.admit(spark, prefix, bw, cap)(
      mergeBatch(spark, bw, oldPairs, prefix, cap, minShared))
  }

  /** Fold a TAKEDOWN batch out of the passage-pair table EXACTLY —
    * the reverse lifecycle. Dfs only DECREASE on removal, so a
    * retraction can only
    *
    *   - DELETE pairs involving a batch doc;
    *   - UN-CROSS windows the batch CONTAINS back to df ≤ cap. Each has
    *     ≤ cap remaining live holders, so the AFFECTED docs are a
    *     bounded set; their pair rows are recomputed from scratch
    *     against the post-retraction hot set over the windows they
    *     hold. A recompute, not increments: the old cap may have pushed
    *     a pair below `minShared` OUT of the table.
    *
    * `batchWins` must be `windowHashes` of the docs' ORIGINAL text
    * (immutability is the family contract). Retract ≡ full recompute
    * on corpus-minus-batch is spec-pinned, including a pair
    * resurrected from absence by an un-crossing window.
    */
  def retractMerge(spark: SparkSession, batchWins: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_passages", cap: Int = 100,
      minShared: Int = 3): DataFrame = {
    val bw = Checkpoints.cut(batchWins)
    val batchIds = bw.select(col("doc_id")).distinct()
    val oldP = Checkpoints.cut(oldPairs)
    // 1. batch-scoped census: only windows the batch CONTAINS can
    // un-cross; the scope's index is the corpus after this retract
    val sc = Index.scope(spark, prefix, bw)
    val idx = sc.index
    // 2. affected docs: the ≤-cap remaining live holders of any
    // un-crossed window; recompute ALL their pairs against the
    // post-retraction hot set over the windows they hold
    val affIds = Checkpoints.cut(sc.rows.join(broadcast(sc.crossing(cap)), Seq("h"))
      .select(col("doc_id")).distinct())
    val affRows = Checkpoints.cut(
      idx.join(broadcast(affIds), Seq("doc_id"), "left_semi"))
    val hotA = sc.hotAmong(affRows.select(col("h")).distinct(), cap)
    val recomputed = sharedPairs(
      affRows.join(broadcast(hotA), Seq("h"), "left_anti"),
      idx.join(broadcast(hotA), Seq("h"), "left_anti"), minShared)
    // 3. keep everything else: batch pairs deleted, affected docs'
    // rows replaced by the recompute (pairs of two unaffected docs
    // share no un-crossed window — else both docs would be affected —
    // so their counts are untouched)
    val drop = Checkpoints.cut(batchIds.unionByName(affIds).distinct())
    PostingIndex.dropPairs(oldP, drop, "doc_a", "doc_b").unionByName(recomputed)
  }

  /** One-owner takedown step ([[PostingIndex.retract]]). Returns the
    * merged pair table.
    */
  def retractBatch(spark: SparkSession, batchWins: DataFrame, oldPairs: DataFrame,
      prefix: String = "graft_passages", cap: Int = 100,
      minShared: Int = 3): DataFrame = {
    val bw = Checkpoints.cut(batchWins)
    Index.retract(spark, prefix, bw, cap)(
      retractMerge(spark, bw, oldPairs, prefix, cap, minShared))
  }

  // ---------------------------------------------------------------
  // Bench fixture: the per-batch cost of keeping the artifact fresh
  // ---------------------------------------------------------------

  /** Standing bench artifacts (window index over every doc but each
    * 7th, and its pair table), built once per (dir, session) — Bench
    * warms this before the timed `d11x` / `d11r` runs.
    */
  private[graft] def benchFixture(spark: SparkSession, dir: String): (String, DataFrame) =
    PostingIndex.fixture(spark, dir, "bench_ipass") { prefix =>
      val corpusWins = windowHashes(benchDocs(spark, dir).filter(col("doc_id") % 7 =!= 0))
      buildWindowIndex(corpusWins, prefix = prefix)
      pairsFromWindows(corpusWins)
    }

  private def benchDocs(spark: SparkSession, dir: String): DataFrame =
    graft.GraftSession.table(spark, dir, "documents").select(col("doc_id"), col("text"))

  /** Bench entry (`d11x_incremental_merge`): the per-ingest cost of
    * folding an every-7th-doc batch into the passage-pair table vs
    * `passagePairPipeline`'s full re-run — window-hash the batch,
    * census, probes, merge.
    */
  def benchIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    val batch = benchDocs(spark, dir).filter(col("doc_id") % 7 === 0)
    mergeBatch(spark, windowHashes(batch), oldPairs, prefix = prefix)
  }

  /** Bench entry (`d11r_retract_merge`): the per-takedown cost of
    * folding an indexed-doc slice OUT of the pair table —
    * `retractMerge` only (pure reads; tombstones would mutate the
    * standing fixture across timed runs).
    */
  def benchRetractMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    val slice = benchDocs(spark, dir)
      .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
    retractMerge(spark, windowHashes(slice), oldPairs, prefix = prefix)
  }
}
