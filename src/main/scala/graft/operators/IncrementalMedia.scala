package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the pHash near-dup pair table
  * (SURVEY.md §2.6): a media corpus ingesting new assets must not
  * re-band 100 TB of existing hashes per batch. The index is
  * `Dedup.hexHashPairs`' banded form — one row per (asset, band) with
  * the 16-bit chunk and all four parsed band ints, bucketed on `bkey`
  * (band '|' chunk). Bucket sizes only GROW, so:
  *   - NEW pairs must involve a batch asset — batch band rows probe
  *     the index on bkey, plus the batch-batch self-join; the
  *     oversized-bucket cap is evaluated at the COMBINED (post-batch)
  *     counts, exactly what a full re-run would use;
  *   - EXISTING pairs can only be LOST, and only when a bucket
  *     CROSSES the cap: a pair drops iff every band it agrees on is
  *     now oversized. Each crossing bucket has ≤ maxBucket corpus
  *     rows by definition, so the recheck set is bounded by the old
  *     pairs co-located in crossing buckets — never corpus-sized.
  *     Survival needs no re-hash: the index rows carry each asset's
  *     four band ints, and the pair's Hamming distance is immutable.
  *
  * `mergeBatch` returns the merged pair table; the spec pins merged ≡
  * `hexHashPairs` full recompute over the union, including a
  * cap-crossing bucket that kills a single-band pair while a
  * multi-band pair survives.
  */
object IncrementalMedia {

  private def bandedRows(hashed: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    Dedup.bandedChunks(Dedup.parseBandInts(hashed, idCol, hashCol), idCol)
      .withColumn("bkey", concat_ws("|", col("band"), col("chunk")))

  /** The band index for assets keyed by `idCol` (bucket size = rows). */
  private[operators] def index(idCol: String) = PostingIndex(Seq("band" -> "bkey"), idCol, "bkey")

  /** Persist the corpus band postings bucketed on bkey. */
  def buildPhashIndex(hashed: DataFrame, idCol: String = "media_id",
      hashCol: String = "phash", prefix: String = "graft_media",
      buckets: Int = 32): Unit =
    index(idCol).build(bandedRows(hashed, idCol, hashCol), prefix, buckets)

  private def hamming(a: String, c: String) = (0 until 4)
    .map(b => bit_count(col(s"$a$b").bitwiseXOR(col(s"$c$b"))))
    .reduce(_ + _)

  /** The (band, chunk) buckets this batch would push over the cap —
    * the decision surface for the DOWNSTREAM cluster artifact
    * (the hexHashPairs skew cap's census): empty ⇒ the merge only ADDS
    * pair edges and `DedupClusters.mergeBatch` folds them exactly;
    * non-empty ⇒ edges were dropped, which star merging cannot
    * unlink, so rebuild clusters from the merged PAIR table. Tiny
    * output, corpus side exchange-free.
    */
  def crossingBuckets(spark: SparkSession, batchHashed: DataFrame,
      idCol: String = "media_id", hashCol: String = "phash",
      prefix: String = "graft_media", maxBucket: Int = 10000): DataFrame =
    index(idCol).scope(spark, prefix, bandedRows(batchHashed, idCol, hashCol))
      .crossing(maxBucket)

  /** Distinct (id_a < id_b, hamming ≤ maxHamming) pairs between the
    * band rows of `rows` and of `partners` that share a bucket —
    * Hamming from the carried band ints, no re-hash.
    */
  private def colocated(rows: DataFrame, partners: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    def side(df: DataFrame, id: String, p: String) = df.select(
      col("bkey") +: col(idCol).as(id) +: (0 until 4).map(b => col(s"b$b").as(s"$p$b")): _*)
    side(rows, "id_new", "a").join(side(partners, "id_other", "c"), Seq("bkey"))
      .filter(col("id_new") =!= col("id_other"))
      .select(least(col("id_new"), col("id_other")).as("id_a"),
        greatest(col("id_new"), col("id_other")).as("id_b"),
        hamming("a", "c").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** New pairs of the batch's band rows against index + batch partners,
    * buckets in `oversized` excluded.
    */
  private def probeFrom(index: DataFrame, batchRows: DataFrame,
      oversized: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    def ok(df: DataFrame) = df.join(broadcast(oversized), Seq("bkey"), "left_anti")
    colocated(ok(batchRows), ok(index).unionByName(ok(batchRows)), idCol, maxHamming)
  }

  /** New near-dup pairs the batch introduces, at the combined-count
    * cap — exactly the batch-involving subset of a full re-run.
    */
  def probeBatch(spark: SparkSession, batchHashed: DataFrame,
      idCol: String = "media_id", hashCol: String = "phash",
      prefix: String = "graft_media", maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    // lineage-cut the batch band frame (t15's rule): it feeds the
    // census AND both probe sides, and its producer is the batch's
    // whole pHash pipeline
    val batchRows = Checkpoints.cut(bandedRows(batchHashed, idCol, hashCol))
    // the probe joins on bkey from the batch side, so the batch-scoped
    // index rows are its whole partner side
    val sc = index(idCol).scope(spark, prefix, batchRows)
    probeFrom(sc.rows, batchRows, sc.hot(maxBucket), idCol, maxHamming)
  }

  /** Fold a batch into the pair table exactly: `oldPairs` is the
    * current artifact (`hexHashPairs` of the indexed corpus at the
    * same cap); batch asset ids must be disjoint from the corpus'.
    */
  def mergeBatch(spark: SparkSession, batchHashed: DataFrame,
      oldPairs: DataFrame, idCol: String = "media_id",
      hashCol: String = "phash", prefix: String = "graft_media",
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    // lineage-cut: the batch band frame feeds the census and both
    // probe sides; the census feeds the oversized AND crossing sets
    val batchRows = Checkpoints.cut(bandedRows(batchHashed, idCol, hashCol))
    // batch-scoped census against the live index minus the batch's own
    // ids (the replay discipline shared with the passage/trigram
    // merges). Its batch-scoped rows serve the crossing probe, the
    // at-risk band-int lookup (every at-risk asset has a row in a
    // crossing ⊆ batch bucket) and the new-pair partner side (the
    // probe joins on bkey from the batch side)
    val sc = index(idCol).scope(spark, prefix, batchRows)
    val idxB = sc.rows
    val oversizedNew = sc.hot(maxBucket)
    // buckets the batch pushes over the cap — ≤ maxBucket corpus rows each
    val crossRows = idxB.join(broadcast(sc.crossing(maxBucket)), Seq("bkey"))
    // old pairs CO-LOCATED in a crossing bucket are the only ones at risk
    val atRisk = crossRows.select(col("bkey"), col(idCol).as("id_a"))
      .join(crossRows.select(col("bkey"), col(idCol).as("id_b")), "bkey")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .join(oldPairs.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_semi")
    // survival: the pair still agrees on SOME band whose bucket is not
    // oversized at the new counts (Hamming is immutable — no re-hash).
    // The batch-scoped census can only certify buckets the batch
    // TOUCHES; a bucket already over the cap BEFORE the batch and
    // receiving no batch rows is equally oversized at new counts
    // (untouched ⇒ new = old) yet absent from `oversizedNew` — so the
    // survival predicate needs one more bounded probe: the corpus
    // counts of the at-risk assets' OWN band keys (≤ 4 per asset, and
    // at-risk assets are capped by |crossing| · maxBucket). Cut the
    // parsed-ints frame: it feeds both pair sides AND the bkey probe.
    val ints = Checkpoints.cut(idxB
      .join(broadcast(atRisk.select(col("id_a").as(idCol))
        .unionByName(atRisk.select(col("id_b").as(idCol))).distinct()), idCol)
      .select(col(idCol) +: (0 until 4).map(b => col(s"b$b")): _*)
      .distinct())
    val riskBkeys = ints.select(explode(array((0 until 4).map(b =>
      concat_ws("|", lit(b), col(s"b$b"))): _*)).as("bkey")).distinct()
    val oversizedOld = sc.hotAmong(riskBkeys, maxBucket)
    val oversizedEff = Checkpoints.cut(
      oversizedNew.unionByName(oversizedOld).distinct())
    def intsAs(id: String, p: String) = ints.select(
      col(idCol).as(id) +: (0 until 4).map(b => col(s"b$b").as(s"$p$b")): _*)
    val withFlags = (0 until 4).foldLeft(
      atRisk.join(intsAs("id_a", "a"), "id_a").join(intsAs("id_b", "c"), "id_b")) {
      case (df, b) =>
        df.join(broadcast(oversizedEff.select(col("bkey").as(s"ok$b"))),
          concat_ws("|", lit(b), col(s"a$b")) === col(s"ok$b"), "left")
    }
    val survives = (0 until 4).map(b =>
      col(s"a$b") === col(s"c$b") && col(s"ok$b").isNull).reduce(_ || _)
    val dropped = withFlags.filter(!survives).select(col("id_a"), col("id_b"))
    // the probe reuses the BATCH-scoped oversized set, which is exact
    // for NEW pairs: a new pair's agreeing bucket contains a batch row
    // by construction, so its bucket is always in the census
    oldPairs.join(dropped, Seq("id_a", "id_b"), "left_anti")
      .unionByName(probeFrom(idxB, batchRows, oversizedNew, idCol, maxHamming))
  }

  /** Fold the net-dead assets into `_band` and truncate the history. */
  def compact(spark: SparkSession, prefix: String = "graft_media",
      idCol: String = "media_id"): Unit =
    index(idCol).compact(spark, prefix)

  /** The index a SERVING consumer probes: live
    * postings minus the maintained hot set — a degenerate bucket
    * (all-zero pHash of trivial assets) would fan every arriving
    * asset in it out to the whole bucket.
    */
  def servableIndex(spark: SparkSession,
      prefix: String = "graft_media"): DataFrame =
    index("media_id").servableIndex(spark, prefix)

  /** One-owner ingest step ([[PostingIndex.admit]]) including the
    * CLUSTER artifact the pair table feeds: `crossingBuckets` is read
    * against the PRE-append index (an eager count); no crossing ⇒ the
    * merge only ADDED edges, folded into the standing labels
    * (`DedupClusters.mergeBatch`, exact); crossing ⇒ edges were
    * DROPPED, which star merging cannot unlink, so labels rebuild
    * from the merged pair table. Returns (merged pair table, new
    * cluster labels), both lineage-cut.
    */
  def admitBatch(spark: SparkSession, batchHashed: DataFrame,
      oldPairs: DataFrame, clusters: DataFrame,
      idCol: String = "media_id", hashCol: String = "phash",
      prefix: String = "graft_media", maxHamming: Int = 3,
      maxBucket: Int = 10000): (DataFrame, DataFrame) = {
    val batch = Checkpoints.cut(batchHashed) // feeds decision, merge, append
    val crossed = crossingBuckets(spark, batch, idCol, hashCol, prefix,
      maxBucket).limit(1).count() > 0
    val op = Checkpoints.cut(oldPairs) // feeds the merge AND the new-edge anti-join
    val merged = index(idCol).admit(spark, prefix,
      bandedRows(batch, idCol, hashCol), maxBucket)(
      mergeBatch(spark, batch, op, idCol, hashCol, prefix, maxHamming, maxBucket))
    val labels =
      if (crossed)
        DedupClusters.connectedComponents(merged, "id_a", "id_b")
      else {
        val newEdges = merged.join(op.select(col("id_a"), col("id_b")),
          Seq("id_a", "id_b"), "left_anti")
        DedupClusters.mergeBatch(clusters, newEdges, "id_a", "id_b")
      }
    (merged, Checkpoints.cut(labels))
  }

  /** Fold a TAKEDOWN batch out of the pHash pair table EXACTLY — the
    * reverse lifecycle. Bucket counts only DECREASE on removal, so a
    * retraction can only
    *
    *   - DELETE pairs involving a batch asset;
    *   - UN-OVERSIZE buckets the batch has rows in back to ≤ maxBucket.
    *     Each has ≤ maxBucket remaining live rows, so the pairs the old
    *     cap suppressed are a bounded co-location self-join (Hamming
    *     from the carried band ints); candidates already present dedup
    *     via an anti-join. No OTHER pair can change: survival only
    *     improves as the oversized set shrinks.
    *
    * `batchHashed` must carry the assets' ORIGINAL hashes
    * (immutability is the family contract). Retract ≡ `hexHashPairs`
    * full recompute on corpus-minus-batch is spec-pinned, including a
    * pair restored by an un-crossing bucket.
    */
  def retractMerge(spark: SparkSession, batchHashed: DataFrame,
      oldPairs: DataFrame, idCol: String = "media_id",
      hashCol: String = "phash", prefix: String = "graft_media",
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val batchRows = Checkpoints.cut(bandedRows(batchHashed, idCol, hashCol))
    val batchIds = batchRows.select(col(idCol)).distinct()
    val oldP = Checkpoints.cut(oldPairs)
    // 1. batch-scoped census: only buckets the batch has rows in can
    // un-cross; the scope's index is the corpus after this retract
    val sc = index(idCol).scope(spark, prefix, batchRows)
    // 2. candidates the cap suppressed: remaining co-located rows of
    // each un-crossed bucket (≤ maxBucket each), Hamming from the
    // carried band ints
    val rows2 = Checkpoints.cut(
      sc.rows.join(broadcast(sc.crossing(maxBucket)), Seq("bkey")))
    val restored = colocated(rows2, rows2, idCol, maxHamming)
    // 3. keep non-batch pairs; add restored candidates not already kept
    val keep = Checkpoints.cut(PostingIndex.dropPairs(oldP, batchIds, "id_a", "id_b"))
    keep.unionByName(
      restored.join(keep.select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_anti"))
  }

  /** One-owner takedown step ([[PostingIndex.retract]]): eager
    * retract-merge, tombstones, hot refresh, and a cluster recompute
    * from the merged pairs — node removal can SPLIT a component (and
    * an un-crossed bucket can add edges), so the label fold never
    * applies; the recompute runs over the pair table, cheap relative
    * to re-hashing the corpus. Returns (merged pair table, new
    * cluster labels).
    */
  def retractBatch(spark: SparkSession, batchHashed: DataFrame,
      oldPairs: DataFrame, idCol: String = "media_id",
      hashCol: String = "phash", prefix: String = "graft_media",
      maxHamming: Int = 3, maxBucket: Int = 10000): (DataFrame, DataFrame) = {
    val batch = Checkpoints.cut(batchHashed)
    val merged = index(idCol).retract(spark, prefix, batch, maxBucket)(
      retractMerge(spark, batch, oldPairs, idCol, hashCol, prefix, maxHamming,
        maxBucket))
    val labels = DedupClusters.connectedComponents(merged, "id_a", "id_b")
    (merged, Checkpoints.cut(labels))
  }

  // ---------------------------------------------------------------
  // Bench fixture: the per-batch cost of keeping the pairs fresh
  // ---------------------------------------------------------------

  /** Standing bench artifacts (band index over every asset but each
    * 9th, and its pair table) — Bench warms this before the timed
    * `m5y` / `m5r` runs.
    */
  private[graft] def benchFixture(spark: SparkSession, dir: String): (String, DataFrame) =
    PostingIndex.fixture(spark, dir, "bench_imedia") { prefix =>
      val corpus = benchAssets(spark, dir, col("media_id") % 9 =!= 0)
      buildPhashIndex(corpus, prefix = prefix)
      Dedup.hexHashPairs(corpus, "media_id", "phash")
    }

  /** pHashes of the documents read as assets, filtered by `keep`. */
  private def benchAssets(spark: SparkSession, dir: String,
      keep: org.apache.spark.sql.Column): DataFrame =
    Dedup.phashChar(
      graft.GraftSession.table(spark, dir, "documents")
        .select(col("doc_id").as("media_id"), col("text")).filter(keep),
      "media_id", "text", k = 4)

  /** Bench entry (`m5y_incremental_merge`): the incremental cost of
    * folding an every-9th-asset batch into the pHash pair table —
    * what a media ingest pays vs m5's full corpus re-hash + re-band:
    * pHash the batch, census, probes, merge.
    */
  def benchIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    mergeBatch(spark, benchAssets(spark, dir, col("media_id") % 9 === 0),
      oldPairs, prefix = prefix)
  }

  /** Bench entry (`m5r_retract_merge`): the per-takedown cost of
    * folding an indexed-asset slice OUT of the pair table vs a full
    * re-hash + re-band — `retractMerge` only (pure reads; tombstones
    * would mutate the standing fixture across timed runs).
    */
  def benchRetractMerge(spark: SparkSession, dir: String): DataFrame = {
    val (prefix, oldPairs) = benchFixture(spark, dir)
    val slice = benchAssets(spark, dir,
      col("media_id") % 9 =!= 0 && col("media_id") % 5 === 0)
    retractMerge(spark, slice, oldPairs, prefix = prefix)
  }
}
