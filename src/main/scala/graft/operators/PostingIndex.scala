package graft.operators

import graft.sources.Bucketing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE lifecycle core of the incremental posting-index families
  * (SURVEY §2.3): an append-only bucketed index of (id, key, …) rows
  * under a table prefix, folded into a standing artifact per ingest or
  * takedown batch. A family supplies its tables with their bucket
  * keys, its id column, its hot key and its df census (raw rows or
  * DISTINCT ids), plus its merge maths; the core guarantees the rest:
  *
  *   - appends are absentOnly per table (a replay is absorbed; a crash
  *     between two tables' appends heals exactly the lagging one) plus
  *     a [[Tombstones]] resurrection for ids still physically present;
  *   - only `build` chooses a bucket count — every append and compact
  *     reads it from the table's catalog bucket spec;
  *   - `scope` is the one batch-scoped census every merge starts from;
  *   - `admit` / `retract` materialize the merge EAGERLY against the
  *     pre-append index (it reads the index by name, so a lazy consumer
  *     evaluated after the append would count the batch twice), then
  *     append or tombstone, then refresh the hot census — so the NEXT
  *     probe sees the batch and every key it pushed over or back under
  *     the cap.
  *
  * @param tables (table suffix, bucket key); the first table is the
  *   one the census, hot set and live reads use
  * @param distinctIds df counts distinct ids per key (a doc repeating
  *   a window at several positions is ONE doc), not raw rows
  */
final case class PostingIndex(tables: Seq[(String, String)], idCol: String,
    key: String, distinctIds: Boolean = false) {

  private def name(prefix: String, suffix: String) =
    s"${prefix}_$suffix"

  /** Write `rows` as every table of the index, each bucketed on its key. */
  def build(rows: DataFrame, prefix: String, buckets: Int): Unit =
    tables.foreach { case (s, k) =>
      Bucketing.writeBucketed(rows, name(prefix, s), k, buckets)
    }

  /** A table minus net-dead ids (layout-preserving anti-join). */
  def live(spark: SparkSession, prefix: String,
      suffix: String = tables.head._1): DataFrame =
    Tombstones.live(spark, spark.table(name(prefix, suffix)), prefix, idCol)

  /** `live` minus the batch's own ids — the corpus as of before an
    * admit / after a retract whether or not its append or tombstones
    * landed, so a replayed merge reproduces the same result.
    */
  def liveExcept(spark: SparkSession, prefix: String, batch: DataFrame,
      suffix: String = tables.head._1): DataFrame =
    live(spark, prefix, suffix).join(
      broadcast(batch.select(col(idCol)).distinct()), Seq(idCol), "left_anti")

  /** Idempotent append at id granularity into every table, plus the
    * resurrection of re-admitted ids (ids are immutable: same id ⇒
    * same rows, so the still-present rows are the right ones).
    */
  def append(rows: DataFrame, prefix: String): Unit = {
    val r = Checkpoints.cut(rows)
    tables.foreach { case (s, k) =>
      val t = name(prefix, s)
      Bucketing.appendBucketed(Bucketing.absentOnly(r, t, idCol), t, k)
    }
    Tombstones.resurrect(r.sparkSession, prefix, r.select(col(idCol)), idCol)
  }

  /** −1 tombstones for the batch's ids (replays append nothing). */
  def tombstone(spark: SparkSession, prefix: String, batch: DataFrame): Unit =
    Tombstones.retract(spark, prefix, batch.select(col(idCol)), idCol)

  /** Fold the net-dead ids into every table at its own bucket key and
    * count, and truncate the tombstone history (the live index, and so
    * the hot census, is unchanged).
    */
  def compact(spark: SparkSession, prefix: String): Unit =
    Tombstones.compact(spark, prefix, idCol,
      tables.map { case (s, k) => (name(prefix, s), k) })

  /** Per-key df of `rows`, as column `as`. */
  private[operators] def df(rows: DataFrame, as: String): DataFrame =
    (if (distinctIds) rows.select(col(idCol), col(key)).distinct() else rows)
      .groupBy(col(key)).agg(count(lit(1)).as(as))

  /** Land the keys with df > cap at the current live index as
    * `<prefix>_hot`.
    */
  def refreshHot(spark: SparkSession, prefix: String, cap: Long): Unit =
    Bucketing.writeBucketed(
      df(live(spark, prefix), "n").filter(col("n") > cap).select(col(key)),
      s"${prefix}_hot", key, PostingIndex.HotBuckets)

  /** What a SERVING consumer probes: live postings minus the hot set
    * (a hot key fans a probe out to every holder). Merges read the
    * full index — their census needs true counts.
    */
  def servableIndex(spark: SparkSession, prefix: String): DataFrame =
    live(spark, prefix)
      .join(broadcast(spark.table(s"${prefix}_hot")), Seq(key), "left_anti")

  /** The batch-scoped census of `batch` against the live index minus
    * the batch's ids: a key can cross the cap (either way) or meet a
    * new-pair probe only if the batch holds it, so df is counted only
    * for the batch's keys — a broadcast semi-probe of the bucketed
    * index plus an exchange-free group-by on the bucket key. Cost is
    * O(batch + postings of batch keys), independent of corpus size.
    */
  def scope(spark: SparkSession, prefix: String, batch: DataFrame): BatchScope = {
    val index = liveExcept(spark, prefix, batch)
    val nB = df(batch, "n_b")
    val rows = Checkpoints.cutBucketed(
      index.join(broadcast(nB.select(col(key))), Seq(key), "left_semi"))
    val census = Checkpoints.cut(nB.join(df(rows, "n_idx"), Seq(key), "left")
      .select(col(key), coalesce(col("n_idx"), lit(0L)).as("n_idx"),
        (coalesce(col("n_idx"), lit(0L)) + col("n_b")).as("n_all")))
    BatchScope(this, index, rows, census)
  }

  /** Admit: eager merge against the pre-append index, append `rows`,
    * refresh the hot census. Returns the merged artifact.
    */
  def admit(spark: SparkSession, prefix: String, rows: DataFrame, cap: Long)(
      merge: => DataFrame): DataFrame = {
    val merged = Checkpoints.cut(merge, eager = true)
    append(rows, prefix)
    refreshHot(spark, prefix, cap)
    merged
  }

  /** Retract: eager retract-merge, tombstone the batch's ids, refresh
    * the hot census. Returns the merged artifact.
    */
  def retract(spark: SparkSession, prefix: String, batch: DataFrame, cap: Long)(
      merge: => DataFrame): DataFrame = {
    val merged = Checkpoints.cut(merge, eager = true)
    tombstone(spark, prefix, batch)
    refreshHot(spark, prefix, cap)
    merged
  }
}

/** One batch's census against the live index (see `PostingIndex.scope`).
  *
  * @param index  the live index minus the batch's ids
  * @param rows   `index` restricted to the batch's keys (bucketed cut —
  *               downstream key group-bys stay exchange-free)
  * @param census (key, n_idx, n_all): df in the index and with the batch
  */
final case class BatchScope(ix: PostingIndex, index: DataFrame,
    rows: DataFrame, census: DataFrame) {
  import ix.key

  /** Keys over the cap with the batch. */
  def hot(cap: Long): DataFrame = census.filter(col("n_all") > cap).select(col(key))

  /** Keys at ≤ cap in the index but over it with the batch: an admit's
    * CROSSING set and, read the other way, a retract's UN-CROSSING set
    * (index = after the takedown, with the batch = before it). Each has
    * ≤ cap index holders, so any per-key fan-out is bounded by cap².
    */
  def crossing(cap: Long): DataFrame =
    census.filter(col("n_idx") <= cap && col("n_all") > cap).select(col(key))

  /** Keys of the bounded set `keys` with index df > cap — a broadcast
    * semi-probe, so the index side stays unshuffled.
    */
  def hotAmong(keys: DataFrame, cap: Long): DataFrame =
    ix.df(index.join(broadcast(keys), Seq(key), "left_semi"), "n")
      .filter(col("n") > cap).select(col(key))
}

object PostingIndex {

  /** Bucket count of every `<prefix>_hot` table (tiny by construction). */
  val HotBuckets = 8

  /** A pair table minus every row whose `a` or `b` id is in the
    * one-column `ids` (broadcast anti-joins; the pair column order is
    * kept) — the retract merges' "delete the takedown's own rows".
    */
  def dropPairs(pairs: DataFrame, ids: DataFrame, a: String, b: String): DataFrame = {
    val id = ids.columns.head
    pairs.join(broadcast(ids.withColumnRenamed(id, a)), Seq(a), "left_anti")
      .join(broadcast(ids.withColumnRenamed(id, b)), Seq(b), "left_anti")
      .select(pairs.columns.toIndexedSeq.map(col): _*)
  }

  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Memo keys of the fixtures built so far in this JVM. */
  private[graft] def fixtureKeys: Set[String] = fixtures.keySet.toSet

  /** The standing bench fixture: `build` receives a table prefix
    * derived from (seed, application, dir), creates the index tables
    * under it and returns the old-artifact frame, which is landed
    * through the artifact store (one build per key) and force-read
    * ONCE per key — timed runs then price only per-batch work, and two
    * sf dirs benched in one session can never pair one dir's artifact
    * with the other's tables.
    */
  def fixture(spark: SparkSession, dir: String, seed: String)(
      build: String => DataFrame): (String, DataFrame) = {
    val memoKey = s"$seed|${spark.sparkContext.applicationId}|$dir"
    val prefix = Artifacts.name(seed, memoKey)
    val old = fixtures.getOrElseUpdate(memoKey, {
      val served = Artifacts.materialize(spark, s"${seed}_old", memoKey)(
        out => build(prefix).write.parquet(out))
      val back = spark.read.parquet(served)
      back.count() // pay file listing + footer reads here, not in a timed run
      back
    })
    (prefix, old)
  }
}
