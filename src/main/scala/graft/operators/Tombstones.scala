package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Signed tombstones over an append-only bucketed index — the ONE
  * owner of the retraction presence discipline (the incremental
  * families reach it through [[PostingIndex]]): retracting an id appends a −1 row to `<prefix>_gone`,
  * re-admitting it appends a +1 RESURRECTION row (its index rows are
  * still physically present — ids are immutable, so same id ⇒ same
  * rows), and an id is dead iff its net sign is negative.
  *
  * Everything stays append-only: no index rewrite per takedown (a
  * by-key-bucketed index would touch every bucket for one doc), and
  * replays are absorbed by net-sign checks. A deployment that never
  * retracts pays nothing — the table is created on the first retract
  * and every reader short-circuits on its absence.
  *
  * Retraction targets are filtered by NOT-CURRENTLY-DEAD rather than
  * by a liveness probe of the corpus index: the dead set is
  * tombstone-sized, while "ids with live index rows" would shuffle the
  * corpus on the id key. Tombstoning a never-admitted id is harmless —
  * there are no index rows for `live` to remove, and every recompute
  * runs against the TRUE post-retraction index.
  */
object Tombstones {

  /** Net-dead sets up to this many ids broadcast; above it every
    * dead-set join shuffles instead (a MASS takedown — a poisoned-source
    * purge — is not a broadcastable set, and a hard-wired broadcast
    * would OOM the driver exactly when retraction matters most).
    */
  val BroadcastLimitKey = "spark.graft.tombstoneBroadcastLimit"

  private def goneTable(prefix: String): String =
    s"${prefix}_gone".toLowerCase(java.util.Locale.ROOT)

  /** Net-dead ids — None when no retraction has ever happened. */
  def deadIds(spark: SparkSession, prefix: String,
      idCol: String): Option[DataFrame] =
    if (!spark.catalog.tableExists(goneTable(prefix))) None
    else Some(spark.table(goneTable(prefix))
      .groupBy(col(idCol)).agg(sum(col("sign")).as("net"))
      .filter(col("net") < 0).select(col(idCol)))

  /** `index` minus net-dead ids — an anti-join preserving the index's
    * bucket layout (downstream bucket-key censuses stay exchange-free);
    * the identity when no tombstones exist. `compact` is the pressure
    * valve that folds the dead set away entirely.
    */
  def live(spark: SparkSession, index: DataFrame, prefix: String,
      idCol: String): DataFrame =
    deadIds(spark, prefix, idCol) match {
      case Some(dead0) => deadSetJoin(spark, index, dead0, idCol, "left_anti")
      case None => index
    }

  /** The ONE thresholded dead-set join every reader and writer shares:
    * broadcast while the (cut, counted) dead set fits
    * [[BroadcastLimitKey]], shuffle anti/semi-join beyond it. The count
    * is tombstone-sized — cheap next to any index read or append.
    */
  private[operators] def deadSetJoin(spark: SparkSession, df: DataFrame,
      dead0: DataFrame, idCol: String, joinType: String): DataFrame = {
    val dead = Checkpoints.cut(dead0)
    val limit = spark.conf.get(BroadcastLimitKey, "1000000").toLong
    val n = dead.count()
    if (n == 0L) {
      if (joinType == "left_anti") df else df.limit(0)
    } else if (n <= limit) df.join(broadcast(dead), Seq(idCol), joinType)
    else df.join(dead, Seq(idCol), joinType)
  }

  /** Append −1 tombstones for the not-currently-dead subset of
    * `batchIds` — a replayed retract finds its ids already dead and
    * appends nothing. Creates the table on first use (schema from the
    * ids themselves, so the id type follows the family's).
    */
  def retract(spark: SparkSession, prefix: String, batchIds: DataFrame,
      idCol: String): Unit = {
    val gone = goneTable(prefix)
    val ids = batchIds.select(col(idCol)).distinct()
    val targets = deadIds(spark, prefix, idCol) match {
      case Some(dead) => deadSetJoin(spark, ids, dead, idCol, "left_anti")
      case None => ids
    }
    val rows = targets.withColumn("sign", lit(-1))
    if (!spark.catalog.tableExists(gone)) {
      // first retract ever: clear any stale managed location a prior
      // session left behind, then create VIA APPEND mode — it never
      // clobbers an existing table, so two concurrent first retracts
      // cannot drop (and so resurrect) each other's tombstones
      graft.sources.Bucketing.dropTableAndLocation(spark, gone)
      rows.write.mode("append").format("parquet").saveAsTable(gone)
    } else if (!rows.isEmpty)
      rows.write.mode("append").format("parquet").saveAsTable(gone)
  }

  /** Append +1 resurrection rows for the currently-dead subset of
    * `batchIds` — the re-admit path for ids whose index rows are
    * still physically present. A replayed resurrection sees net ≥ 0
    * and appends nothing.
    */
  def resurrect(spark: SparkSession, prefix: String, batchIds: DataFrame,
      idCol: String): Unit =
    deadIds(spark, prefix, idCol).foreach { dead =>
      val back = deadSetJoin(spark, batchIds.select(col(idCol)).distinct(),
        dead, idCol, "left_semi")
      if (!back.isEmpty)
        back.withColumn("sign", lit(1))
          .write.mode("append").format("parquet").saveAsTable(goneTable(prefix))
    }

  /** Adopt or clear a crashed compact's staging table: staging present
    * with the real table MISSING means the crash hit between drop and
    * rename — finish the swap (the staging table holds the complete
    * kept index); staging present WITH the real table is a stale
    * leftover from before the drop — discard it.
    */
  private def healSwap(spark: SparkSession, table: String): Unit = {
    val staging = s"${table}__c"
    if (spark.catalog.tableExists(staging)) {
      if (!spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      else graft.sources.Bucketing.dropTableAndLocation(spark, staging)
    }
  }

  /** Fold the net-dead set INTO the physical indexes, keeping both the
    * `_gone` history and `live()`'s anti-join bounded: each table of
    * `indexTables` = (table, bucketKey) is rewritten minus the dead
    * ids under the same layout (its catalog bucket count), then the history is
    * truncated. Afterwards `live()` is the identity and a compacted id
    * can only come back via a full re-admit with content.
    *
    * Concurrency: lease-serialized per prefix ([[Lease]]), under the
    * families' single-writer contract. Crash safety: each rewrite lands
    * in a staging table `<table>__c` while the original stays readable,
    * then swaps (drop + rename); a crash in between is healed on the
    * next entry, and the truncation runs LAST. Scale: one full rewrite
    * per index — schedule it when the dead set approaches
    * [[BroadcastLimitKey]], not per takedown.
    */
  def compact(spark: SparkSession, prefix: String, idCol: String,
      indexTables: Seq[(String, String)]): Unit =
    Lease.withLease(spark, s"${prefix}_tombstones", "compact") {
      val tables = indexTables.map { case (t, key) =>
        (t.toLowerCase(java.util.Locale.ROOT), key)
      }
      tables.foreach { case (t, _) => healSwap(spark, t) }
      deadIds(spark, prefix, idCol).foreach { dead0 =>
        val dead = Checkpoints.cut(dead0)
        if (!dead.isEmpty) {
          tables.foreach { case (t, key) =>
            val staging = s"${t}__c"
            // the planner chooses broadcast vs shuffle from the dead
            // set's stats (same reasoning as live())
            val kept = spark.table(t).join(dead, Seq(idCol), "left_anti")
            graft.sources.Bucketing.writeBucketed(kept, staging, key,
              graft.sources.Bucketing.bucketCount(spark, t))
            // carry the family's graft.* table properties (banding
            // stamps, hot-census versions) through the swap — a
            // compact must never strip an index's format markers
            val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
              .map(r => r.getString(0) -> r.getString(1))
              .filter(_._1.startsWith("graft."))
            if (props.nonEmpty) {
              val kv = props.map { case (k, v) =>
                s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
              }.mkString(", ")
              spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES ($kv)")
            }
            graft.sources.Bucketing.dropTableAndLocation(spark, t)
            spark.sql(s"ALTER TABLE $staging RENAME TO $t")
          }
        }
        // history now redundant: dead rows are physically gone and
        // net-≥0 ids are live by presence
        graft.sources.Bucketing.dropTableAndLocation(spark, goneTable(prefix))
        ()
      }
    }
}
