package graft.operators

import graft.functions.TextFunctions.wsTokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the corpus-level TERM STATISTICS that
  * tf-idf (t7) and BM25 (t24) serve — document frequency per term,
  * document count, and total token length (avgdl) — completing the
  * "every corpus-derived artifact is incrementally maintainable"
  * story beyond dedup (SURVEY §2.3/§2.5): the statistics currently
  * recompute per corpus version; an ingest batch shifts df and the
  * totals MONOTONICALLY, and a TAKEDOWN batch shifts them by exactly
  * the negative of what its docs contributed (docs are immutable —
  * see the fingerprint), so folding either direction is exact by
  * construction.
  *
  * Layout — append-only deltas, not in-place rewrites, every row
  * tagged with its operation's BATCH ID:
  *   - `<prefix>_df` (batch_id, term, df) bucketed on term: each
  *     admit APPENDS the batch's per-term document counts; each
  *     retract appends the NEGATIVE counts. The served df is an
  *     exchange-free group-by-sum riding the bucket layout (zero
  *     nets — terms whose every holder was retracted — are filtered
  *     out, matching a from-scratch recompute). `compact` folds the
  *     deltas back to one row per term (the log-structured-merge
  *     discipline, Spark-shaped).
  *   - `<prefix>_tot` (batch_id, n_docs, sum_dl): one appended row
  *     per operation (negative for retracts); served as a
  *     two-scalar sum. Written LAST — its batch_id row doubles as
  *     the operation's COMPLETION marker.
  *   - `<prefix>_docs` (doc_id, batch_id, sign) bucketed on doc_id:
  *     +1 rows for admits, −1 for retracts; a doc is LIVE iff its
  *     net sign is positive. Written FIRST, so a later operation
  *     can never observe counted-but-unclaimed docs.
  *
  * SINGLE-WRITER ENFORCEMENT (the lease): every operation — admit,
  * retract, compact — holds a lease file under
  * `<warehouse>/<prefix>_lease/` for its duration. Acquiring while
  * ANOTHER operation's lease exists throws: a crashed operation must
  * be retried to completion (same batch → same lease file → the
  * retry re-enters) before any other operation starts. This turns
  * two previously documentation-only contracts into errors:
  *   - an overlapping batch admitted between a crash and its retry
  *     could double-count (the retry's fresh-set would exclude docs
  *     the other batch admitted meanwhile);
  *   - `compact` erases `_df`'s batch ids, so folding while an admit
  *     is mid-retry re-opens the double-count its lacks()-guard
  *     exists to prevent.
  * An ABANDONED operation's lease blocks the family until it is
  * retried or the stale lease file is removed by an operator — the
  * deliberate failure mode (loud, not wrong).
  *
  * CRASH-RETRY EXACTNESS: the three appends land `_docs` → `_df` →
  * `_tot`, each guarded by "append only if the table lacks this
  * batch_id". The batch id derives from the batch's (id, content)
  * hashes — stable across retries — plus the count of COMPLETED
  * operations of the same kind over the same id set (read from
  * `_tot`, the completion table): a retry of an incomplete operation
  * reuses its id and heals exactly the lagging tables, while a NEW
  * operation over the same ids (re-admit after retract) mints a new
  * one. A replay of a COMPLETED operation computes an empty
  * fresh/target set and no-ops. Content hashes in the fingerprint
  * pin the docs-are-immutable assumption: re-admitting an id with
  * different text is a DIFFERENT batch (and would corrupt a later
  * retract's decrements — immutability is the family's contract).
  *
  * Statistics contract (pinned by the equivalence spec): df(term) =
  * |{live doc : term ∈ wsTokens(doc)}|, n_docs = live docs,
  * sum_dl = Σ |wsTokens(doc)| — exactly the quantities t7/t24 derive
  * from scratch, so serving from the maintained tables reproduces
  * their scores on the live corpus. The t7/t24 ENTRIES stay
  * recompute-per-corpus-version (they are oracled); this module is
  * the ingest path a 100 TB deployment runs instead.
  */
object IncrementalDfStats {

  /** Distinct (doc_id, term) rows + per-doc token length of a
    * documents frame — the one tokenization both stats share.
    */
  private def docTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wsTokens(col("text")).as("tk"))

  /** The batch's stat deltas: per-term doc counts and the totals row. */
  private def deltas(docs: DataFrame): (DataFrame, DataFrame) = {
    val d = Checkpoints.cut(docTerms(docs))
    val dfB = d.select(col("doc_id"), explode(col("tk")).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totB = d.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("tk")).cast("long")), lit(0L)).as("sum_dl"))
    (dfB, totB)
  }

  /** Deterministic operation key over the batch's (id, content)
    * hashes — stable across retries (derived from the ORIGINAL
    * batch, never from table state). Order-independent combine
    * (count + xor + decimal sum of per-doc hashes; decimal so the
    * ANSI sweep can't overflow-throw), one scalar agg over the
    * batch. The content hash makes re-admitting an id with changed
    * text a different batch rather than a silently-absorbed replay.
    */
  private def opKey(batchDocs: DataFrame, kind: String): String = {
    val r = batchDocs
      .select(xxhash64(col("doc_id"), col("text")).as("h")).distinct()
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
        coalesce(sum(col("h").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("s"))
      .head()
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$kind|${r.getLong(0)}|${r.getLong(1)}|${r.getDecimal(2)}"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"$kind-$digest"
  }

  /** The operation's batch id: opKey plus the number of COMPLETED
    * same-key operations (rows in `_tot`, the completion table) — a
    * crashed operation's retry reuses its id (no `_tot` row landed),
    * a genuinely new same-docs operation gets a fresh one.
    */
  private def opId(spark: SparkSession, prefix: String, key: String): String = {
    val g = spark.table(s"${prefix}_tot")
      .filter(col("batch_id").startsWith(key))
      .select(col("batch_id")).distinct().count()
    s"$key-$g"
  }

  // ---------------------------------------------------------------
  // The single-writer lease — acquisition is [[Lease.withLease]]
  // (atomic create-exclusive first, rivals-check second), shared with
  // every family that serializes its maintenance operations.
  // ---------------------------------------------------------------

  private def withLease[A](spark: SparkSession, prefix: String, opId: String)(
      body: => A): A =
    Lease.withLease(spark, prefix, opId)(body)

  /** Initialize the three tables from the standing corpus (batch id
    * "corpus").
    */
  def buildIndex(docs: DataFrame, prefix: String = "graft_dfstats",
      buckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    val d = Checkpoints.cut(docs.select(col("doc_id"), col("text")))
    val (dfB, totB) = deltas(d)
    graft.sources.Bucketing.writeBucketed(
      dfB.withColumn("batch_id", lit("corpus")), s"${prefix}_df", "term", buckets)
    graft.sources.Bucketing.writeBucketed(
      d.select(col("doc_id")).withColumn("batch_id", lit("corpus"))
        .withColumn("sign", lit(1)),
      s"${prefix}_docs", "doc_id", buckets)
    val tot = graft.sources.Bucketing.dropTableAndLocation(spark, s"${prefix}_tot")
    totB.withColumn("batch_id", lit("corpus"))
      .write.mode("overwrite").format("parquet").saveAsTable(tot)
  }

  /** Per-doc net sign over `_docs` rows of OTHER operations
    * (batch_id != self — the current operation's own partial append
    * must not change what its retry computes), restricted to the
    * batch's ids. Positive net = live.
    */
  private def netPresence(spark: SparkSession, prefix: String, self: String,
      ids: DataFrame): DataFrame =
    spark.table(s"${prefix}_docs")
      .filter(col("batch_id") =!= lit(self))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("sign")).as("net"))

  private def lacks(spark: SparkSession, table: String, bid: String): Boolean =
    spark.table(table).filter(col("batch_id") === lit(bid)).isEmpty

  /** Fold an ingest batch into the statistics — O(batch) work, zero
    * corpus-side recompute, crash-retry-exact, lease-serialized (see
    * scaladoc).
    */
  def admitBatch(spark: SparkSession, batchDocs: DataFrame,
      prefix: String = "graft_dfstats"): Unit = {
    val b = Checkpoints.cut(batchDocs.select(col("doc_id"), col("text")))
    val bid = opId(spark, prefix, opKey(b, "admit"))
    withLease(spark, prefix, bid) {
      val ids = b.select(col("doc_id")).distinct()
      val present = netPresence(spark, prefix, bid, ids)
        .filter(col("net") > 0).select(col("doc_id"))
      val fresh = Checkpoints.cut(
        b.join(broadcast(present), Seq("doc_id"), "left_anti"))
      if (!fresh.isEmpty) {
        val (dfB, totB) = deltas(fresh)
        // _docs FIRST (claims visible before counts), _tot LAST (the
        // completion marker) — each append lacks()-guarded
        if (lacks(spark, s"${prefix}_docs", bid))
          graft.sources.Bucketing.appendBucketed(
            fresh.select(col("doc_id")).withColumn("batch_id", lit(bid))
              .withColumn("sign", lit(1)),
            s"${prefix}_docs", "doc_id")
        if (lacks(spark, s"${prefix}_df", bid))
          graft.sources.Bucketing.appendBucketed(
            dfB.withColumn("batch_id", lit(bid)), s"${prefix}_df", "term")
        if (lacks(spark, s"${prefix}_tot", bid))
          totB.withColumn("batch_id", lit(bid))
            .write.mode("append").format("parquet")
            .saveAsTable(s"${prefix}_tot".toLowerCase(java.util.Locale.ROOT))
      }
    }
  }

  /** Remove a takedown batch from the statistics — the REVERSE
    * lifecycle (right-to-be-forgotten / opt-out batches are routine
    * on a crawl corpus): appends the negative of exactly what the
    * docs contributed, O(batch), zero corpus-side recompute. The
    * batch must carry the docs' ORIGINAL text (immutability is the
    * family contract — the deltas re-derive from it). Docs not
    * currently live are ignored; a replay of a completed retract
    * no-ops; retract-then-re-admit counts the docs again.
    */
  def retractBatch(spark: SparkSession, batchDocs: DataFrame,
      prefix: String = "graft_dfstats"): Unit = {
    val b = Checkpoints.cut(batchDocs.select(col("doc_id"), col("text")))
    val rbid = opId(spark, prefix, opKey(b, "retract"))
    withLease(spark, prefix, rbid) {
      val ids = b.select(col("doc_id")).distinct()
      val live = netPresence(spark, prefix, rbid, ids)
        .filter(col("net") > 0).select(col("doc_id"))
      val targets = Checkpoints.cut(
        b.join(broadcast(live), Seq("doc_id"), "left_semi"))
      if (!targets.isEmpty) {
        val (dfB, totB) = deltas(targets)
        if (lacks(spark, s"${prefix}_docs", rbid))
          graft.sources.Bucketing.appendBucketed(
            targets.select(col("doc_id")).withColumn("batch_id", lit(rbid))
              .withColumn("sign", lit(-1)),
            s"${prefix}_docs", "doc_id")
        if (lacks(spark, s"${prefix}_df", rbid))
          graft.sources.Bucketing.appendBucketed(
            dfB.withColumn("df", -col("df"))
              .withColumn("batch_id", lit(rbid)),
            s"${prefix}_df", "term")
        if (lacks(spark, s"${prefix}_tot", rbid))
          totB.select((-col("n_docs")).as("n_docs"), (-col("sum_dl")).as("sum_dl"))
            .withColumn("batch_id", lit(rbid))
            .write.mode("append").format("parquet")
            .saveAsTable(s"${prefix}_tot".toLowerCase(java.util.Locale.ROOT))
      }
    }
  }

  /** The served (term, df) statistics — an exchange-free bucket-key
    * group-by over the delta rows. Zero nets (every holder
    * retracted) are dropped, matching a from-scratch recompute.
    */
  def dfStats(spark: SparkSession, prefix: String = "graft_dfstats"): DataFrame =
    spark.table(s"${prefix}_df")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)

  /** The served (n_docs, sum_dl) totals. */
  def totals(spark: SparkSession, prefix: String = "graft_dfstats"): DataFrame =
    spark.table(s"${prefix}_tot")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))

  /** Fold the accumulated df deltas back to one row per term — one
    * linear pass riding the bucket layout. Holds the lease for its
    * duration, so it CANNOT run while an admit/retract is mid-flight
    * or mid-retry (folding erases `_df`'s batch ids, which would
    * re-open the double-count the lacks()-guards prevent) — the LSM
    * compaction contract, enforced rather than documented. The
    * rewrite itself is not atomic: a compact crashed mid-write needs
    * a re-run of compact (its lease persists, blocking admits until
    * then) over the pre-fold deltas preserved by the eager cut.
    */
  def compact(spark: SparkSession, prefix: String = "graft_dfstats"): Unit =
    withLease(spark, prefix, "compact") {
      val buckets = graft.sources.Bucketing.bucketCount(spark, s"${prefix}_df")
      graft.sources.Bucketing.writeBucketed(
        Checkpoints.cut(
          dfStats(spark, prefix).withColumn("batch_id", lit("compacted")),
          eager = true),
        s"${prefix}_df", "term", buckets)
    }

  /** t7's tf-idf top-5 SERVED from the maintained statistics: score
    * any document set (the standing corpus, an arriving batch, a
    * query panel) without recomputing df over the corpus — the
    * serving shape the equivalence spec pins against the from-scratch
    * entry.
    */
  def tfidfTop5(spark: SparkSession, docs: DataFrame,
      prefix: String = "graft_dfstats"): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfStats(spark, prefix).withColumnRenamed("df", "dfreq"), "term")
      .crossJoin(broadcast(totals(spark, prefix).select(col("n_docs"))))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("dfreq").cast("double")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("dfreq"), col("score"))
  }
}
