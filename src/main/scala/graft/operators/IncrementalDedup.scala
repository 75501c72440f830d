package graft.operators

import graft.GraftSession.table
import graft.functions.HashFunctions.{minhashA, minhashB, MinhashP}
import graft.functions.TextFunctions.fingerprintMd5
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (batch-vs-corpus) deduplication — SURVEY.md §2.3
  * `d10_incremental_dedup`.
  *
  * A growing corpus must dedup each INCOMING batch against what it
  * already holds without reprocessing the corpus: cost must be
  * O(batch + index probes), never O(corpus) per batch and never
  * corpus × batch. Two stages, both equi-joins against columns a
  * production pipeline would keep as precomputed index tables
  * (fingerprint set, LSH band buckets — derived in-plan here so the
  * entry is self-contained):
  *   1. exact: md5 fingerprint semi-join — batch docs whose
  *      normalized text already exists are `exact_dup`;
  *   2. near: MinHash band buckets of the batch equi-joined to the
  *      corpus buckets (the LSH trick bounds candidates), then exact
  *      n-gram Jaccard ≥ 0.2 verification on candidates only —
  *      matches are `near_dup`. Oversized corpus buckets (boilerplate
  *      text) are dropped via a broadcast anti-join, the same skew
  *      guard as d2 — a hot bucket must not fan the batch out.
  * Everything else in the batch is `kept`.
  *
  * The synthetic corpus has no duplicates, so the entry PLANTS the
  * batch deterministically from every 10th corpus doc: one third
  * exact copies, one third near copies (a short appended tail keeps
  * shingle Jaccard ≈ 0.95), one third fresh text (md5-derived, zero
  * shingle overlap). All three verdict paths are exercised on every
  * run; the DuckDB oracle replays plant, fingerprints, minhash bands
  * and verification from the same constants, so LSH candidate sets
  * match EXACTLY (even a missed near-dup is the same miss on both
  * engines).
  */
object IncrementalDedup {

  private val tail = " fresh tail segment"

  private[operators] def plantBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(30)) === 0, col("text"))
          .when(pmod(col("doc_id"), lit(30)) === 10, concat(col("text"), lit(tail)))
          .otherwise(concat(md5(col("text")),
            md5(concat(col("text"), lit("x"))),
            md5(concat(col("text"), lit("y"))))).as("text"))

  def d10IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val batch = plantBatch(docs)
    // stage 1: exact fingerprint match
    val fpC = docs.select(fingerprintMd5(col("text")).as("fp")).distinct()
    val exactDup = batch.select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .join(fpC, "fp").select(col("doc_id")).distinct()
    // stage 2: LSH band-bucket candidates, hot buckets dropped
    val bB = Dedup.minhashBands(batch, "doc_id", "text")
      .withColumnRenamed("doc_id", "id_a")
    val bC = Dedup.minhashBands(docs, "doc_id", "text")
      .withColumnRenamed("doc_id", "id_b")
    val hot = bC.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1000)
      .select(col("band"), col("band_hash"))
    val cand = bB.join(broadcast(hot), Seq("band", "band_hash"), "left_anti")
      .join(bC, Seq("band", "band_hash"))
      .select(col("id_a"), col("id_b")).distinct()
    val universe = docs.unionByName(batch)
    val nearDup = Dedup.jaccardVerify(universe, cand, "doc_id", "text", threshold = 0.2)
      .select(col("id_a").as("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exactDup.withColumn("e", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("nd", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("e") === 1, "exact_dup")
          .when(col("nd") === 1, "near_dup")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id"))
  }

  val d10IncrementalDedupSql: String = {
    val P = MinhashP
    val minCols = (0 until 16).map(j =>
      s"min((h * ${minhashA(j)} + ${minhashB(j)}) % $P) AS h$j").mkString(", ")
    def bandSelects(mh: String) = (0 until 4).map { b =>
      val cols = (0 until 4).map(r => s"h${b * 4 + r}::VARCHAR").mkString(", ")
      s"SELECT doc_id, $b::INT AS band, md5(concat_ws('|', $cols)) AS band_hash FROM $mh"
    }.mkString(" UNION ALL ")
    // per-side minhash band pipeline (same shape as the d2 oracle)
    def bandCtes(side: String, src: String) =
      s"""norm$side AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
        |  FROM $src
        |), sh$side AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([substr(t, i, 5) for i in generate_series(1, length(t) - 4)])) AS s
        |  FROM norm$side WHERE length(t) >= 5
        |), hb$side AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % $P AS h FROM sh$side
        |), mh$side AS (
        |  SELECT doc_id, $minCols FROM hb$side GROUP BY doc_id
        |), bands$side AS (
        |  ${bandSelects(s"mh$side")}
        |)""".stripMargin
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |), batch AS (
      |  SELECT doc_id + 1000000 AS doc_id,
      |    CASE WHEN doc_id % 30 = 0 THEN text
      |         WHEN doc_id % 30 = 10 THEN text || '$tail'
      |         ELSE md5(text) || md5(text || 'x') || md5(text || 'y') END AS text
      |  FROM corpus WHERE doc_id % 10 = 0
      |), fpc AS (
      |  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      |  FROM corpus
      |), exact_dup AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM (SELECT doc_id,
      |          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      |        FROM batch) b
      |  JOIN fpc USING (fp)
      |), ${bandCtes("b", "batch")}, ${bandCtes("c", "corpus")},
      |hot AS (
      |  SELECT band, band_hash FROM bandsc GROUP BY band, band_hash HAVING count(*) > 1000
      |), cand AS (
      |  SELECT DISTINCT bb.doc_id AS id_a, bc.doc_id AS id_b
      |  FROM bandsb bb JOIN bandsc bc USING (band, band_hash)
      |  WHERE NOT EXISTS (SELECT 1 FROM hot h
      |                    WHERE h.band = bb.band AND h.band_hash = bb.band_hash)
      |), univ AS (
      |  SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM batch
      |), shu AS (
      |  SELECT doc_id,
      |    list_distinct([('0x' || substr(md5(substr(t, i, 5)), 1, 15))::BIGINT
      |                   for i in generate_series(1, length(t) - 4)]) AS sh
      |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      |        FROM univ)
      |), near_dup AS (
      |  SELECT DISTINCT c.id_a AS doc_id
      |  FROM cand c JOIN shu a ON a.doc_id = c.id_a JOIN shu b ON b.doc_id = c.id_b
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.2
      |)
      |SELECT b.doc_id AS doc_id,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
      |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
      |       ELSE 'kept' END AS status
      |FROM batch b
      |LEFT JOIN exact_dup e ON e.doc_id = b.doc_id
      |LEFT JOIN near_dup n ON n.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin
  }
}
