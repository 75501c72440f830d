package graft.operators

import graft.GraftSession.table
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 training-data-pipeline operators (SURVEY.md §2.5/§2.3):
  * PII scrubbing, TF-IDF keywording, internal-repetition quality
  * filtering (Gopher-style), and benchmark-contamination detection.
  * All are Column algebra / equi-join shapes with DuckDB oracles
  * (md5-int shingles, int-ratio doubles, 6-decimal rounded logs —
  * SURVEY.md §5 rules).
  */
object PipelineQueries {

  // ---------------------------------------------------------------
  // t6: PII scrubbing
  // ---------------------------------------------------------------

  // Conservative RE2-and-Java-compatible patterns (no lookaround):
  // identical match semantics in Spark (java.util.regex) and DuckDB
  // (RE2) for these constructs.
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+\\d[\\d-]{7,}\\d"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** §2.5 t6: PII scrub — regex redaction of emails/phones/IPs, a
    * narrow map (no shuffle). The synthetic corpus contains no PII,
    * so the entry PLANTS deterministic doc_id-derived PII first and
    * the oracle replays plant + scrub: the redaction behavior is
    * exercised on every row, not vacuously green. Replacement order
    * (email → phone → ip) is fixed; the replaced tags contain no
    * digits, so later patterns cannot match inside earlier
    * redactions.
    */
  def t6PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.org tel +1-555-"),
      lpad(col("doc_id").cast("string"), 4, "0"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(planted, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      ipRe, "[IP]")
    table(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_count(planted, lit(emailRe)).cast("long").as("n_email"),
        regexp_count(planted, lit(phoneRe)).cast("long").as("n_phone"),
        regexp_count(planted, lit(ipRe)).cast("long").as("n_ip"),
        length(scrubbed).cast("long").as("n_chars_scrubbed"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  val t6PiiScrubSql: String = {
    // RE2 string literals (single-escaped in SQL)
    val (e, p, ip) = ("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
      "\\+\\d[\\d-]{7,}\\d",
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    s"""WITH w AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.org tel +1-555-' ||
      |      lpad(doc_id::VARCHAR, 4, '0') || ' ip 10.' || (doc_id % 256) || '.0.1' AS planted
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, planted,
      |    regexp_replace(regexp_replace(regexp_replace(planted,
      |      '$e', '[EMAIL]', 'g'), '$p', '[PHONE]', 'g'), '$ip', '[IP]', 'g') AS scrubbed
      |  FROM w
      |)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(planted, '$e')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(planted, '$p')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(planted, '$ip')) AS BIGINT) AS n_ip,
      |  CAST(length(scrubbed) AS BIGINT) AS n_chars_scrubbed,
      |  md5(scrubbed) AS scrubbed_md5
      |FROM s ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // t7: TF-IDF keywords
  // ---------------------------------------------------------------

  /** §2.5 t7: TF-IDF top-5 keywords per document. Shuffle structure:
    * explode → partial-agg groupBy(doc, term) → COUNT-over-term
    * window for document frequency → per-doc top-k window. The
    * document frequency is a window over the tf frame, not a
    * groupBy + self-join (r19: the join form evaluated the whole
    * tokenize→explode→agg subtree TWICE — once per join side — and
    * paid a third exchange reconciling them; dfreq per term IS the
    * tf row count per term, so one exchange on `term` computes it
    * over a single tokenize pass: isolated sf0.1 median 1.97 →
    * 1.21 s, plan 2 scans/5 exchanges → 1 scan/4). The corpus size
    * enters as a 1-row broadcast, and ln-scores are rounded to 6
    * decimals so JVM/libm last-ulp differences cannot flip the
    * (score, term) ordering between engines.
    */
  def t7Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val terms = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("dfreq", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("dfreq").cast("double")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("dfreq"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val t7TfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |s AS (
      |  SELECT doc_id, term, tf, dfreq,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(dfreq AS DOUBLE)), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |), r AS (
      |  SELECT doc_id, term, tf, dfreq, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
      |  FROM s
      |)
      |SELECT doc_id, rank, term, tf, dfreq, score FROM r WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // t8: internal repetition (quality filter)
  // ---------------------------------------------------------------

  /** The d8 family's trigram LEAF hash (60-bit md5-prefix of
    * "t1 t2 t3") — the batch kernel and the incremental index both
    * hash through this one definition.
    */
  private[graft] def triHash(tri: Column): Column =
    conv(substring(md5(tri), 1, 15), 16, 10).cast("long")

  /** (id, trigram-hash) rows — explode-over-positions so the token
    * split runs once per DOC (the Generate barrier; see
    * Dedup.shingleRows for the measured HOF-inlining trap). Hashes
    * via `triHash`, identical in the oracle.
    */
  private[graft] def triShingles(d: DataFrame, idCol: String): DataFrame = {
    val spread = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), wsTokens(col("text")).as("tk"))
    spread
      .select(col(idCol), col("tk"),
        explode(when(size(col("tk")) >= 3,
            sequence(lit(1), size(col("tk")) - lit(2)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(idCol),
        concat_ws(" ", element_at(col("tk"), col("i")),
          element_at(col("tk"), col("i") + 1),
          element_at(col("tk"), col("i") + 2)).as("tri"))
      .select(col(idCol), triHash(col("tri")).as("h"))
  }

  /** §2.5 t8: internal-repetition quality metrics (Gopher-style
    * duplicate-trigram ratio): ONE scan (token count rides the
    * exploded rows via explode_outer, so a short doc still emits its
    * row) and ONE partial-agg groupBy — no second tokenize pass, no
    * reconciliation join. Ratios are int/int — drift-free.
    */
  def t8Repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), wsTokens(col("text")).as("tk"))
    val exploded = spread
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"), col("tk"),
        explode_outer(when(size(col("tk")) >= 3,
            sequence(lit(1), size(col("tk")) - lit(2)))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("i").isNotNull,
          conv(substring(md5(concat_ws(" ",
            element_at(col("tk"), col("i")),
            element_at(col("tk"), col("i") + 1),
            element_at(col("tk"), col("i") + 2))), 1, 15), 16, 10).cast("long"))
          .as("h"))
    exploded.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(col("h")).as("n_tri"), // count(col) skips the null outer row
        countDistinct(col("h")).as("n_uniq_tri"))
      .select(col("doc_id"), col("n_tokens"), col("n_tri"), col("n_uniq_tri"),
        when(col("n_tri") === 0, lit(0.0))
          .otherwise((col("n_tri") - col("n_uniq_tri")).cast("double") /
            col("n_tri").cast("double")).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  val t8RepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS tk
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, len(tk) AS n_tokens,
      |    CASE WHEN len(tk) < 3 THEN []::BIGINT[]
      |         ELSE [('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT
      |               for i in generate_series(1, len(tk) - 2)] END AS tris
      |  FROM t
      |)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(len(tris) AS BIGINT) AS n_tri,
      |  CAST(len(list_distinct(tris)) AS BIGINT) AS n_uniq_tri,
      |  CASE WHEN len(tris) = 0 THEN 0.0
      |       ELSE CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / CAST(len(tris) AS DOUBLE)
      |  END AS dup_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t26: intra-document block dedup (self-repetition SCRUB)
  // ---------------------------------------------------------------

  /** §2.5 t26: intra-document block dedup — the SCRUB t8 only
    * measures: t8 reports a doc's duplicate-trigram ratio, d19
    * scrubs spans repeated ACROSS documents, but a doc that repeats
    * ITSELF (retry loops in crawls, templated listings, chat echo)
    * needs its own pass. The doc's tokens are cut into consecutive
    * non-overlapping 3-token blocks; only the FIRST occurrence of
    * each distinct block survives, in original order. Output per doc:
    * block census + md5 of the scrubbed text (hash, not text — the
    * driver compare stays drift-free and the corpus never ships
    * twice).
    *
    * The synthetic corpus has almost no organic self-repetition, so
    * the entry PLANTS it (d11's rule): tokens are first truncated to
    * whole blocks (trailing partials were never in a block anyway),
    * then the doc's own first 6 tokens are appended — two exact,
    * block-ALIGNED repeats of its opening blocks, so every doc with
    * ≥ 6 tokens carries the plant — replayed verbatim by the oracle;
    * organic duplicate blocks surface too.
    *
    * Scale: explode blocks (narrow), ONE (doc, block) window for the
    * first-occurrence mark, one doc rollup — both exchanges carry
    * ~blocks rows (= tokens/3), per-doc state is bounded by doc
    * size, nothing is quadratic (an expression-space `filter` +
    * `array_position` dedup would be O(blocks²) per doc — the
    * array_distinct trap, measured on shingles).
    */
  def t26BlockDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("blk"))
    val docs = table(spark, dir, "documents")
    val planted = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), wsTokens(col("text")).as("tk0"))
      .select(col("doc_id"), expr("slice(tk0, 1, 3 * (size(tk0) div 3))").as("base"))
      .select(col("doc_id"),
        concat(col("base"), slice(col("base"), 1, 6)).as("tk"))
    planted
      .select(col("doc_id"), col("tk"),
        explode(when(size(col("tk")) >= 3,
          sequence(lit(0), (size(col("tk")) / lit(3)).cast("int") - 1))).as("b"))
      .select(col("doc_id"), col("b").cast("long").as("pos"),
        array_join(slice(col("tk"), col("b") * 3 + 1, lit(3)), " ").as("blk"))
      .withColumn("fp", min(col("pos")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("pos") === col("fp"), 1L).otherwise(0L))
          .cast("long").as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("pos") === col("fp"),
            struct(col("pos"), col("blk"))))),
          s => s.getField("blk")), " ")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }

  val t26BlockDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS tk0
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, list_concat(base, base[1:6]) AS tk FROM (
      |    SELECT doc_id, tk0[1:3 * (len(tk0) // 3)] AS base FROM t)
      |), b AS (
      |  SELECT doc_id, u.pos, u.blk FROM (
      |    SELECT doc_id,
      |      unnest([{'pos': i, 'blk': array_to_string(tk[(i*3+1):(i*3+3)], ' ')}
      |              for i in generate_series(0, len(tk)//3 - 1)]) AS u
      |    FROM p WHERE len(tk) >= 3)
      |), k AS (
      |  SELECT doc_id, pos, blk,
      |    min(pos) OVER (PARTITION BY doc_id, blk) AS fp
      |  FROM b
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(count(*) FILTER (pos = fp) AS BIGINT) AS n_kept,
      |  md5(string_agg(blk, ' ' ORDER BY pos) FILTER (pos = fp)) AS scrub_hash
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // d8: benchmark contamination
  // ---------------------------------------------------------------

  /** §2.3 d8: benchmark-contamination check — training docs sharing
    * distinct token trigrams with a held-out "benchmark" set (every
    * 50th doc). Scale design: both sides reduce to distinct
    * (doc, trigram-hash) rows; the join is equi on the 60-bit hash,
    * so shuffle cardinality is shingles, never docs². Ubiquitous
    * trigrams (df > maxDf) are dropped via a broadcast anti-join
    * BEFORE the join — they carry no contamination signal and they
    * are exactly the hot keys that would skew it.
    */
  private[operators] val ContamMaxDf = 50
  private[operators] val ContamMinShared = 1

  /** The materialized contamination-pair table at the entry operating
    * point — d8's product and d23's input, landed once per corpus
    * version (the `passagePairs`/`exactRepeats` discipline: the
    * shingle kernel is the expensive part and both the report and its
    * action serve from the scan). Non-default operating points run
    * the kernel directly.
    */
  private def contaminationPairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.materializedClustered(spark, "cpair", dir, "documents.parquet",
      Seq("doc_id"))(
      d8ContaminationPairs(spark, dir, ContamMaxDf, ContamMinShared))

  def d8Contamination(spark: SparkSession, dir: String,
      maxDf: Int = ContamMaxDf, minShared: Int = ContamMinShared): DataFrame = {
    val pairs =
      if (maxDf == ContamMaxDf && minShared == ContamMinShared)
        contaminationPairs(spark, dir)
      else d8ContaminationPairs(spark, dir, maxDf, minShared)
    pairs.orderBy(col("doc_id"), col("bench_id"))
  }

  /** Distinct (doc_id, h) trigram rows of a documents frame — the
    * trigram family's index row shape (shared by the d8/d23 artifact
    * build, `IncrementalTrigram`'s index, and the equivalence specs).
    */
  private[operators] def trigramRows(docs: DataFrame): DataFrame =
    triShingles(docs, "doc_id").distinct()

  /** Pair derivation shared by the full d8 pipeline and
    * `IncrementalTrigram`'s equivalence contract: corpus-df census →
    * hot trigrams (df > maxDf) dropped via broadcast anti-join →
    * panel join → shared counts ≥ minShared. Bipartite (train ×
    * bench), unlike d11's self-join.
    */
  private[operators] def pairsFromTrigramRows(corpus: DataFrame,
      panel: DataFrame, maxDf: Int, minShared: Int): DataFrame = {
    val hot = corpus.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h"))
    corpus.join(broadcast(hot), Seq("h"), "left_anti")
      .join(panel, Seq("h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The benchmark-panel trigram rows (every 50th doc — the held-out
    * set convention).
    */
  private[operators] def benchPanelRows(spark: SparkSession, dir: String): DataFrame =
    trigramRows(table(spark, dir, "documents").filter(col("doc_id") % 50 === 0))
      .withColumnRenamed("doc_id", "bench_id")

  /** The training-corpus trigram rows (everything off the panel). */
  private[operators] def trainTrigramRows(spark: SparkSession, dir: String): DataFrame =
    trigramRows(table(spark, dir, "documents").filter(col("doc_id") % 50 =!= 0))

  /** The (train doc, bench doc, n_shared) kernel behind d8 and d23 —
    * unsorted, so d23's flagged-id collapse doesn't inherit d8's
    * presentation range exchange.
    */
  private def d8ContaminationPairs(spark: SparkSession, dir: String,
      maxDf: Int, minShared: Int): DataFrame =
    pairsFromTrigramRows(trainTrigramRows(spark, dir),
      benchPanelRows(spark, dir), maxDf, minShared)

  /** The CTE prefix d8's and d23's oracles share — both replay the
    * same shingle→hash→hot-cap→join kernel, so the report and its
    * action can never drift apart in the oracle either.
    */
  private val d8Ctes: String =
    """t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS tk
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, h FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(tk) < 3 THEN []::BIGINT[]
      |        ELSE [('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT
      |              for i in generate_series(1, len(tk) - 2)] END) AS h
      |    FROM t) u
      |), corpus AS (SELECT doc_id, h FROM sh WHERE doc_id % 50 != 0),
      |bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % 50 = 0),
      |hot AS (SELECT h FROM corpus GROUP BY h HAVING count(*) > 50)""".stripMargin

  val d8ContaminationSql: String =
    s"""WITH $d8Ctes
      |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      |FROM corpus c JOIN bench b USING (h)
      |WHERE c.h NOT IN (SELECT h FROM hot)
      |GROUP BY c.doc_id, b.bench_id
      |HAVING count(*) >= 1
      |ORDER BY doc_id, bench_id""".stripMargin

  /** §2.3 d23: trigram DECONTAMINATION — the action d8's report
    * feeds, closing the last report/action pairing (d18→d19 spans,
    * d21→d22 embeddings, now d8→d23 trigrams): d8 lists the
    * (train doc, bench doc) trigram-overlap pairs; this entry DROPS
    * every flagged train doc from the corpus and reports the
    * per-source decontamination census (total / dropped / kept /
    * kept id range) a corpus build signs off on.
    *
    * Scale: the flag set comes from d8's kernel served via the
    * `contaminationPairs` artifact (shuffle ∝ shingles, never docs²,
    * run once per corpus version), collapses to DISTINCT flagged ids
    * — an exchange carrying only flagged rows, map-side partial agg
    * dedups before the shuffle, and contamination is rare by
    * contract — and the
    * drop decision is ONE BROADCAST left join against `documents`:
    * the 100 TB corpus never hash-shuffles for the drop or the
    * census (per-source rollup is a partial agg over source
    * cardinality). Same report→action contract as d22, spec-pinned.
    */
  def d23TrigramDecontam(spark: SparkSession, dir: String,
      maxDf: Int = ContamMaxDf, minShared: Int = ContamMinShared): DataFrame = {
    val pairs =
      if (maxDf == ContamMaxDf && minShared == ContamMinShared)
        contaminationPairs(spark, dir)
      else d8ContaminationPairs(spark, dir, maxDf, minShared)
    val flagged = pairs
      .select(col("doc_id")).distinct()
      .withColumn("flagged", lit(1))
    table(spark, dir, "documents")
      .filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(flagged), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("flagged").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("flagged").isNull, 1L).otherwise(0L)).as("n_kept"),
        min(when(col("flagged").isNull, col("doc_id"))).as("kept_min_id"),
        max(when(col("flagged").isNull, col("doc_id"))).as("kept_max_id"))
      .orderBy(col("source"))
  }

  val d23TrigramDecontamSql: String =
    s"""WITH $d8Ctes,
      |pairs AS (
      |  SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      |  FROM corpus c JOIN bench b USING (h)
      |  WHERE c.h NOT IN (SELECT h FROM hot)
      |  GROUP BY c.doc_id, b.bench_id
      |  HAVING count(*) >= 1
      |), flagged AS (SELECT DISTINCT doc_id FROM pairs)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(sum(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  min(CASE WHEN f.doc_id IS NULL THEN d.doc_id END) AS kept_min_id,
      |  max(CASE WHEN f.doc_id IS NULL THEN d.doc_id END) AS kept_max_id
      |FROM documents d LEFT JOIN flagged f USING (doc_id)
      |WHERE d.doc_id % 50 != 0
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------
  // d11: span-level (passage) dedup
  // ---------------------------------------------------------------

  /** §2.3 d11: repeated-PASSAGE detection — doc pairs sharing ≥3
    * distinct 8-token windows. Document-level dedup (d1-d10) misses
    * copy-pasted spans inside otherwise-different docs; span-level
    * windows catch them (the suffix-array dedup problem, Spark-shaped:
    * rolling windows → 60-bit hashes → equi-join). Scale: both sides
    * are distinct (doc, window-hash) rows, shuffle ∝ windows, never
    * docs²; ubiquitous windows (df > 100 — site boilerplate) dropped
    * via broadcast anti-join before the join, the d8 hot-key guard.
    *
    * The synthetic corpus shares no natural 8-token spans, so the
    * entry PLANTS them: every doc gets its decade-head doc's first 12
    * tokens appended (docs in a decade then share 5 rolling windows —
    * above threshold, below the boilerplate cap). The oracle replays
    * plant + windows + hashes exactly.
    */
  /** Decade-head plant shared by d11/d18/d19: every doc gets its
    * decade-head doc's first 12 tokens appended, so docs in a decade
    * share 5 rolling 8-token windows — the synthetic corpus otherwise
    * contains no natural cross-doc spans. Oracles replay it verbatim.
    */
  private[operators] def plantedSpanToks(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val heads = docs.select(col("doc_id").as("head_id"),
      slice(wsTokens(col("text")), 1, 12).as("ptoks"))
    docs
      .withColumn("head_id", col("doc_id") - pmod(col("doc_id"), lit(10)))
      .join(heads, "head_id")
      .select(col("doc_id"), concat(wsTokens(col("text")), col("ptoks")).as("tk"))
  }

  /** The materialized passage-pair table (doc_a, doc_b, n_shared ≥ 3)
    * — d11's product and d20's input, landed once per corpus version
    * as parquet clustered on doc_a (`Artifacts.materializedClustered`
    * — the discipline shared with the document/media cluster
    * artifacts): the window-hash pipeline is the expensive part, and
    * BOTH consumers previously re-ran it per query (the two slowest
    * bench entries after round 12's other fixes, 2.5 s each). Serving
    * either entry warm is a scan + rollup with zero re-hashing.
    */
  def passagePairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.materializedClustered(spark, "ppair", dir, "documents.parquet",
      Seq("doc_a"))(passagePairPipeline(spark, dir))

  def d11PassageDedup(spark: SparkSession, dir: String): DataFrame =
    passagePairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The full window-hash pipeline behind the artifact (one run per
    * corpus version; package-visible so PlanSpec pins the BUILD
    * plan's shape — the serving plan is pinned separately as
    * Generate-free).
    */
  private[graft] def passagePairPipeline(spark: SparkSession, dir: String): DataFrame = {
    val planted = plantedSpanToks(spark, dir)
    // hash INSIDE a transform over the post-exchange `tk` attribute,
    // then explode only the resulting longs: the explode-over-positions
    // form carried the full token array on every window row (~windows×
    // array bytes of Generate traffic — measured 3× slower than DuckDB
    // at sf0.1); `tk` is a plain attribute here (the repartition is the
    // barrier), so the lambda does NOT re-derive it per element.
    // ONE kernel for the whole family (batch/incremental/stream):
    val winHashes = IncrementalPassages.windowHashExpr(col("tk"))
    val wins = planted
      .repartition(planted.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 8, winHashes)
          .otherwise(array().cast("array<long>"))).as("h"))
      .distinct()
    IncrementalPassages.pairsFromWindows(wins)
  }

  /** Shared CTE prefix for d11/d20: plant → windows → df cap →
    * surviving (h, doc) rows (`ok`).
    */
  private val passageWindowCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |  FROM documents
      |), planted AS (
      |  SELECT d.doc_id, list_concat(d.toks, h.toks[1:12]) AS tk
      |  FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10
      |), wins AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          unnest([array_to_string(tk[i:i+7], ' ')
      |                  for i in generate_series(1, len(tk) - 7)]) AS w
      |        FROM planted WHERE len(tk) >= 8)
      |), hot AS (
      |  SELECT h FROM wins GROUP BY h HAVING count(*) > 100
      |), ok AS (
      |  SELECT * FROM wins WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.h = wins.h)
      |)""".stripMargin

  val d11PassageDedupSql: String =
    s"""WITH $passageWindowCtes
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |FROM ok a JOIN ok b USING (h)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY doc_a, doc_b
      |HAVING count(*) >= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** §2.3 d20: cross-SOURCE copy forensics — roll d11's passage-pair
    * table up to the source level: for every source pair, how many
    * doc pairs share passages and how many shared windows in total.
    * The corpus-governance view of duplication: "src3 keeps
    * republishing src1" is an acquisition/licensing decision, not a
    * per-doc one, and no per-doc report surfaces it. Reads the
    * MATERIALIZED `passagePairs` artifact (the pair table is the
    * expensive part — one pipeline run per corpus version, shared
    * with d11) + two dimension joins and a (source, source) partial
    * agg — output bounded by #sources², input bounded by the pair
    * cardinality. All integer counts.
    */
  def d20SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = passagePairs(spark, dir)
    val src = table(spark, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("n_shared"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_shared")).cast("long").as("n_windows"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d20SourceOverlapSql: String =
    s"""WITH $passageWindowCtes,
      |dp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |  FROM ok a JOIN ok b USING (h)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY doc_a, doc_b
      |  HAVING count(*) >= 3
      |)
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b,
      |  count(*) AS n_pairs, CAST(sum(n_shared) AS BIGINT) AS n_windows
      |FROM dp JOIN documents da ON da.doc_id = dp.doc_a
      |  JOIN documents db ON db.doc_id = dp.doc_b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // d18: duplicated-span coverage (span-removal census)
  // ---------------------------------------------------------------

  /** §2.3 d18: per-doc duplicated-SPAN census — d11 reports which doc
    * PAIRS share passages; this reports, for every doc, the maximal
    * spans covered by corpus-duplicated windows and the duplicated
    * token fraction: the statistic a span-REMOVAL pass (cut the
    * quoted/copy-pasted region, keep the unique prose) decides on.
    * Same plant as d11 (decade-head 12 tokens appended) so the
    * synthetic corpus has real signal; the oracle replays plant,
    * windows, df filter and island merge exactly. Kernel + scale
    * argument in `operators.DupSpans` (IntervalMerge islands over
    * half-open window intervals; no hot-window cap — coverage never
    * forms pairs).
    */
  def d18DupSpans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.census(plantedSpanToks(spark, dir)).orderBy(col("doc_id"))

  val d18DupSpansSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |  FROM documents
      |), planted AS (
      |  SELECT d.doc_id, list_concat(d.toks, h.toks[1:12]) AS tk
      |  FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10
      |), wins AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |      'h': ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT}
      |    for i in generate_series(1, len(tk) - 7)], recursive := true)
      |  FROM planted WHERE len(tk) >= 8
      |), dup AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
      |  GROUP BY h HAVING count(*) >= 2
      |), dpos AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(pos + 8 AS BIGINT) AS e
      |  FROM wins WHERE h IN (SELECT h FROM dup)
      |), w AS (
      |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      |  FROM dpos
      |), f AS (
      |  SELECT *, CASE WHEN prev_max_e IS NULL OR pos > prev_max_e
      |                 THEN 1 ELSE 0 END AS opens
      |  FROM w
      |), g AS (
      |  SELECT *, sum(opens) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM f
      |), sp AS (
      |  SELECT doc_id, island, min(pos) AS s, max(e) AS e2
      |  FROM g GROUP BY doc_id, island
      |), per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e2 - s) AS BIGINT) AS dup_tokens
      |  FROM sp GROUP BY doc_id
      |)
      |SELECT p.doc_id, CAST(len(p.tk) AS BIGINT) AS n_tok,
      |  coalesce(n_spans, 0) AS n_spans,
      |  coalesce(dup_tokens, 0) AS dup_tokens,
      |  coalesce(dup_tokens, 0) * 1000000
      |    // greatest(CAST(len(p.tk) AS BIGINT), 1) AS dup_frac_micro
      |FROM planted p LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // d19: span scrub (the removal transform d18's census decides on)
  // ---------------------------------------------------------------

  /** §2.3 d19: span REMOVAL — emits each doc with its corpus-
    * duplicated spans (d18's merged islands) cut and the unique prose
    * kept in order: the Dolma/RefinedWeb-style passage-scrub step
    * where doc-level dedup would throw away the whole doc. Verified
    * content-exactly via md5 of the space-joined kept tokens (drift-
    * free string compare; the oracle replays plant → windows → df≥2 →
    * island merge, then anti-joins token positions against the spans
    * and string_aggs in position order). Kernel + shape in
    * `DupSpans.scrub`: spans collapse to one bounded per-doc struct
    * array, and the cut is a narrow index-filter map inside codegen —
    * the corpus is never exploded into token rows.
    */
  def d19SpanScrub(spark: SparkSession, dir: String): DataFrame =
    DupSpans.scrub(plantedSpanToks(spark, dir))
      .select(col("doc_id"), col("n_tok"),
        size(col("kept")).cast("long").as("kept_tok"),
        md5(array_join(col("kept"), " ")).as("scrub_md5"))
      .orderBy(col("doc_id"))

  val d19SpanScrubSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |  FROM documents
      |), planted AS (
      |  SELECT d.doc_id, list_concat(d.toks, h.toks[1:12]) AS tk
      |  FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10
      |), wins AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |      'h': ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT}
      |    for i in generate_series(1, len(tk) - 7)], recursive := true)
      |  FROM planted WHERE len(tk) >= 8
      |), dup AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
      |  GROUP BY h HAVING count(*) >= 2
      |), dpos AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(pos + 8 AS BIGINT) AS e
      |  FROM wins WHERE h IN (SELECT h FROM dup)
      |), w AS (
      |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      |  FROM dpos
      |), f AS (
      |  SELECT *, CASE WHEN prev_max_e IS NULL OR pos > prev_max_e
      |                 THEN 1 ELSE 0 END AS opens
      |  FROM w
      |), g AS (
      |  SELECT *, sum(opens) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM f
      |), sp AS (
      |  SELECT doc_id, island, min(pos) AS s, max(e) AS e2
      |  FROM g GROUP BY doc_id, island
      |), tokpos AS (
      |  SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
      |    for i in generate_series(1, len(tk))], recursive := true)
      |  FROM planted
      |), kept AS (
      |  SELECT t.doc_id, t.pos, t.tok
      |  FROM tokpos t
      |  WHERE NOT EXISTS (SELECT 1 FROM sp
      |    WHERE sp.doc_id = t.doc_id AND t.pos >= sp.s AND t.pos < sp.e2)
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tok,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS scrub_md5
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT p.doc_id, CAST(len(p.tk) AS BIGINT) AS n_tok,
      |  coalesce(kept_tok, 0) AS kept_tok,
      |  coalesce(scrub_md5, md5('')) AS scrub_md5
      |FROM planted p LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // d24: exact substring dedup (variable-length maximal repeats)
  // ---------------------------------------------------------------

  /** §2.3 d24: EXACT substring dedup — maximal cross-doc verbatim
    * repeats with their true token extents (Lee et al. 2022's
    * ExactSubstr, suffix-array-free): runs of consecutive shared
    * windows on one (pair, diagonal) chain back into the exact
    * repeat, so the 12-token decade plant reports as len_tok = 12
    * with exact offsets in both docs — where d18 could only say
    * "some ≥ 8-token window here is duplicated somewhere". Kernel +
    * scale argument in `operators.ExactSubstr` (shuffle ∝ windows,
    * one window function over actually-matching rows only); same
    * plant and hashes as d11/d18/d19, oracle replays plant → windows
    * → hot cap → diagonal islands from the same constants.
    */
  /** The materialized maximal-repeat table — d24's product and d25's
    * input, landed once per corpus version (the d11/d20
    * `passagePairs` discipline): the window self-join is the
    * expensive part and both consumers serve from the scan.
    */
  private def exactRepeats(spark: SparkSession, dir: String): DataFrame =
    Artifacts.materializedClustered(spark, "xrep", dir, "documents.parquet",
      Seq("doc_a"))(ExactSubstr.maximalRepeats(plantedSpanToks(spark, dir)))

  def d24ExactSubstr(spark: SparkSession, dir: String): DataFrame =
    exactRepeats(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start"))

  val d24ExactSubstrSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |  FROM documents
      |), planted AS (
      |  SELECT d.doc_id, list_concat(d.toks, h.toks[1:12]) AS tk
      |  FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10
      |), wins AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |      'h': ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT}
      |    for i in generate_series(1, len(tk) - 7)], recursive := true)
      |  FROM planted WHERE len(tk) >= 8
      |), hot AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
      |  GROUP BY h HAVING count(*) > 100
      |), ok AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, h FROM wins
      |  WHERE h NOT IN (SELECT h FROM hot)
      |), m AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
      |    a.pos - b.pos AS diag
      |  FROM ok a JOIN ok b USING (h) WHERE a.doc_id < b.doc_id
      |), r AS (
      |  SELECT *, pa - row_number() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
      |  FROM m
      |), sp AS (
      |  SELECT doc_a, doc_b, min(pa) AS a_start, min(pa) - diag AS b_start,
      |    CAST(count(*) + 7 AS BIGINT) AS len_tok
      |  FROM r GROUP BY doc_a, doc_b, diag, run
      |)
      |SELECT doc_a, doc_b, a_start, b_start, len_tok
      |FROM sp WHERE len_tok >= 10
      |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  // -----------------------------------------------------------------
  // Iterative-oracle fragments for d24/d25 (r17, judge #8 stretch —
  // the m5/e2e shared-materialization discipline applied to the
  // exact-substring family): the window self-join + diagonal-island
  // chain is the whole cost of the sf1+ replay and both entries run
  // it on identical inputs, so the iter plans materialize the token
  // lists and the maximal-repeat table ONCE (check_oracle.py dedupes
  // identical setup statements per process) and each final query is
  // a cheap read. The plain `oracleSql` strings above are untouched —
  // the driver's gate replays those; these power the sf1+ sweeps.
  // -----------------------------------------------------------------

  private[operators] val xrepToksSetupSql: String =
    """CREATE OR REPLACE TEMP TABLE __xtoks AS
      |WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS tk
      |  FROM documents
      |)
      |SELECT d.doc_id, list_concat(d.tk, h.tk[1:12]) AS tk
      |FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10""".stripMargin

  private[operators] val xrepSetupSql: String =
    """CREATE OR REPLACE TEMP TABLE __xrep AS
      |WITH wins AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |      'h': ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT}
      |    for i in generate_series(1, len(tk) - 7)], recursive := true)
      |  FROM __xtoks WHERE len(tk) >= 8
      |), hot AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
      |  GROUP BY h HAVING count(*) > 100
      |), ok AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, h FROM wins
      |  WHERE h NOT IN (SELECT h FROM hot)
      |), m AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
      |    a.pos - b.pos AS diag
      |  FROM ok a JOIN ok b USING (h) WHERE a.doc_id < b.doc_id
      |), r AS (
      |  SELECT *, pa - row_number() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
      |  FROM m
      |)
      |SELECT doc_a, doc_b, min(pa) AS a_start, min(pa) - diag AS b_start,
      |  CAST(count(*) + 7 AS BIGINT) AS len_tok
      |FROM r GROUP BY doc_a, doc_b, diag, run""".stripMargin

  private[operators] val d24IterFinalSql: String =
    """SELECT doc_a, doc_b, a_start, b_start, len_tok
      |FROM __xrep WHERE len_tok >= 10
      |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  private[operators] val d25IterFinalSql: String =
    """WITH rep AS (SELECT * FROM __xrep WHERE len_tok >= 10),
      |cuts AS (
      |  SELECT doc_b AS doc_id, b_start AS s, b_start + len_tok AS e FROM rep
      |), w AS (
      |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      |  FROM cuts
      |), f AS (
      |  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
      |                 THEN 1 ELSE 0 END AS opens
      |  FROM w
      |), g AS (
      |  SELECT *, sum(opens) OVER (PARTITION BY doc_id ORDER BY s) AS island
      |  FROM f
      |), spm AS (
      |  SELECT doc_id, island, min(s) AS ms, max(e) AS me
      |  FROM g GROUP BY doc_id, island
      |), tokpos AS (
      |  SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
      |    for i in generate_series(1, len(tk))], recursive := true)
      |  FROM __xtoks
      |), kept AS (
      |  SELECT t.doc_id, t.pos, t.tok
      |  FROM tokpos t
      |  WHERE NOT EXISTS (SELECT 1 FROM spm
      |    WHERE spm.doc_id = t.doc_id AND t.pos >= spm.ms AND t.pos < spm.me)
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tok,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS scrub_md5
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT p.doc_id, CAST(len(p.tk) AS BIGINT) AS n_tok,
      |  coalesce(kept_tok, 0) AS kept_tok,
      |  coalesce(scrub_md5, md5('')) AS scrub_md5
      |FROM __xtoks p LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** §2.3 d25: exact-substring SCRUB — the action d24's report feeds
    * (completing the family's report→action discipline: d18→d19,
    * d21→d22, d8→d23, d24→this). Keep-first-occurrence policy: the
    * lowest doc id holding a maximal repeat keeps its copy; every
    * other doc's occurrence is cut and the unique prose kept in
    * order. Content-exact via md5 of the kept tokens, d19's shape.
    */
  def d25SubstrScrub(spark: SparkSession, dir: String): DataFrame =
    ExactSubstr.scrubWith(plantedSpanToks(spark, dir),
        exactRepeats(spark, dir))
      .select(col("doc_id"), col("n_tok"),
        size(col("kept")).cast("long").as("kept_tok"),
        md5(array_join(col("kept"), " ")).as("scrub_md5"))
      .orderBy(col("doc_id"))

  val d25SubstrScrubSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS tk
      |  FROM documents
      |), planted AS (
      |  SELECT d.doc_id, list_concat(d.tk, h.tk[1:12]) AS tk
      |  FROM d JOIN d h ON h.doc_id = d.doc_id - d.doc_id % 10
      |), wins AS (
      |  SELECT doc_id, unnest([{'pos': i,
      |      'h': ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT}
      |    for i in generate_series(1, len(tk) - 7)], recursive := true)
      |  FROM planted WHERE len(tk) >= 8
      |), hot AS (
      |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
      |  GROUP BY h HAVING count(*) > 100
      |), ok AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, h FROM wins
      |  WHERE h NOT IN (SELECT h FROM hot)
      |), m AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
      |    a.pos - b.pos AS diag
      |  FROM ok a JOIN ok b USING (h) WHERE a.doc_id < b.doc_id
      |), r AS (
      |  SELECT *, pa - row_number() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run
      |  FROM m
      |), rep AS (
      |  SELECT doc_a, doc_b, min(pa) AS a_start, min(pa) - diag AS b_start,
      |    CAST(count(*) + 7 AS BIGINT) AS len_tok
      |  FROM r GROUP BY doc_a, doc_b, diag, run
      |  HAVING count(*) + 7 >= 10
      |), cuts AS (
      |  SELECT doc_b AS doc_id, b_start AS s, b_start + len_tok AS e FROM rep
      |), w AS (
      |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      |  FROM cuts
      |), f AS (
      |  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
      |                 THEN 1 ELSE 0 END AS opens
      |  FROM w
      |), g AS (
      |  SELECT *, sum(opens) OVER (PARTITION BY doc_id ORDER BY s) AS island
      |  FROM f
      |), spm AS (
      |  SELECT doc_id, island, min(s) AS ms, max(e) AS me
      |  FROM g GROUP BY doc_id, island
      |), tokpos AS (
      |  SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
      |    for i in generate_series(1, len(tk))], recursive := true)
      |  FROM planted
      |), kept AS (
      |  SELECT t.doc_id, t.pos, t.tok
      |  FROM tokpos t
      |  WHERE NOT EXISTS (SELECT 1 FROM spm
      |    WHERE spm.doc_id = t.doc_id AND t.pos >= spm.ms AND t.pos < spm.me)
      |), agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tok,
      |    md5(string_agg(tok, ' ' ORDER BY pos)) AS scrub_md5
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT p.doc_id, CAST(len(p.tk) AS BIGINT) AS n_tok,
      |  coalesce(kept_tok, 0) AS kept_tok,
      |  coalesce(scrub_md5, md5('')) AS scrub_md5
      |FROM planted p LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t10: token-entropy quality signal
  // ---------------------------------------------------------------

  /** §2.5 t10: token-distribution entropy per doc,
    * H = ln(n) − (Σ tf·ln tf)/n — low-entropy docs are
    * template/keyword-stuffed text that repetition ratios (t8) can
    * miss when duplicates aren't adjacent. One explode + two
    * partial-agg groupBys (term fan-out reduces map-side). Entropy is
    * rounded to 6dp: the float SUM is order-dependent across engines,
    * and 6dp absorbs last-ulp association drift (same rule as the
    * t7/s3 log scores).
    */
  def t10TokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val terms = docs.select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"),
        count(lit(1)).as("n_types"),
        round(log(sum(col("tf")).cast("double")) -
          sum(col("tf").cast("double") * log(col("tf").cast("double"))) /
            sum(col("tf")).cast("double"), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  val t10TokenEntropySql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '')) AS term
      |  FROM documents
      |), tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(ln(CAST(sum(tf) AS DOUBLE)) -
      |    sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) / CAST(sum(tf) AS DOUBLE), 6) AS entropy
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t9: per-source quality-quantile filter
  // ---------------------------------------------------------------

  /** §2.5 t9: ADAPTIVE quality filtering — keep each source's top 60%
    * by quality score rather than applying one global threshold (a
    * global cut empties low-scoring domains and keeps every doc of
    * high-scoring ones; per-source quantiles keep the mixture).
    * percent_rank over (quality, doc_id) within source: the ordering
    * key is unique, so ranks are tie-free and (rank−1)/(n−1) is an
    * exact int ratio — bit-identical across engines.
    *
    * Scale shape: the rank comes from the distributed prefix-count
    * (`PrefixSum.rank`, equi-depth over the score's observed
    * quantiles, with doc_id as the tie sub-split — a template source
    * whose docs all score the SAME value would otherwise collapse
    * into one bucket) and n from a per-source census, so no stage
    * sorts a whole source on one reducer; percent_rank is then plain
    * arithmetic, (rank−1)/(n−1), identical to the window function's
    * definition. The scored frame is lineage-cut first: the kernel's
    * stats/census/scan branches each re-evaluate their input, and the
    * tokenization upstream is the expensive part.
    */
  def t9QuantileFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val uniq = size(array_distinct(toks)).cast("double") / nTok
    val stop = size(array_intersect(toks,
      array(langMarkers.toMap.apply("en").map(lit): _*))).cast("double") / nTok
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
      length(col("text")).cast("double")
    val quality = round(uniq * 0.5 + stop * 0.3 + (lit(1.0) - punct) * 0.2, 6)
    val scored = Checkpoints.cut(
      docs.select(col("doc_id"), col("source"), quality.as("q")))
    val perSource = scored.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    // NaN (zero-token doc) sorts GREATEST = LAST under q ASC, so its
    // bucket image sits ABOVE the score range (p5's note, mirrored)
    PrefixSum.rank(scored, Seq("source"), Seq(col("q"), col("doc_id")),
        bucketOn = when(isnan(col("q")), lit(2.0)).otherwise(col("q")),
        out = "__rk", tieBreakOn = Some(col("doc_id")))
      .join(broadcast(perSource), Seq("source"))
      .withColumn("pr", round(when(col("__n") > 1,
          (col("__rk") - 1).cast("double") / (col("__n") - 1).cast("double"))
        .otherwise(lit(0.0)), 6))
      .filter(col("pr") >= 0.4)
      .select(col("doc_id"), col("source"), col("pr"))
      .orderBy(col("doc_id"))
  }

  val t9QuantileFilterSql: String =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.5 +
      |      CAST(len(list_intersect(toks, ['the','and','of','a','is','to'])) AS DOUBLE) /
      |        CAST(len(toks) AS DOUBLE) * 0.3 +
      |      (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
      |        CAST(length(text) AS DOUBLE)) * 0.2, 6) AS q
      |  FROM (SELECT doc_id, source, text,
      |          list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |        FROM documents)
      |), r AS (
      |  SELECT doc_id, source,
      |    round(percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id), 6) AS pr
      |  FROM q
      |)
      |SELECT doc_id, source, pr FROM r WHERE pr >= 0.4 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // p4: per-domain cap
  // ---------------------------------------------------------------

  /** §2.8 p4: per-domain quota — keep at most `cap` docs per source,
    * chosen by md5 order (a deterministic uniform pick, free of
    * crawl-order bias; the same hash-keyed determinism as p1-p3).
    * The rank-≤-cap filter plans as WindowGroupLimit: partial top-k
    * per map task BEFORE the source shuffle, so a hot domain never
    * materializes its full sorted partition — the 100 TB failure mode
    * of naive per-domain row_number.
    */
  def p4DomainCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("doc_id"))
  }

  val p4DomainCapSql: String =
    """SELECT doc_id, source, rk FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // p5: token-budget selection
  // ---------------------------------------------------------------

  /** §2.8 p5: BUDGETED corpus selection — each source contributes its
    * best docs (quality-descending) until a per-source token budget is
    * exhausted; the complement of sampling when the target is a token
    * count, not a rate (how training mixtures are actually specified).
    * Running sum over a tie-free (quality desc, doc_id) ordering.
    * Unlike a rank cap the cumsum cannot early-stop inside a group
    * (every candidate's tokens count toward the budget), so the group
    * scan is the honest cost — but it runs as the DISTRIBUTED
    * prefix-sum (`PrefixSum.running`, equi-depth over −q's observed
    * quantiles with doc_id as the tie sub-split, so a constant-score
    * template source spreads instead of collapsing into one bucket),
    * never as one reducer sorting a whole source. The scored frame is
    * lineage-cut: the kernel's branches re-evaluate their input.
    */
  def p5BudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("long")
    val uniq = size(array_distinct(toks)).cast("double") / nTok.cast("double")
    val stop = size(array_intersect(toks,
      array(langMarkers.toMap.apply("en").map(lit): _*))).cast("double") / nTok.cast("double")
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
      length(col("text")).cast("double")
    val quality = round(uniq * 0.5 + stop * 0.3 + (lit(1.0) - punct) * 0.2, 6)
    val scored = Checkpoints.cut(docs
      .select(col("doc_id"), col("source"), quality.as("q"), nTok.as("n_tok")))
    // a zero-token doc scores NaN (0.0/0.0), which Spark sorts as
    // GREATEST — i.e. FIRST under q DESC — so its monotone bucket
    // image must sit BELOW −q's [-1, 0] range (PrefixSum itself
    // refuses raw NaN)
    PrefixSum.running(scored, Seq("source"), Seq(col("q").desc, col("doc_id")),
        bucketOn = when(isnan(col("q")), lit(-2.0)).otherwise(-col("q")),
        value = col("n_tok"), out = "cum_tok",
        tieBreakOn = Some(col("doc_id")))
      .filter(col("cum_tok") <= 800)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  val p5BudgetSelectSql: String =
    """WITH q AS (
      |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
      |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.5 +
      |      CAST(len(list_intersect(toks, ['the','and','of','a','is','to'])) AS DOUBLE) /
      |        CAST(len(toks) AS DOUBLE) * 0.3 +
      |      (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
      |        CAST(length(text) AS DOUBLE)) * 0.2, 6) AS q
      |  FROM (SELECT doc_id, source, text,
      |          list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |        FROM documents)
      |), c AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY q DESC, doc_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM q
      |)
      |SELECT doc_id, source, n_tok, cum_tok FROM c
      |WHERE cum_tok <= 800 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // p6: epoch-aware source-mixture planning
  // ---------------------------------------------------------------

  /** Upsampling ceiling, micro-units (4.0 epochs): repeating a
    * source beyond ~4 epochs measurably degrades models, so scarce
    * high-value sources cap there — the standard mixture rule.
    */
  val MixtureEpochCapMicro = 4000000L

  /** The mixture plan for a documents frame: per-source token
    * census → equal per-source token targets against a budget of
    * HALF the corpus (budget-as-fraction keeps the entry
    * scale-independent; a real run substitutes its token budget) →
    * per-source epoch factor epochs = min(cap, target/available),
    * exact in micro-units (integer `div`; `//` in the oracle — both
    * floor on nonnegative operands, and every operand here is a
    * count). The output IS the sampling directive p3's rate
    * sampler consumes — mixture planning and
    * sampling compose as two operators, not one monolith.
    *
    * Overflow discipline: the naive `tgt_tok * 1000000 div n_tok`
    * silently wraps in non-ANSI Spark once tgt_tok exceeds ~9.2e12
    * (reachable inside a 100 TB corpus with few sources) while the
    * DuckDB oracle raises — silent wrong answers vs oracle error.
    * Instead (a) sources at/over the cap are detected BEFORE any
    * multiply (`tgt_tok >= 4·n_tok` — 4·n_tok cannot wrap until a
    * single source holds ~2.3e18 tokens, past what the BIGINT census
    * itself can count), and (b) the under-cap quotient is computed by
    * two-step floor division ((t·10³ div n)·10³ + ((t·10³ mod n)·10³
    * div n) — algebraically exact, and with t < 4n every intermediate
    * stays under 2⁶³ for per-source counts up to ~2.3e15 tokens,
    * ≈9 PB of text in ONE source, far past the envelope). A source
    * with n_tok = 0 has nothing to upsample and pins to the cap
    * (min(cap, ∞)) rather than Spark-NULL/DuckDB-error divergence.
    * The oracle mirrors the identical guarded form.
    *
    * Shape: one partial-agg shuffle on source (the census), then an
    * UNPARTITIONED window over the per-source frame for the corpus
    * totals — the frame is source-cardinality-sized (a handful of
    * rows), so the single-partition window is free and the corpus
    * is scanned exactly ONCE (a separate total aggregate re-plans
    * the census subtree and costs a second full scan — measured in
    * the plan audit). Nothing driver-side, nothing quadratic.
    */
  /** min(cap, floor(tgt_tok·10⁶ / n_tok)) in overflow-safe BIGINT
    * algebra over columns named `tgt_tok`/`n_tok` — the guarded form
    * the Scaladoc above derives, shared by `mixturePlan` and its
    * overflow spec (which drives it with operands the naive multiply
    * wraps on). Integral `div`, never `/` (double division drops
    * precision past 2⁵³).
    */
  def epochsMicroExpr: Column =
    when(col("n_tok") === 0 ||
        col("tgt_tok") >= lit(MixtureEpochCapMicro / 1000000L) * col("n_tok"),
      lit(MixtureEpochCapMicro))
    .otherwise(expr(
      "(tgt_tok * 1000 div n_tok) * 1000 + ((tgt_tok * 1000 % n_tok) * 1000) div n_tok"))

  def mixturePlan(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(wsTokens(col("text"))).cast("long")).as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    per.withColumn("k", count(lit(1)).over(w))
      .withColumn("tot_tok", sum(col("n_tok")).over(w))
      .withColumn("tgt_tok", expr("(tot_tok div 2) div k"))
      .withColumn("epochs_micro", epochsMicroExpr)
      .select(col("source"), col("n_docs"), col("n_tok"),
        col("tgt_tok"), col("epochs_micro"))
  }

  /** §2.8 p6: epoch-aware mixture plan over the documents corpus. */
  def p6MixturePlan(spark: SparkSession, dir: String): DataFrame =
    mixturePlan(table(spark, dir, "documents")).orderBy(col("source"))

  val p6MixturePlanSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(string_split_regex(lower(trim(text)), ' +'),
      |                             x -> x != ''))) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY source
      |), tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(n_tok) AS BIGINT) AS tot_tok FROM per
      |), tgt AS (
      |  SELECT source, n_docs, n_tok, (tot_tok // 2) // k AS tgt_tok
      |  FROM per, tot
      |)
      |SELECT source, n_docs, n_tok, tgt_tok,
      |  CASE WHEN n_tok = 0 OR tgt_tok >= 4 * n_tok THEN 4000000
      |       ELSE (tgt_tok * 1000 // n_tok) * 1000 +
      |            ((tgt_tok * 1000 % n_tok) * 1000) // n_tok
      |  END AS epochs_micro
      |FROM tgt ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // e2e: full curation pipeline
  // ---------------------------------------------------------------

  /** §2.8 e2e_curation: the operators COMPOSED as one plan — exact
    * dedup → quality filter → deterministic 60% sample → per-source
    * sequence packing (512-token budget) → per-pack rollup. One query,
    * one oracle, proving the curation pipeline a training run actually
    * executes is reproducible end-to-end across engines. Shuffle
    * structure: dedup groupBy + semi-join, then narrow maps until the
    * packing window (per-source) and the final partial-agg rollup.
    */
  def e2eCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val reps = docs.groupBy(fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = docs.join(reps, Seq("doc_id"), "left_semi")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val uniq = size(array_distinct(toks)).cast("double") / nTok
    val stop = size(array_intersect(toks,
      array(langMarkers.toMap.apply("en").map(lit): _*))).cast("double") / nTok
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
      length(col("text")).cast("double")
    val quality = uniq * 0.5 + stop * 0.3 + (lit(1.0) - punct) * 0.2
    // threshold the 6dp-ROUNDED score (SURVEY §5): a doc whose raw score
    // sits within last-ulp drift of 0.55 must not flip inclusion between
    // engines (FMA/association differences in DuckDB vs the JVM)
    val filtered = deduped.filter(round(quality, 6) > 0.55)
    // lineage-cut before packing: PrefixSum's bounds and census
    // branches re-evaluate their input, and this input is the whole
    // dedup (a shuffle) + quality + sample pipeline — without the cut
    // the plan runs that pipeline three times; with it, once. Project
    // FIRST: the cut materializes its columns, and only (source, id,
    // n_tok) survive the rollup — carrying text would checkpoint the
    // corpus body for nothing
    val sampled = Checkpoints.cut(Sampling.hashSample(filtered, "doc_id", 0.6)
      .select(col("source"), col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_tok")))
    Packing.assignPacks(sampled, "source", "doc_id", col("n_tok"), 512)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .orderBy(col("source"), col("pack_id"))
  }

  val e2eCurationSql: String = {
    val thr = Sampling.hexThreshold(0.6)
    s"""WITH reps AS (
      |  SELECT min(doc_id) AS doc_id FROM documents
      |  GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
      |), d AS (
      |  SELECT doc_id, source, text FROM documents
      |  WHERE doc_id IN (SELECT doc_id FROM reps)
      |), q AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.5 +
      |    CAST(len(list_intersect(toks, ['the','and','of','a','is','to'])) AS DOUBLE) /
      |      CAST(len(toks) AS DOUBLE) * 0.3 +
      |    (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE)) * 0.2 AS quality
      |  FROM (SELECT doc_id, source, text,
      |          list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |        FROM d)
      |), s AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '')) AS n_tok
      |  FROM q
      |  WHERE round(quality, 6) > 0.55 AND substr(md5(doc_id::VARCHAR), 1, 8) < '$thr'
      |), p AS (
      |  SELECT source,
      |    CAST(floor(CAST(sum(n_tok) OVER w - n_tok AS DOUBLE) / 512) AS BIGINT) AS pack_id,
      |    n_tok
      |  FROM s
      |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT source, pack_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      |FROM p GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin
  }

  /** §2.5 t16: robust per-source outlier detection — median + MAD over
    * doc lengths, flagging |len − median| > 3·MAD (truncated scrapes,
    * concatenation blowups, per source). Mean/stddev break exactly
    * when needed (the outliers they're meant to find drag both); the
    * median/MAD pair doesn't, which is why robust stats are the
    * quality-control staple next to t9's quantile filter.
    *
    * Two source-keyed agg passes by DEFINITION (MAD needs the median
    * first); the deviation frame is lineage-cut so its two consumers
    * (MAD census, final rollup) don't rescan the corpus (t15's rule).
    * Source censuses broadcast back. Oracle parity: medians of
    * integers interpolate to halves, MADs of half-integers to
    * quarters — binary fractions, exact doubles in both engines
    * (q_percentiles' argument); the 3·MAD threshold compare is exact.
    */
  def t16OutlierMad(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("source"), col("n_chars"))
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5D)").as("med"))
    val dev = Checkpoints.cut(
      docs.join(broadcast(med), Seq("source"))
        .withColumn("adev", abs(col("n_chars") - col("med"))))
    val mad = dev.groupBy(col("source"))
      .agg(expr("percentile(adev, 0.5D)").as("mad"))
    dev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("source"))
  }

  val t16OutlierMadSql: String =
    """WITH med AS (
      |  SELECT source, quantile_cont(n_chars, 0.5) AS med
      |  FROM documents GROUP BY 1
      |), dev AS (
      |  SELECT d.source, m.med, abs(d.n_chars - m.med) AS adev
      |  FROM documents d JOIN med m USING (source)
      |), mad AS (
      |  SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
      |)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  max(d.med) AS med, max(m.mad) AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad m USING (source)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------------------------
  // t17: C4-style heuristic cleaning rules
  // ---------------------------------------------------------------

  /** §2.5 t17: the C4 cleaning bundle — per-doc boolean rule flags
    * (filler text, code-fragment braces, "enable javascript"
    * boilerplate, too-short documents) and the resulting keep
    * decision. These blunt regex/length rules are the first pass of
    * every web-corpus recipe (C4, Gopher, RefinedWeb); the
    * model-driven filters (t13) and statistical ones (t2/t8/t10)
    * run AFTER them on what survives. Pure Column algebra — a
    * narrow map over the corpus, no shuffle until the output sort,
    * embarrassingly parallel at 100 TB.
    *
    * The synthetic corpus contains none of the planted markers, so
    * the entry plants deterministic doc_id-derived junk first (t6's
    * recipe): every rule fires on a known doc subset and the oracle
    * replays plant + rules — non-vacuous on both sides. The
    * short-doc rule also fires naturally (corpus word counts span
    * 10–99), so that rule is exercised on un-planted rows too.
    */
  def t17C4Filters(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val base = when(pmod(id, lit(23L)) === 0, substring(col("text"), 1, 40))
      .otherwise(col("text"))
    val planted = concat(base,
      when(pmod(id, lit(13L)) === 0, lit(" lorem ipsum dolor sit amet"))
        .otherwise(lit("")),
      when(pmod(id, lit(17L)) === 0, lit(" function() { var x = 1; }"))
        .otherwise(lit("")),
      when(pmod(id, lit(19L)) === 0, lit(" please enable javascript to continue"))
        .otherwise(lit("")))
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    table(spark, dir, "documents")
      .select(id, planted.as("planted"))
      .select(id,
        size(wsTokens(col("planted"))).cast("long").as("n_words"),
        flag(instr(lower(col("planted")), "lorem ipsum") > 0).as("f_lorem"),
        flag(instr(col("planted"), "{") > 0).as("f_brace"),
        flag(instr(lower(col("planted")), "javascript") > 0).as("f_js"))
      .withColumn("f_short", flag(col("n_words") < 25))
      .withColumn("kept",
        flag(col("f_lorem") + col("f_brace") + col("f_js") + col("f_short") === 0))
      .orderBy(id)
  }

  val t17C4FiltersSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 23 = 0 THEN substr(text, 1, 40) ELSE text END)
      |    || (CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum dolor sit amet' ELSE '' END)
      |    || (CASE WHEN doc_id % 17 = 0 THEN ' function() { var x = 1; }' ELSE '' END)
      |    || (CASE WHEN doc_id % 19 = 0 THEN ' please enable javascript to continue' ELSE '' END)
      |      AS planted
      |  FROM documents
      |), f AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(trim(planted)), ' +'),
      |      x -> x != '')) AS BIGINT) AS n_words,
      |    CAST(CASE WHEN contains(lower(planted), 'lorem ipsum') THEN 1 ELSE 0 END
      |      AS BIGINT) AS f_lorem,
      |    CAST(CASE WHEN contains(planted, '{') THEN 1 ELSE 0 END AS BIGINT) AS f_brace,
      |    CAST(CASE WHEN contains(lower(planted), 'javascript') THEN 1 ELSE 0 END
      |      AS BIGINT) AS f_js
      |  FROM w
      |)
      |SELECT doc_id, n_words, f_lorem, f_brace, f_js,
      |  CAST(CASE WHEN n_words < 25 THEN 1 ELSE 0 END AS BIGINT) AS f_short,
      |  CAST(CASE WHEN f_lorem + f_brace + f_js = 0 AND n_words >= 25
      |       THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // p7: deterministic training-order materialization
  // ---------------------------------------------------------------

  /** §2.8 p7: the pipeline's LAST step — assign every selected doc a
    * reproducible (shard, position) in the global training order.
    * Training runs need a SHUFFLED order (adjacent same-source docs
    * bias gradients) that is also deterministic across engines,
    * partitionings, and restarts — `Sampling.trainOrder`'s md5 keys
    * give both. One shard-key window shuffle; shard count (16^chars)
    * is the parallelism knob, so at 100 TB the per-shard sort stays
    * executor-sized.
    */
  def p7TrainOrder(spark: SparkSession, dir: String): DataFrame =
    Sampling.trainOrder(
        table(spark, dir, "documents").select(col("doc_id")),
        "doc_id", shardChars = 2)
      .orderBy(col("doc_id"))

  val p7TrainOrderSql: String =
    """WITH h AS (
      |  SELECT doc_id, md5('ord:' || doc_id) AS hh FROM documents
      |)
      |SELECT doc_id, substr(hh, 1, 2) AS shard,
      |  CAST(row_number() OVER (PARTITION BY substr(hh, 1, 2)
      |       ORDER BY hh, doc_id) AS BIGINT) AS pos
      |FROM h ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // p10: largest-remainder eval-slot apportionment
  // ---------------------------------------------------------------

  /** Eval-set size for p10 (slots to apportion across sources). */
  val EvalSlots = 100L

  /** §2.8 p10: apportion a fixed eval budget across sources by the
    * largest-remainder (Hamilton) method — the exact-integer answer
    * to "build a 100-doc eval set that mirrors the corpus mix".
    * Naive rounding of proportional shares over- or under-shoots the
    * budget; largest-remainder gives every source ⌊K·n_s/N⌋ and hands
    * the leftover slots to the largest fractional remainders, so the
    * total is EXACTLY K and every allocation is within one slot of
    * exact proportionality (p3's stratified sampler then fills the
    * quota per source; p6 plans epochs — this entry sets the
    * quotas).
    *
    * Shape: one source partial-agg census (cardinality = #sources,
    * not rows), a 1-row totals cross join, and a window rank over
    * the SOURCE census — bounded by #sources, which is the operating
    * assumption of every per-source operator here (t9/p4/p6). Pure
    * integer arithmetic end to end: ⌊K·n/N⌋ by integer div, the
    * remainder ordering by integer mod — nothing to drift.
    */
  def p10EvalAlloc(spark: SparkSession, dir: String): DataFrame = {
    val k = EvalSlots
    val census = table(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = census.agg(sum(col("n_docs")).as("n_total"))
    val based = census.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$k * n_docs div n_total"))
      .withColumn("rem", expr(s"($k * n_docs) % n_total"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    based
      .withColumn("leftover", lit(k) - sum(col("base")).over(wAll))
      .withColumn("rank", row_number().over(wRem))
      .withColumn("alloc",
        (col("base") + when(col("rank") <= col("leftover"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("source"), col("n_docs"), col("base").cast("long").as("base"),
        col("alloc"))
      .orderBy(col("source"))
  }

  val p10EvalAllocSql: String =
    s"""WITH census AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
      |), tot AS (SELECT sum(n_docs) AS n_total FROM census),
      |based AS (
      |  SELECT source, n_docs,
      |    ($EvalSlots * n_docs) // n_total AS base,
      |    ($EvalSlots * n_docs) % n_total AS rem
      |  FROM census CROSS JOIN tot
      |), lo AS (SELECT $EvalSlots - sum(base) AS leftover FROM based),
      |ranked AS (
      |  SELECT source, n_docs, base, leftover,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rank
      |  FROM based CROSS JOIN lo
      |)
      |SELECT source, n_docs, CAST(base AS BIGINT) AS base,
      |  CAST(base + (CASE WHEN rank <= leftover THEN 1 ELSE 0 END) AS BIGINT)
      |    AS alloc
      |FROM ranked ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // p9: key-skew census (the pre-shuffle diagnostic)
  // ---------------------------------------------------------------

  /** §2.8 p9: key-skew census — the diagnostic you run BEFORE
    * choosing a join/agg strategy at scale: the top heavy-hitter
    * keys with their individual and CUMULATIVE shares of the table.
    * "Top 3 keys own 40% of rows" is the number that decides between
    * a plain shuffle, AQE skew splitting, salting (q_skew_join's
    * recipe), or a broadcast hot-key carve-out — guessed today,
    * measured here.
    *
    * Shape: one key partial-agg shuffle builds the KEY histogram
    * (cardinality = distinct keys, not rows); the top-k comes from
    * `orderBy.limit` — Spark's distributed TakeOrdered, per-partition
    * heaps + a k-row driver merge, NEVER a global sort (the window
    * rank runs on the 10-row result, and the totals are a 1-row
    * broadcast cross join). Shares in exact integer micro-units.
    */
  def p9SkewCensus(spark: SparkSession, dir: String): DataFrame = {
    val perKey = table(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val tot = perKey.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    val top = perKey.orderBy(col("cnt").desc, col("user_id")).limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("user_id"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("share_micro", expr("cnt * 1000000 div n_rows"))
      .withColumn("cum_micro",
        expr("sum(cnt) over (order by rank) * 1000000 div n_rows"))
      .select(col("rank"), col("user_id"), col("cnt"), col("n_keys"),
        col("n_rows"), col("share_micro"), col("cum_micro"))
      .orderBy(col("rank"))
  }

  val p9SkewCensusSql: String =
    """WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
      |        count(*) AS n_keys FROM pk),
      |top AS (SELECT user_id, cnt FROM pk ORDER BY cnt DESC, user_id LIMIT 10),
      |r AS (SELECT user_id, cnt,
      |        row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
      |      FROM top)
      |SELECT rank, user_id, cnt, n_keys, n_rows,
      |  CAST((cnt * 1000000) // n_rows AS BIGINT) AS share_micro,
      |  CAST((sum(cnt) OVER (ORDER BY rank) * 1000000) // n_rows AS BIGINT) AS cum_micro
      |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------
  // t20: DSIR importance weights (data selection by distribution match)
  // ---------------------------------------------------------------

  /** Hashed-feature space size for t20. Real DSIR runs use 10k-1M
    * buckets; 1024 keeps the bucket table obviously broadcast-sized
    * while exercising the full hashed-ngram pipeline.
    */
  val DsirBuckets = 1024

  /** §2.8 t20: DSIR importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — score
    * every raw document by how target-like its hashed-unigram
    * distribution is: w(doc) = mean over tokens of
    * ln p_target(bucket) − ln p_raw(bucket), with add-one smoothing
    * over `DsirBuckets` hashed features. The target here is the
    * English slice (`lang = 'en'`), standing in for the
    * quality-domain corpus (Wikipedia/books) a real run targets.
    * Positive weight ⇒ the doc looks more like the target than the
    * corpus mixture; downstream, p1/p3-style samplers resample
    * proportional to exp(w) — this entry is the scoring pass.
    *
    * Shape: tokenize once; ONE (doc, bucket, lang) partial-agg
    * shuffle builds the per-doc bucket histogram, which is
    * lineage-CUT (t15's rule) because two consumers branch off it:
    * the B-bounded global bucket table (≤1024 rows — broadcast by
    * size) and the per-doc fold. Bucket totals join back BROADCAST;
    * corpus totals are a 1-row cross join (t7's rule). No vocabulary
    * shuffle at all — the whole point of hashed features is that the
    * model is O(B), not O(vocab), so the stats side is
    * constant-sized at any corpus scale.
    *
    * Oracle parity: every ln argument is one IEEE division of
    * exactly-representable integers (count+1 over total+B); the
    * per-doc sum is rounded to 6dp to absorb summation-order drift
    * (SURVEY §5, t12/t14/t15 precedent).
    */
  def t20Dsir(spark: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    val docs = table(spark, dir, "documents")
    val g = Checkpoints.cut(docs
      .select(col("doc_id"), col("lang"), explode(wsTokens(col("text"))).as("term"))
      .withColumn("b",
        conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % b)
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("tf")))
    val stats = g.groupBy(col("b")).agg(
      sum(col("tf")).as("raw"),
      sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("tgt"))
    val totals = stats.agg(
      sum(col("raw")).as("rawtot"), sum(col("tgt")).as("tgttot"))
    g.join(broadcast(stats), "b")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).cast("long").as("n_tok"),
        // + 0.0 normalizes IEEE −0.0 → +0.0 (identity elsewhere): a
        // tiny negative mean rounds to −0.0, whose repr diverges
        // between engines — the one mismatch the first 10× sweep
        // (§8o) caught, on exactly one doc of 50k
        (round(
          sum(col("tf").cast("double") *
            (log((col("tgt") + lit(1.0)) / (col("tgttot") + lit(b.toDouble))) -
             log((col("raw") + lit(1.0)) / (col("rawtot") + lit(b.toDouble))))) /
          sum(col("tf")), 6) + lit(0.0)).as("dsir_w"))
      .orderBy(col("doc_id"))
  }

  val t20DsirSql: String =
    s"""WITH occ AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '')) AS term
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(term), 1, 8))::BIGINT % $DsirBuckets AS b,
      |    count(*) AS tf
      |  FROM occ GROUP BY 1, 2, 3
      |), stats AS (
      |  SELECT b, sum(tf) AS raw,
      |    sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS tgt
      |  FROM g GROUP BY 1
      |), tot AS (SELECT sum(raw) AS rawtot, sum(tgt) AS tgttot FROM stats)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
      |  round(sum(tf * (ln((tgt + 1.0) / (tgttot + $DsirBuckets.0)) -
      |                  ln((raw + 1.0) / (rawtot + $DsirBuckets.0)))) / sum(tf),
      |        6) + 0.0 AS dsir_w
      |FROM g JOIN stats USING (b) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t24: BM25 relevance scoring
  // ---------------------------------------------------------------

  /** Fixed query-term set for t24 — in production the terms arrive as
    * a (small, broadcast) query table; a literal IN keeps the oracle
    * one self-contained SQL string.
    */
  val Bm25Terms: Seq[String] = Seq("table", "spark", "vector", "query")
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** §2.5 t24: BM25 (Robertson/Spärck Jones) document relevance
    * against a fixed query-term set — the retrieval-side scorer a
    * data pipeline uses to mine topical subsets (t7's tf-idf is the
    * keyword EXTRACTOR; BM25 is the query-conditioned RANKER with
    * saturated tf and length normalization).
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl·N/Σdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) — the Lucene variant.
    *
    * Shape: doc lengths are a narrow map (no explode); the tf pass
    * filters to the query terms BEFORE its one (doc,term) partial-agg
    * shuffle, so shuffle volume is O(docs·|query|), not O(tokens);
    * df and the corpus totals are |query|-row / 1-row BROADCASTs.
    * avgdl enters as dl·N/Σdl — exact integers into one IEEE
    * division, same expression shape both engines; the per-doc sum
    * rounds to 6dp (SURVEY §5 summation-order rule). Docs hitting no
    * query term are absent (score would be 0).
    */
  def t24Bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val dl = docs.select(col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    tf.join(dl, "doc_id").join(broadcast(df), "term")
      .crossJoin(broadcast(tot))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B)
            + lit(Bm25B) * col("dl") * col("n_docs") / col("sum_dl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
        round(sum(col("contrib")), 6).as("bm25"))
      .orderBy(col("doc_id"))
  }

  val t24Bm25Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = Bm25K1 + 1.0
    val oneMinusB = 1.0 - Bm25B
    s"""WITH dl AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(trim(text)), ' +'),
      |        x -> x != '')) AS dl
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), ' +'),
      |           x -> x != '')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM toks WHERE term IN ($terms) GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
      |  round(sum(
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * $k1p1)
      |      / (tf + $Bm25K1 * ($oneMinusB + $Bm25B * dl * n_docs / sum_dl))
      |  ), 6) AS bm25
      |FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // p11: exact-k deterministic per-group sample
  // ---------------------------------------------------------------

  /** Per-group sample size for p11. */
  val GroupSampleK = 10

  /** §2.8 p11: exact-k per-group sampling — "give me exactly k docs
    * from EVERY source", the eval-set / debugging complement of p1's
    * rate-based Bernoulli sample (whose per-group counts fluctuate)
    * and p3's fractional strata. Selection key is md5 of a salted
    * doc id, so membership is uniform, deterministic, and
    * engine-independent; groups smaller than k return whole.
    *
    * Shape: ONE shuffle on source; the rank ≤ k filter collapses to
    * a WindowGroupLimit (per-partition top-k pushed BELOW the final
    * sort — map-side, each task keeps k rows per group), so the
    * exchange carries O(groups·k) rows upward, not the corpus.
    */
  def p11GroupSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(concat(lit("p11:"), col("doc_id").cast("string"))),
        col("doc_id"))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= GroupSampleK)
      .orderBy(col("source"), col("rk"))
  }

  val p11GroupSampleSql: String =
    s"""WITH r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5('p11:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= $GroupSampleK
      |ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------
  // p12: per-source Gini concentration of document mass
  // ---------------------------------------------------------------

  /** §2.8 p12: Gini coefficient of document-length mass per source —
    * the inequality profile behind mixture decisions: a source whose
    * token mass sits in a few giant documents (Gini → 1) behaves very
    * differently under doc-level sampling (p1/p3) and packing (t5)
    * than a uniform one (Gini → 0), and p9's top-k heavy hitters
    * can't see mid-distribution concentration.
    *
    * Exact rank formula on ascending (n_chars, doc_id) order:
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, emitted in integer micro-units
    * (two floor divisions with identical association both engines —
    * no float summation anywhere).
    *
    * Scale: the rank `i` comes from the distributed prefix-count
    * (`PrefixSum.rank`, EQUI-DEPTH over n_chars — doc lengths are
    * heavy-tailed, the exact concentration this query measures, so
    * equi-width ranges would re-concentrate the bulk into the first
    * buckets whenever one outlier stretches the range; doc_id
    * sub-splits the ties at common lengths) — a naive per-source
    * row_number would sort the dominant source on one reducer; the
    * rollup is a partial agg on source. All wide intermediates (Σ i·xᵢ, its ×2×10⁶
    * micro-scaling, and n·Σx) run in decimal(38,0) via
    * `DecimalMath` — int64 wraps silently past 2⁶³ with ANSI off
    * while DuckDB promotes to HUGEINT, an engine divergence the
    * small-SF sweeps can't catch, and the true int64 bound
    * (n²·max_chars ≲ 9.2×10¹² after the micro-unit factor) is only
    * ~10⁴ docs/source at 100 KB docs. Decimal holds to 10³⁸:
    * n²·max_chars < 5×10³¹, i.e. ~10¹³ docs/source — beyond any
    * single source, with p9's census as the escape hatch.
    */
  def p12Gini(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DecimalMath.{dec, microRatio}
    PrefixSum.rank(
      table(spark, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars")),
      Seq("source"), Seq(col("n_chars"), col("doc_id")),
      bucketOn = col("n_chars"), out = "i",
      tieBreakOn = Some(col("doc_id")))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(dec(col("i")) * col("n_chars")).as("iwx"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        (microRatio(dec(col("iwx")) * lit(2L),
            dec(col("n_docs")) * dec(col("total_chars")))
          - microRatio(col("n_docs") + lit(1L), col("n_docs"))).as("gini_micro"))
      .orderBy(col("source"))
  }

  val p12GiniSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS i
      |  FROM documents),
      |s AS (
      |  SELECT source, count(*) AS n_docs, sum(n_chars) AS total_chars,
      |    sum(i * n_chars) AS iwx
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(total_chars AS BIGINT) AS total_chars,
      |  CAST(2 * iwx * 1000000 // (n_docs * total_chars)
      |       - (n_docs + 1) * 1000000 // n_docs AS BIGINT) AS gini_micro
      |FROM s ORDER BY source""".stripMargin
}
