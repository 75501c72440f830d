package graft.operators

import graft.GraftSession.table
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-driven curation operators (SURVEY.md §2.5 t13/t14): linear
  * classifier scoring over hashed text features, and a corpus bigram
  * language model — the two model-shaped filters every large-scale
  * training-data pipeline runs (a fastText-style quality classifier
  * and a KenLM-style perplexity filter; see e.g. the CCNet /
  * GPT-3-era curation recipes). The models here are deterministic
  * stand-ins (hash-derived weights, corpus-MLE bigram counts) so the
  * DuckDB oracle can replay them bit-for-bit — the SHAPE (hashing
  * trick, broadcast-free narrow scoring, count-join LM) is the
  * production design; swapping real learned weights in changes one
  * literal array, not the plan.
  *
  * Same design rules as CorpusQueries: pure Column algebra or
  * equi-join/window shapes, drift-free math (SURVEY.md §5 — integer
  * logits in t13; integer-input `ln` + 6dp rounding in t14,
  * precedent t12).
  */
object ModelQueries {

  // ---------------------------------------------------------------
  // t13: hashed linear classifier scoring (fastText-style filter)
  // ---------------------------------------------------------------

  /** Hashing-trick feature dimension. Real quality classifiers use
    * 2^20+; the SHAPE is dimension-independent (the weight table
    * never materializes — each weight derives from its bucket id).
    */
  val FeatureDim = 1024L

  /** Deterministic per-bucket weight in [-1000, 1000] micro-units:
    * w(b) = ((b·2654435761 + 97) mod 2001) − 1000 (Knuth
    * multiplicative constant). All-nonnegative intermediates, so `%`
    * agrees between Spark and DuckDB; max intermediate ≈ 2.7e12 —
    * no 64-bit overflow.
    */
  private def tokenWeight(t: Column): Column = {
    val bucket = conv(substring(md5(t), 1, 15), 16, 10).cast("long") % FeatureDim
    (bucket * lit(2654435761L) + lit(97L)) % lit(2001L) - lit(1000L)
  }

  /** The scoring kernel: per-row integer logit over whitespace
    * tokens — `aggregate` folds the token array in place, so scoring
    * is a pure narrow map: NO explode, NO shuffle, NO broadcast
    * (weights derive from bucket ids; a real learned weight array of
    * 2^20 ints is a ~4 MB broadcast, still join-free). At 100 TB this
    * is the ideal operator shape — embarrassingly parallel model
    * inference fused into the scan, spec-pinned exchange-free.
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(col(textCol))
    docs.select(col(idCol),
      size(toks).cast("long").as("n_tok"),
      aggregate(toks, lit(0L), (acc, t) => acc + tokenWeight(t)).as("logit"))
  }

  /** §2.5 t13: score every document with the hashed linear
    * classifier and emit the keep/drop decision (logit > 0). Output:
    * (doc_id, n_tok, logit, keep), integer-exact across engines.
    */
  def t13ModelScore(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(table(spark, dir, "documents"), "doc_id", "text")
      .withColumn("keep", when(col("logit") > 0, 1).otherwise(0))
      .orderBy(col("doc_id"))

  val t13ModelScoreSql: String =
    """WITH s AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
      |    CAST(coalesce(list_sum(list_transform(toks, t ->
      |      ((('0x' || substr(md5(t), 1, 15))::BIGINT % 1024) * 2654435761 + 97)
      |        % 2001 - 1000)), 0) AS BIGINT) AS logit
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS toks
      |        FROM documents)
      |)
      |SELECT doc_id, n_tok, logit,
      |  CASE WHEN logit > 0 THEN 1 ELSE 0 END AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t14: corpus bigram LM (KenLM-style perplexity filter)
  // ---------------------------------------------------------------

  /** §2.5 t14: per-document average bigram conditional log-likelihood
    * under the corpus MLE bigram model —
    * avg over positions of ln P(w_i | w_{i−1}) = ln c(w_{i−1} w_i) −
    * ln c(w_{i−1} ·) — i.e. the perplexity filter that drops
    * gibberish the unigram model (t12) cannot see (every token
    * common, the SEQUENCE improbable). Docs with < 2 tokens have no
    * bigrams and drop out (identically in both engines).
    *
    * Shape: bigram fan-out is a zip of two array slices (narrow; the
    * Generate's output is the data size, not a join), then ONE
    * (doc, prefix, bigram) partial-agg shuffle; the corpus counts
    * c(bigram) and c(prefix·) are window sums over that aggregate —
    * the count table is never broadcast and never collected, so the
    * vocabulary can be arbitrarily large (t12's scale argument).
    * Drift: ln on integer-valued counts is IEEE-identical across
    * engines; summation-order drift absorbed by 6dp rounding
    * (SURVEY §5, precedent t7/t10/t12).
    */
  def t14BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val toksDf = docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = toksDf.select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("pre"), concat_ws(" ", a, b).as("bg")))).as("p"))
      .select(col("doc_id"), col("p.pre").as("pre"), col("p.bg").as("bg"))
    val tf = pairs.groupBy(col("doc_id"), col("pre"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    val wBg = org.apache.spark.sql.expressions.Window.partitionBy(col("bg"))
    val wPre = org.apache.spark.sql.expressions.Window.partitionBy(col("pre"))
    tf.withColumn("cbi", sum(col("tf")).over(wBg))
      .withColumn("cpre", sum(col("tf")).over(wPre))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bi"),
        round(sum(col("tf").cast("double") *
            (log(col("cbi").cast("double")) - log(col("cpre").cast("double")))) /
          sum(col("tf")), 6).as("avg_lp"))
      .orderBy(col("doc_id"))
  }

  val t14BigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS t
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id,
      |    unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS pre,
      |    unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t) - 1)]) AS bg
      |  FROM toks WHERE len(t) >= 2
      |), tf AS (
      |  SELECT doc_id, pre, bg, count(*) AS tf FROM bi GROUP BY 1, 2, 3
      |), wc AS (
      |  SELECT doc_id, tf,
      |    sum(tf) OVER (PARTITION BY bg) AS cbi,
      |    sum(tf) OVER (PARTITION BY pre) AS cpre
      |  FROM tf
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bi,
      |  round(sum(tf * (ln(cbi) - ln(cpre))) / sum(tf), 6) AS avg_lp
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // t18: BPE merge learning (tokenizer induction)
  // ---------------------------------------------------------------

  /** How many BPE merges the t18 entry learns. Real tokenizers learn
    * 30k+; 8 keeps the oracle's unrolled CTE chain readable while
    * exercising the full iterative pipeline (every round after the
    * first operates on merged multi-character symbols).
    */
  val BpeRounds = 8

  /** §2.5 t18: learn the first `BpeRounds` BPE merges from the corpus
    * (`operators.BpeMerges`) — tokenizer induction as a data-pipeline
    * job, the step every from-scratch training run executes before a
    * single model step. Output: one row per learned rule (round, the
    * symbol pair, the merged token, the pair's corpus frequency when
    * it won). Counts are exact integers and ties break
    * lexicographically, so the oracle replays the identical rule
    * sequence by unrolling the rounds as chained CTEs.
    */
  def t18BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BpeMerges.materialized(spark, dir, BpeRounds)
      .map(m => (m.round, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("round"))
  }

  val t18BpeMergesSql: String = {
    val header =
      """WITH words AS (
        |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |    FROM documents)
        |  GROUP BY w
        |), v0 AS (
        |  SELECT '  ' || array_to_string(
        |      [word[i:i] for i in generate_series(1, length(word))], '  ')
        |    || '  ' AS s, cnt
        |  FROM words
        |)""".stripMargin
    val roundCtes = (1 to BpeRounds).map { r =>
      s""", p$r AS (
        |  SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS c FROM (
        |    SELECT unnest([{'lhs': syms[i], 'rhs': syms[i+1]}
        |                   for i in generate_series(1, len(syms)-1)]) AS p, cnt
        |    FROM (SELECT string_split(trim(s), '  ') AS syms, cnt FROM v${r - 1}))
        |  GROUP BY 1, 2
        |), b$r AS (
        |  SELECT lhs, rhs, c FROM p$r ORDER BY c DESC, lhs, rhs LIMIT 1
        |), v$r AS (
        |  SELECT replace(s, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                 ' ' || b.lhs || b.rhs || ' ') AS s, cnt
        |  FROM v${r - 1} CROSS JOIN b$r b
        |)""".stripMargin
    }.mkString
    val selects = (1 to BpeRounds).map(r =>
      s"SELECT $r AS round, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY round")
    header + roundCtes + selects
  }

  // ---------------------------------------------------------------
  // t19: BPE tokenization (the encode side)
  // ---------------------------------------------------------------

  /** §2.5 t19: tokenize the corpus under the learned BPE merges —
    * the ENCODE pass, the production workload t18's learning exists
    * for (every training run tokenizes its whole corpus at least
    * once). Output per doc: word count, subword count, and fertility
    * (subwords per word, integer micro-units) — the standard
    * tokenizer-quality statistic.
    *
    * Scale shape: tokenization is WORD-LEVEL — the merge sequence is
    * applied once per DISTINCT word (the vocab frame, which tracks
    * vocabulary size, not corpus bytes), and per-doc counts come
    * from one (word) equi-join of the exploded corpus against that
    * word→subword-count table plus a doc-key partial agg. The corpus
    * is never re-scanned per merge round, and nothing data-sized is
    * collected or broadcast (AQE may choose to broadcast the vocab
    * side when it is small — that is the right call, not a
    * requirement). The merge rules re-enter as literals (O(rounds)
    * driver state, t18's argmax collects).
    */
  def t19BpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val merges = BpeMerges.materialized(spark, dir, BpeRounds)
    val vocab0 = BpeMerges.wordVocab(docs, "text")
      .select(col("word"), BpeMerges.symInit(col("word")).as("s"))
    val finalVocab = merges.foldLeft(vocab0)((v, m) =>
      BpeMerges.applyMerge(v, m.lhs, m.rhs))
    val wlen = finalVocab.select(col("word"),
      size(split(trim(col("s")), "  ")).cast("long").as("n_sub"))
    val occ = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    occ.join(wlen, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subwords"))
      .withColumn("fertility_micro",
        expr("(1000000 * n_subwords) div n_words"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: t18's unrolled merge chain, with `word` carried through
    * the rewrite rounds so the final symbol strings map back to
    * per-word subword counts, joined against the exploded corpus.
    */
  val t19BpeTokenizeSql: String = {
    val header =
      """WITH words AS (
        |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |    FROM documents)
        |  GROUP BY w
        |), v0 AS (
        |  SELECT word, '  ' || array_to_string(
        |      [word[i:i] for i in generate_series(1, length(word))], '  ')
        |    || '  ' AS s, cnt
        |  FROM words
        |)""".stripMargin
    val roundCtes = (1 to BpeRounds).map { r =>
      s""", p$r AS (
        |  SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS c FROM (
        |    SELECT unnest([{'lhs': syms[i], 'rhs': syms[i+1]}
        |                   for i in generate_series(1, len(syms)-1)]) AS p, cnt
        |    FROM (SELECT string_split(trim(s), '  ') AS syms, cnt FROM v${r - 1}))
        |  GROUP BY 1, 2
        |), b$r AS (
        |  SELECT lhs, rhs, c FROM p$r ORDER BY c DESC, lhs, rhs LIMIT 1
        |), v$r AS (
        |  SELECT word, replace(s, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                 ' ' || b.lhs || b.rhs || ' ') AS s, cnt
        |  FROM v${r - 1} CROSS JOIN b$r b
        |)""".stripMargin
    }.mkString
    header + roundCtes +
      s""", wlen AS (
        |  SELECT word, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sub
        |  FROM v$BpeRounds
        |), occ AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n_sub) AS BIGINT) AS n_subwords,
        |  (1000000 * CAST(sum(n_sub) AS BIGINT)) // count(*) AS fertility_micro
        |FROM occ JOIN wlen USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // t22: PMI collocation mining
  // ---------------------------------------------------------------

  /** Minimum bigram count for t22 — PMI is notoriously noisy on rare
    * pairs (a hapax bigram of two hapax words maxes the score);
    * the standard fix is a count floor.
    */
  val PmiMinCount = 5L

  /** §2.5 t22: collocation mining — the corpus's top bigrams by
    * pointwise mutual information, PMI(v,w) = ln [c(vw)·N / (c(v·)·c(·w))]
    * over bigram tokens. The classic phrase-detection statistic
    * (word2vec's phrase pass, tokenizer whole-word-vs-split audits):
    * high-PMI pairs co-occur far above chance — multiword entities a
    * pipeline may want to protect from splitting; t14/t21 score DOCS
    * under the LM, this mines the LM's own strongest associations.
    *
    * Shape: t14's bigram count infrastructure verbatim — one
    * (pre, w) partial-agg shuffle to bigram types (lineage-cut, two
    * window consumers), marginals as key-partitioned window sums
    * (vocabulary shuffles, never broadcast), the grand total a 1-row
    * broadcast cross. Top-50 via orderBy.limit = distributed
    * TakeOrdered over the count-floored survivors (p9's rule).
    *
    * Oracle parity: PMI decomposes to ln on four exact integers with
    * identical left-association in both engines — bit-identical
    * doubles, so even the top-k SELECTION boundary matches; emitted
    * at 6dp (SURVEY §5).
    */
  def t22Pmi(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = docs
      .select(wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("pre"), b.as("w")))).as("p"))
      .select(col("p.pre").as("pre"), col("p.w").as("w"))
    val bg = Checkpoints.cut(
      pairs.groupBy(col("pre"), col("w")).agg(count(lit(1)).as("cbi")))
    val wPre = org.apache.spark.sql.expressions.Window.partitionBy(col("pre"))
    val wW = org.apache.spark.sql.expressions.Window.partitionBy(col("w"))
    val tot = bg.agg(sum(col("cbi")).as("nbi"))
    bg
      .withColumn("cpre", sum(col("cbi")).over(wPre))
      .withColumn("cw", sum(col("cbi")).over(wW))
      .filter(col("cbi") >= PmiMinCount)
      .crossJoin(broadcast(tot))
      .withColumn("pmi", round(
        log(col("cbi").cast("double")) + log(col("nbi").cast("double")) -
          log(col("cpre").cast("double")) - log(col("cw").cast("double")), 6))
      .orderBy(col("pmi").desc, col("pre"), col("w"))
      .limit(50)
      .select(col("pre"), col("w"), col("cbi").cast("long").as("n_bi"), col("pmi"))
      .orderBy(col("pmi").desc, col("pre"), col("w"))
  }

  val t22PmiSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS t
      |  FROM documents
      |), bi AS (
      |  SELECT
      |    unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS pre,
      |    unnest([t[i+1] for i in generate_series(1, len(t) - 1)]) AS w
      |  FROM toks WHERE len(t) >= 2
      |), bg AS (SELECT pre, w, count(*) AS cbi FROM bi GROUP BY 1, 2),
      |m AS (
      |  SELECT pre, w, cbi,
      |    sum(cbi) OVER (PARTITION BY pre) AS cpre,
      |    sum(cbi) OVER (PARTITION BY w) AS cw
      |  FROM bg
      |), tot AS (SELECT sum(cbi) AS nbi FROM bg)
      |SELECT pre, w, CAST(cbi AS BIGINT) AS n_bi,
      |  round(ln(cbi) + ln(nbi) - ln(cpre) - ln(cw), 6) AS pmi
      |FROM m CROSS JOIN tot WHERE cbi >= $PmiMinCount
      |ORDER BY pmi DESC, pre, w LIMIT 50""".stripMargin

  // ---------------------------------------------------------------
  // t21: interpolated Kneser-Ney bigram scoring
  // ---------------------------------------------------------------

  /** Absolute-discount constant for t21. 0.75 is the standard KN
    * discount (Chen & Goodman 1999) and is exactly representable in
    * binary, so `c − D` stays drift-free across engines.
    */
  val KnDiscount = 0.75

  /** §2.5 t21: interpolated Kneser-Ney bigram log-probability per doc
    * — the PROPER-smoothing upgrade of t14's raw-MLE scorer, and the
    * actual arithmetic inside KenLM-style perplexity filters:
    * p(w|v) = max(c(vw)−D, 0)/c(v·) + (D·N₁₊(v·)/c(v·))·N₁₊(·w)/N₁₊(··)
    * — continuation probability by distinct-CONTEXT counts, which is
    * what separates KN from every naive smoothing (a word frequent in
    * one context only, "Francisco", gets a LOW continuation weight).
    *
    * Shape: one (doc, pre, w) partial-agg shuffle (lineage-cut), then
    * the bigram TYPE table (again cut — four consumers) feeds three
    * key-partitioned aggregates: prefix totals (c(v·), N₁₊(v·)),
    * continuation counts (N₁₊(·w)), and the 1-row type total. The
    * marginals join back as plain equi-joins — nothing FORCES a
    * broadcast, so Spark's stats pick broadcast at small vocab (the
    * executed sf0.01 plan) and shuffle joins once the type tables
    * outgrow the threshold — vocabulary scales with the corpus
    * (t12/t14's rule); the 1-row total is a broadcast cross join
    * (t7's rule). No collect anywhere.
    *
    * Oracle parity: c, cpre, n1pre, nw, ntypes are exact integers; D
    * is a binary-exact literal; both engines evaluate the SAME
    * associativity of the smoothing expression, so every ln argument
    * is bit-identical; summation-order drift absorbed by 6dp rounding
    * (SURVEY §5, t12/t14/t15 precedent).
    */
  def t21KneserNey(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val pairs = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("pre"), b.as("w")))).as("p"))
      .select(col("doc_id"), col("p.pre").as("pre"), col("p.w").as("w"))
    val tf = Checkpoints.cut(
      pairs.groupBy(col("doc_id"), col("pre"), col("w"))
        .agg(count(lit(1)).as("tf")))
    val bg = Checkpoints.cut(
      tf.groupBy(col("pre"), col("w")).agg(sum(col("tf")).as("cbi")))
    val preT = bg.groupBy(col("pre"))
      .agg(sum(col("cbi")).as("cpre"), count(lit(1)).as("n1pre"))
    val contT = bg.groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val nTypes = bg.agg(count(lit(1)).as("ntypes"))
    val d = lit(KnDiscount)
    tf.join(bg, Seq("pre", "w"))
      .join(preT, Seq("pre"))
      .join(contT, Seq("w"))
      .crossJoin(broadcast(nTypes))
      .withColumn("p",
        greatest(col("cbi") - d, lit(0.0)) / col("cpre") +
          (d * col("n1pre") / col("cpre")) * (col("nw") / col("ntypes")))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_bi"),
        round(sum(col("tf").cast("double") * log(col("p"))) / sum(col("tf")), 6)
          .as("avg_kn_lp"))
      .orderBy(col("doc_id"))
  }

  val t21KneserNeySql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x != '') AS t
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id,
      |    unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS pre,
      |    unnest([t[i+1] for i in generate_series(1, len(t) - 1)]) AS w
      |  FROM toks WHERE len(t) >= 2
      |), tf AS (
      |  SELECT doc_id, pre, w, count(*) AS tf FROM bi GROUP BY 1, 2, 3
      |), bg AS (SELECT pre, w, sum(tf) AS cbi FROM tf GROUP BY 1, 2),
      |pre_t AS (SELECT pre, sum(cbi) AS cpre, count(*) AS n1pre FROM bg GROUP BY 1),
      |cont_t AS (SELECT w, count(*) AS nw FROM bg GROUP BY 1),
      |nt AS (SELECT count(*) AS ntypes FROM bg)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bi,
      |  round(sum(tf * ln(greatest(cbi - $KnDiscount, 0.0) / cpre +
      |    ($KnDiscount * n1pre / cpre) * (nw / ntypes))) / sum(tf), 6) AS avg_kn_lp
      |FROM tf JOIN bg USING (pre, w) JOIN pre_t USING (pre)
      |  JOIN cont_t USING (w) CROSS JOIN nt
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
