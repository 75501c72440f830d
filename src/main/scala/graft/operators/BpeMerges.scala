package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge learning — tokenizer
  * induction as a corpus-scale Spark job (SURVEY.md §2.5 t18).
  *
  * Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units") learns a subword vocabulary by
  * repeatedly merging the most frequent ADJACENT symbol pair across
  * the corpus. The key scale property this implementation exploits:
  * after the first aggregation, BPE never touches the corpus again —
  * it operates on the WORD-FREQUENCY table (one row per distinct
  * word), whose size tracks vocabulary, not corpus bytes. At 100 TB
  * the corpus scan happens exactly once; every merge round is a
  * partial-agg over the (cached) vocab frame plus a 1-row argmax and
  * a narrow-map rewrite.
  *
  * Symbol-sequence representation: a word's symbols joined by TWO
  * spaces with two-space sentinels (`"  a  b  c  "`). A merge of
  * (a, b) is then ONE literal (non-regex) string replace of
  * `" a  b "` with `" ab "`: each match consumes one space from each
  * flanking separator, so the two-space invariant is preserved AND
  * adjacent matches can share separators — the left-to-right
  * non-overlapping scan of plain `replace` implements exactly the
  * greedy merge BPE specifies (`a a a` + rule (a,a) → `aa a`, never
  * `a aa`). Literal replace is engine-portable (identical semantics
  * in Spark and DuckDB), which is what makes the whole learned
  * tokenizer oracle-replayable; a regex with lookarounds would not
  * survive RE2-based engines. Symbols are concatenations of [a-z]
  * characters by construction, so inlining them as SQL literals is
  * injection-free.
  *
  * Each round's winning pair is an argmax over the pair-count agg —
  * collected as ONE driver row per round (the IvfIndex
  * centroid-literal bound: driver state is O(rounds), never
  * data-sized) and re-entering the plan as a literal.
  */
object BpeMerges {

  /** One learned merge: round number (1-based), the pair, and its
    * corpus frequency at the time of the merge.
    */
  final case class Merge(round: Int, lhs: String, rhs: String, count: Long)

  /** (word, cnt) frequency table over lowercase ASCII-letter runs —
    * the ONE corpus-proportional aggregation in the pipeline.
    */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Initial symbol string of a word: single characters, two-space
    * separated, two-space sentinels (`"cat"` → `"  c  a  t  "`).
    */
  def symInit(word: Column): Column =
    concat(lit("  "),
      array_join(
        transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
        "  "),
      lit("  "))

  /** Adjacent-pair counts over the vocab's symbol strings, weighted
    * by word frequency: (lhs, rhs, c). A partial-agg shuffle bounded
    * by the pair vocabulary — never corpus-sized.
    */
  def pairCounts(vocab: DataFrame): DataFrame = {
    // NOTE (r20): the per-position lambda references the split
    // subtree twice (an ExprLet.bindOnce candidate), but symbol
    // strings are words — bounded short — so the re-evaluation never
    // bites; an A/B measured the bound and inline forms as
    // indistinguishable at sf0.1 (±ambient noise). Left inline; the
    // UNBOUNDED-text kernels (charShingleSeq/winnowing)
    // carry the binding, where the quadratic is real.
    val syms = split(trim(col("s")), "  ")
    // guard: sequence(1, 0) is DESCENDING in Spark — a 1-symbol word
    // must contribute an empty pair list, not a reversed range
    val pairs = when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("lhs"),
          element_at(syms, i + 1).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
    vocab.select(explode(pairs).as("p"), col("cnt"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).cast("long").as("c"))
  }

  /** Apply one merge rule to every symbol string — a pure narrow map
    * (one literal replace per row). lhs/rhs are [a-z]+ by
    * construction (wordVocab's extraction regex), so the inlined SQL
    * literal needs no escaping.
    */
  def applyMerge(vocab: DataFrame, lhs: String, rhs: String): DataFrame = {
    require(lhs.matches("[a-z]+") && rhs.matches("[a-z]+"),
      s"BPE symbols must be letter runs, got '$lhs', '$rhs'")
    vocab.withColumn("s",
      expr(s"replace(s, ' $lhs  $rhs ', ' $lhs$rhs ')"))
  }

  /** Learn `rounds` merges from the documents frame. Ties in pair
    * frequency break by (lhs, rhs) lexicographic order — fully
    * deterministic, so the DuckDB oracle replays the identical rule
    * sequence. Returns fewer merges only if the vocab degenerates to
    * single-symbol words (no adjacent pairs remain).
    */
  def learn(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] = {
    val v0 = wordVocab(docs, textCol)
      .select(symInit(col("word")).as("s"), col("cnt"))
      .persist()
    try learnOnVocab(v0, rounds) finally v0.unpersist()
  }

  /** The merge sequence for the documents corpus at `dir` as a
    * MATERIALIZED artifact ([[Artifacts.learned]]): learned once per
    * (scope, corpus version, rounds), landed as (round, lhs, rhs,
    * count) parquet — the `merges.txt` of a production tokenizer —
    * and served to every consumer (t18's report, t19's corpus encode)
    * instead of re-running the learning rounds.
    */
  def materialized(spark: SparkSession, dir: String, rounds: Int): Seq[Merge] =
    Artifacts.learned(spark, "bpe", dir, "documents.parquet", s"r=$rounds") {
      import spark.implicits._
      learn(graft.GraftSession.table(spark, dir, "documents"), "text", rounds).toDF()
    }(_.map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_.round))

  /** The merge-round loop over an already-materialized (s, cnt)
    * symbol-string vocab — split out so the scaling bench can time
    * the corpus-proportional vocab aggregation and the
    * vocab-proportional rounds separately (they have different scale
    * models: the former is linear in corpus bytes, the latter is
    * independent of them).
    */
  def learnOnVocab(v0: DataFrame, rounds: Int): Seq[Merge] = {
    var vocab: DataFrame = v0
    val merges = Seq.newBuilder[Merge]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val m = Merge(r, top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += m
        vocab = applyMerge(vocab, m.lhs, m.rhs)
      }
    }
    merges.result()
  }
}
