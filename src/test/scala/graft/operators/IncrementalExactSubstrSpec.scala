package graft.operators

import graft.SparkSpec

/** Incremental maximal-repeat maintenance (SURVEY §2.3
  * d24-incremental): `mergeBatch` must reproduce
  * `ExactSubstr.maximalRepeats` over the union corpus EXACTLY —
  * including the structural case counts can't express: a batch
  * pushing one window over the hot cap SPLITS an existing long run
  * into two shorter surviving fragments.
  */
class IncrementalExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  private val T = toks("t", 30)          // 23 windows; w = T(12..19) at pos 12
  private val W = T.slice(11, 19)        // the window the batch pushes hot
  private val S = toks("s", 12)
  private val R = toks("r", 12)

  private def corpusDocs = Seq(
    (1L, T ++ toks("u", 4)),             // (1,2): 30-token run
    (2L, T ++ toks("v", 4)),
    (3L, toks("a", 5) ++ W ++ toks("b", 5)), // holds ONLY w → df(w) = 3 = cap
    (5L, S ++ toks("f", 4))              // S's lone corpus holder
  ).toDF("doc_id", "tk")

  private def batchDocs = Seq(
    (10L, toks("c", 4) ++ W ++ toks("d", 4)), // pushes w over cap 3 → crossing
    (11L, toks("e", 2) ++ S),                 // fresh batch-corpus pair with 5
    (12L, R ++ toks("g", 3)),                 // fresh batch-batch pair
    (13L, toks("h", 4) ++ R)
  ).toDF("doc_id", "tk")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"doc_a", $"doc_b", $"a_start", $"b_start", $"len_tok")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("mergeBatch ≡ full recompute, incl. the cap-crossing run SPLIT") {
    val corpusWins = ExactSubstr.windowPositions(corpusDocs)
    IncrementalExactSubstr.buildIndexes(corpusWins, prefix = "ixs1", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
    // pre-batch truth: one unbroken 30-token run; (1,3)/(2,3) share
    // only w (8 < minTok) and never enter the table
    assert(rows(oldRepeats) === Set((1L, 2L, 1L, 1L, 30L)))
    val merged = IncrementalExactSubstr.mergeBatch(spark,
      ExactSubstr.windowPositions(batchDocs), oldRepeats,
      prefix = "ixs1", cap = 3)
    val full = ExactSubstr.maximalRepeats(
      corpusDocs.unionByName(batchDocs), cap = 3)
    assert(rows(merged) === rows(full),
      s"merged ${rows(merged)} != full recompute ${rows(full)}")
    // spelled out: w goes hot (df 4 > 3) and the (1,2) run SPLITS
    // around position 12 into two 18-token fragments; batch doc 10
    // pairs with nothing (its only shared window is hot); 11 pairs
    // with corpus doc 5 on S; 12/13 pair within the batch on R
    assert(rows(merged) === Set(
      (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L),
      (5L, 11L, 1L, 3L, 12L), (12L, 13L, 1L, 5L, 12L)))
  }

  test("pre-existing hot window stays excluded in the at-risk recompute") {
    // df(w') = 4 > cap BEFORE the batch (docs 1,2,3,4 hold it), so
    // oldRepeats already shows the split; the batch then crosses a
    // DIFFERENT window w'' shared by (1,2) — the recompute must keep
    // honoring w'-hotness at union counts (the IncrementalMedia r12
    // advisory case, structural flavor) or the old split would heal
    val T2 = toks("q", 30)
    val Wp = T2.slice(11, 19)  // w' at pos 12: pre-hot
    val Wpp = T2.slice(0, 8)   // w'' at pos 1: crossed by the batch
    val corpus = Seq(
      (1L, T2 ++ toks("u", 4)),
      (2L, T2 ++ toks("v", 4)),
      (3L, toks("a", 5) ++ Wp ++ toks("b", 5)),
      (4L, toks("c", 5) ++ Wp ++ toks("d", 5))).toDF("doc_id", "tk")
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(corpus), prefix = "ixs2", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(corpus, cap = 3)
    assert(rows(oldRepeats) === Set(
      (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L)))
    val batch = Seq(
      (10L, toks("e", 3) ++ Wpp ++ toks("f", 3)),
      (11L, toks("g", 3) ++ Wpp ++ toks("h", 3))).toDF("doc_id", "tk")
    val merged = IncrementalExactSubstr.mergeBatch(spark,
      ExactSubstr.windowPositions(batch), oldRepeats, prefix = "ixs2", cap = 3)
    val full = ExactSubstr.maximalRepeats(corpus.unionByName(batch), cap = 3)
    assert(rows(merged) === rows(full),
      s"merged ${rows(merged)} != full ${rows(full)}")
    // w'' hot too: the first fragment loses its opening window —
    // [2..11] is 10 windows → 17 tokens; the second fragment and the
    // w' exclusion are untouched
    assert(rows(merged) === Set(
      (1L, 2L, 2L, 2L, 17L), (1L, 2L, 13L, 13L, 18L)))
  }

  test("ANSI mode: the merge evaluates clean (no silent wrap to throw)") {
    // the family discipline (SURVEY §5): the merge's conv/arithmetic
    // paths get the same strict-evaluation audit as d11's and m5's
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      IncrementalExactSubstr.buildIndexes(
        ExactSubstr.windowPositions(corpusDocs), prefix = "ixs5", buckets = 4)
      val oldRepeats = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
      val merged = IncrementalExactSubstr.mergeBatch(spark,
        ExactSubstr.windowPositions(batchDocs), oldRepeats,
        prefix = "ixs5", cap = 3)
      assert(rows(merged) === Set(
        (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L),
        (5L, 11L, 1L, 3L, 12L), (12L, 13L, 1L, 5L, 12L)))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("real corpus: merge over a planted-doc split ≡ full recompute") {
    val toksAll = PipelineQueries.plantedSpanToks(spark, sf0)
    val corpus = toksAll.filter($"doc_id" % 7 =!= 0)
    val batch = toksAll.filter($"doc_id" % 7 === 0)
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(corpus), prefix = "ixs3", buckets = 8)
    val oldRepeats = ExactSubstr.maximalRepeats(corpus)
    val merged = IncrementalExactSubstr.mergeBatch(spark,
      ExactSubstr.windowPositions(batch), oldRepeats, prefix = "ixs3")
    val full = ExactSubstr.maximalRepeats(toksAll)
    assert(rows(merged) === rows(full))
    assert(rows(merged).nonEmpty)
  }

  test("admitBatch: the NEXT probe sees the batch; hot refresh excludes crossings") {
    val corpusWins = ExactSubstr.windowPositions(corpusDocs)
    IncrementalExactSubstr.buildIndexes(corpusWins, prefix = "ixs4", buckets = 4)
    IncrementalExactSubstr.Index.refreshHot(spark, "ixs4", 3)
    val oldRepeats = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
    val merged = IncrementalExactSubstr.admitBatch(spark,
      ExactSubstr.windowPositions(batchDocs), oldRepeats,
      prefix = "ixs4", cap = 3)
    assert(rows(merged) === Set(
      (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L),
      (5L, 11L, 1L, 3L, 12L), (12L, 13L, 1L, 5L, 12L)))
    // next arrival copies ADMITTED doc 12's R passage → the servable
    // index (refreshed post-append) must pair it with 12 AND 13;
    // an arrival built from the crossed window w must stay clean
    val arrivals = Seq(
      (20L, R ++ toks("z", 3)),
      (21L, toks("y", 3) ++ W ++ toks("x", 3))).toDF("doc_id", "tk")
    val sv = IncrementalExactSubstr.servableIndex(spark, "ixs4")
    val matches = ExactSubstr.windowPositions(arrivals)
      .select($"h", $"doc_id".as("doc_a"), $"pos".as("pa"))
      .join(sv.select($"h", $"doc_id".as("doc_b"), $"pos".as("pb")), "h")
    val flagged = ExactSubstr.runsFromMatches(matches, minTok = 10)
    assert(rows(flagged) === Set(
      (20L, 12L, 1L, 1L, 12L), (20L, 13L, 1L, 5L, 12L)),
      s"post-admit probe: ${rows(flagged)}")
  }

  test("retractBatch ≡ full recompute, incl. the un-crossing run REJOIN") {
    val union = corpusDocs.unionByName(batchDocs)
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(union), prefix = "ixr1", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(union, cap = 3)
    assert(rows(oldRepeats) === Set(
      (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L),
      (5L, 11L, 1L, 3L, 12L), (12L, 13L, 1L, 5L, 12L)))
    // retract the batch: w's df drops 4 → 3 (un-crosses), so the
    // (1,2) split must HEAL back into the unbroken 30-token run;
    // every batch pair vanishes
    val merged = IncrementalExactSubstr.retractBatch(spark,
      ExactSubstr.windowPositions(batchDocs), oldRepeats,
      prefix = "ixr1", cap = 3)
    val full = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
    assert(rows(merged) === rows(full),
      s"retracted ${rows(merged)} != full recompute ${rows(full)}")
    assert(rows(merged) === Set((1L, 2L, 1L, 1L, 30L)))
    // the live indexes no longer serve the batch docs
    assert(IncrementalExactSubstr.Index.live(spark, "ixr1")
      .filter($"doc_id".isin(10L, 11L, 12L, 13L)).isEmpty)
    assert(IncrementalExactSubstr.Index.live(spark, "ixr1", "wdoc")
      .filter($"doc_id".isin(10L, 11L, 12L, 13L)).isEmpty)
  }

  test("retract: un-crossing RESURRECTS a run from absence (pair had no row)") {
    // (1,2) share a 10-token passage P whose MIDDLE window w2 is hot
    // at union counts (docs 1,2,3 + batch 10 = 4 > cap 3): the
    // surviving fragments are 8 tokens < minTok 10, so the pair has
    // NO row at all. Retracting doc 10 drops df(w2) to 3 ≤ cap and
    // the full 10-token run must appear — the case increments can
    // never repair, only the bounded at-risk recompute can.
    val P = toks("p", 10)
    val w2slice = P.slice(1, 9)
    val R2 = toks("r", 12)
    val corpus = Seq(
      (1L, toks("u", 3) ++ P),
      (2L, toks("v", 2) ++ P),
      (3L, toks("a", 3) ++ w2slice ++ toks("b", 3)),
      (5L, R2 ++ toks("e", 3)),  // (5,6): untouched row rides keep
      (6L, toks("f", 4) ++ R2)).toDF("doc_id", "tk")
    val batch = Seq(
      (10L, toks("c", 2) ++ w2slice ++ toks("d", 2))).toDF("doc_id", "tk")
    val union = corpus.unionByName(batch)
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(union), prefix = "ixr2", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(union, cap = 3)
    assert(rows(oldRepeats) === Set((5L, 6L, 1L, 5L, 12L)),
      "pre-retract: the hot middle window keeps (1,2) out of the table")
    val merged = IncrementalExactSubstr.retractBatch(spark,
      ExactSubstr.windowPositions(batch), oldRepeats, prefix = "ixr2", cap = 3)
    val full = ExactSubstr.maximalRepeats(corpus, cap = 3)
    assert(rows(merged) === rows(full),
      s"retracted ${rows(merged)} != full recompute ${rows(full)}")
    assert(rows(merged) === Set((1L, 2L, 4L, 3L, 10L), (5L, 6L, 1L, 5L, 12L)))
  }

  test("admit∘retract round-trips; re-admit resurrects without duplicate index rows") {
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(corpusDocs), prefix = "ixr3", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
    val batchWins = ExactSubstr.windowPositions(batchDocs)
    val admitted = IncrementalExactSubstr.admitBatch(spark, batchWins, oldRepeats,
      prefix = "ixr3", cap = 3)
    val retracted = IncrementalExactSubstr.retractBatch(spark, batchWins, admitted,
      prefix = "ixr3", cap = 3)
    assert(rows(retracted) === Set((1L, 2L, 1L, 1L, 30L)),
      "admit then retract must round-trip")
    val wposN = spark.table("ixr3_wpos").count()
    val wdocN = spark.table("ixr3_wdoc").count()
    val readmitted = IncrementalExactSubstr.admitBatch(spark, batchWins, retracted,
      prefix = "ixr3", cap = 3)
    assert(rows(readmitted) === Set(
      (1L, 2L, 1L, 1L, 18L), (1L, 2L, 13L, 13L, 18L),
      (5L, 11L, 1L, 3L, 12L), (12L, 13L, 1L, 5L, 12L)),
      "re-admit after retract ≡ first admit")
    assert(spark.table("ixr3_wpos").count() === wposN &&
      spark.table("ixr3_wdoc").count() === wdocN,
      "resurrection must not duplicate physical index rows in either layout")
  }

  test("real corpus: retract of a planted-doc slice ≡ full recompute without it") {
    val toksAll = PipelineQueries.plantedSpanToks(spark, sf0)
    IncrementalExactSubstr.buildIndexes(
      ExactSubstr.windowPositions(toksAll), prefix = "ixr4", buckets = 8)
    val oldRepeats = ExactSubstr.maximalRepeats(toksAll)
    val merged = IncrementalExactSubstr.retractBatch(spark,
      ExactSubstr.windowPositions(toksAll.filter($"doc_id" % 7 === 0)),
      oldRepeats, prefix = "ixr4")
    val full = ExactSubstr.maximalRepeats(toksAll.filter($"doc_id" % 7 =!= 0))
    assert(rows(merged) === rows(full))
    assert(rows(merged).nonEmpty)
  }

  test("a REPLAYED admitBatch is idempotent: same merge, no duplicate index rows") {
    // an at-least-once driver retries the whole admit after a crash —
    // a duplicated (doc_id, pos, h) row would silently shift the
    // diagonal run chaining (undercounted len_tok), so the replay has
    // to be absorbed: appends skip docs each table already holds, and
    // the merge reads the index MINUS the batch's own ids
    val corpusWins = ExactSubstr.windowPositions(corpusDocs)
    IncrementalExactSubstr.buildIndexes(corpusWins, prefix = "ixs6", buckets = 4)
    val oldRepeats = ExactSubstr.maximalRepeats(corpusDocs, cap = 3)
    val batchWins = ExactSubstr.windowPositions(batchDocs)
    val first = IncrementalExactSubstr.admitBatch(spark, batchWins, oldRepeats,
      prefix = "ixs6", cap = 3)
    val wposN = spark.table("ixs6_wpos").count()
    val wdocN = spark.table("ixs6_wdoc").count()
    assert(wposN === wdocN, "both layouts hold the same rows")
    val replay = IncrementalExactSubstr.admitBatch(spark, batchWins, oldRepeats,
      prefix = "ixs6", cap = 3)
    assert(rows(replay) === rows(first),
      "replaying the same batch must reproduce the same merged table")
    assert(spark.table("ixs6_wpos").count() === wposN &&
      spark.table("ixs6_wdoc").count() === wdocN,
      "a replayed append must not duplicate index rows")
    // partial-crash heal: one table missed the batch (simulated by a
    // fresh build of wdoc only from the corpus) — the retry appends to
    // exactly the lagging table and leaves the other untouched
    graft.sources.Bucketing.writeBucketed(
      corpusWins.select($"doc_id", $"pos", $"h"), "ixs6_wdoc", "doc_id", 4)
    IncrementalExactSubstr.Index.append(batchWins.select($"doc_id", $"pos", $"h"), "ixs6")
    assert(spark.table("ixs6_wpos").count() === wposN &&
      spark.table("ixs6_wdoc").count() === wdocN,
      "the retry must heal the lagging table without double-appending the other")
  }
}
