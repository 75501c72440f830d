package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental passage-pair maintenance (SURVEY §2.3 d11-incremental):
  * `mergeBatch` must reproduce the full-recompute pair table of the
  * union corpus EXACTLY — including the subtle case where the batch
  * pushes a window's document frequency over the boilerplate cap,
  * which retroactively removes that window's contribution from
  * existing pairs.
  */
class IncrementalPassagesSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  // shared passages: 12 tokens → 5 rolling 8-windows; 10 tokens → 3.
  // 8-token unique filler between passages keeps junction windows
  // doc-private, so shared counts are exactly the in-passage windows.
  private val P = toks("p", 12) // docs 1,2            → 5 windows
  private val Q = toks("q", 10) // docs 3,4 + batch 10 → 3 windows
  private val B = toks("b", 10) // docs 1,2,3 + batch 10: df crosses cap 3
  private val R = toks("r", 10) // batch 10,11         → 3 windows

  private def corpusDocs = Seq(
    (1L, s"$P ${toks("ua", 8)} $B ${toks("ub", 8)}"),
    (2L, s"$P ${toks("uc", 8)} $B ${toks("ud", 8)}"),
    (3L, s"$Q ${toks("ue", 8)} $B ${toks("uf", 8)}"),
    (4L, s"$Q ${toks("ug", 8)}")).toDF("doc_id", "text")

  private def batchDocs = Seq(
    (10L, s"$Q ${toks("uh", 8)} $B ${toks("ui", 8)} $R"),
    (11L, s"$R ${toks("uj", 8)}")).toDF("doc_id", "text")

  test("mergeBatch ≡ full recompute, including the cap-crossing decrement") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    val batchWins = IncrementalPassages.windowHashes(batchDocs)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt", buckets = 4)
    val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
    // the fixture's ground truth before the batch: B (df 3 = cap) still
    // counts, so (1,3)/(2,3) exist on B's 3 windows alone
    val oldSet = oldPairs.as[(Long, Long, Long)].collect().toSet
    assert(oldSet === Set((1L, 2L, 8L), (1L, 3L, 3L), (2L, 3L, 3L), (3L, 4L, 3L)))

    val merged = IncrementalPassages.mergeBatch(spark, batchWins, oldPairs,
        prefix = "ippt", cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(
        corpusWins.unionByName(batchWins), cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full, s"merged $merged != full recompute $full")
    // and the expected shape, spelled out: the batch pushes B over the
    // cap, so (1,2) drops B's 3 windows (8→5) and the B-only pairs
    // (1,3)/(2,3) vanish; Q stays countable (df 3 ≤ cap) and pairs the
    // batch doc with 3 and 4; R pairs the two batch docs
    assert(merged === Set(
      (1L, 2L, 5L), (3L, 4L, 3L),
      (3L, 10L, 3L), (4L, 10L, 3L), (10L, 11L, 3L)))
  }

  test("admitBatch: one owner — the NEXT probe sees the batch and the refreshed hot set") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt6", buckets = 4)
    IncrementalPassages.refreshHotWindows(spark, prefix = "ippt6", cap = 3)
    val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
    val merged = IncrementalPassages.admitBatch(spark,
      IncrementalPassages.windowHashes(batchDocs), oldPairs,
      prefix = "ippt6", cap = 3)
    assert(merged.as[(Long, Long, Long)].collect().toSet === Set(
      (1L, 2L, 5L), (3L, 4L, 3L), (3L, 10L, 3L), (4L, 10L, 3L), (10L, 11L, 3L)))
    // the NEXT micro-batch probes the post-admit servable index:
    // doc 20 copies admitted doc 10/11's R passage → flagged against
    // BOTH; doc 21 is built from B, which the admit pushed over the
    // cap → the refreshed hot exclusion keeps it clean
    val arrivals = Seq(
      (20L, s"$R ${toks("uk", 8)}"),
      (21L, s"$B ${toks("ul", 8)}")).toDF("doc_id", "text")
    val flags = IncrementalPassages.windowHashes(arrivals)
      .join(IncrementalPassages.servableIndex(spark, "ippt6")
        .select(col("h"), col("doc_id").as("corpus_doc")), "h")
      .groupBy(col("doc_id"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(flags === Set((20L, 10L, 3L), (20L, 11L, 3L)),
      s"post-admit probe must see the admitted docs and exclude hot B: $flags")
    // admits COMPOSE: batch 2 reuses batch 1's merged table as its
    // artifact (doc 30's Q pushes Q over the cap — second crossing)
    val batch2 = Seq((30L, s"$Q ${toks("um", 8)}")).toDF("doc_id", "text")
    val merged2 = IncrementalPassages.admitBatch(spark,
        IncrementalPassages.windowHashes(batch2), merged,
        prefix = "ippt6", cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(
        IncrementalPassages.windowHashes(
          corpusDocs.unionByName(batchDocs).unionByName(batch2)), cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(merged2 === full, s"two admits $merged2 != one full recompute $full")
  }

  test("ANSI mode: the merge evaluates clean (no silent wrap to throw)") {
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
      val batchWins = IncrementalPassages.windowHashes(batchDocs)
      IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt5", buckets = 4)
      val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
      val merged = IncrementalPassages.mergeBatch(spark, batchWins, oldPairs,
          prefix = "ippt5", cap = 3)
        .as[(Long, Long, Long)].collect().toSet
      assert(merged === Set(
        (1L, 2L, 5L), (3L, 4L, 3L),
        (3L, 10L, 3L), (4L, 10L, 3L), (10L, 11L, 3L)))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("merge plan: corpus index read is bucketed, census reuses the layout") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    val batchWins = IncrementalPassages.windowHashes(batchDocs)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt2", buckets = 4)
    val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
    // r20: the corpus probes run behind shared lineage cuts (one
    // bucketed read serving census + probes), so capture the cut
    // subplans too and assert over all of them
    spark.conf.set(Checkpoints.CapturePlansKey, "true")
    Checkpoints.clearCapturedPlans()
    val finalPlan =
      try IncrementalPassages.mergeBatch(spark, batchWins, oldPairs,
        prefix = "ippt2", cap = 3).queryExecution.executedPlan.toString
      finally spark.conf.unset(Checkpoints.CapturePlansKey)
    val plan = (Checkpoints.capturedPlans :+ finalPlan).mkString("\n===\n")
    assert(plan.contains("Bucketed: true"),
      s"corpus probes must read the bucketed index:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every stage must be equi-join shaped:\n$plan")
    // the df census alone: group-by on the bucket key, zero exchange
    val censusPlan = spark.table("ippt2_win").groupBy(col("h"))
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!censusPlan.contains("Exchange hashpartitioning"),
      s"bucket-key census must reuse the bucket layout:\n$censusPlan")
  }

  test("appendToIndex: merged batch joins the layout; recompute from the table agrees") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    val batchWins = IncrementalPassages.windowHashes(batchDocs)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt3", buckets = 4)
    IncrementalPassages.Index.append(batchWins.select($"doc_id", $"h"), "ippt3")
    val fromTable = IncrementalPassages.pairsFromWindows(
        spark.table("ippt3_win"), cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(
        corpusWins.unionByName(batchWins), cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromTable === full)
  }

  test("retractBatch ≡ full recompute on corpus-minus-batch, incl. un-crossing resurrection") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    val batchWins = IncrementalPassages.windowHashes(batchDocs)
    val unionWins = corpusWins.unionByName(batchWins)
    IncrementalPassages.buildWindowIndex(unionWins, prefix = "ippr1", buckets = 4)
    val oldPairs = IncrementalPassages.pairsFromWindows(unionWins, cap = 3)
    assert(oldPairs.as[(Long, Long, Long)].collect().toSet === Set(
      (1L, 2L, 5L), (3L, 4L, 3L), (3L, 10L, 3L), (4L, 10L, 3L), (10L, 11L, 3L)))
    // retract the batch: B's df drops 4 → 3 (un-crosses the cap), so
    // (1,2) must regain B's 3 windows (5→8) and the B-only pairs
    // (1,3)/(2,3) must RESURRECT from absence
    val merged = IncrementalPassages.retractBatch(spark, batchWins, oldPairs,
        prefix = "ippr1", cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full, s"retracted $merged != full recompute $full")
    assert(merged === Set((1L, 2L, 8L), (1L, 3L, 3L), (2L, 3L, 3L), (3L, 4L, 3L)))
    // the live index no longer serves the batch docs; the refreshed
    // hot table reflects the un-crossing (B no longer hot)
    assert(IncrementalPassages.Index.live(spark, "ippr1")
      .filter(col("doc_id").isin(10L, 11L)).isEmpty)
    assert(spark.table("ippr1_hot").isEmpty)
  }

  test("admit∘retract round-trips; re-admit resurrects without duplicate index rows") {
    val corpusWins = IncrementalPassages.windowHashes(corpusDocs)
    val batchWins = IncrementalPassages.windowHashes(batchDocs)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippr2", buckets = 4)
    val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
    val oldSet = oldPairs.as[(Long, Long, Long)].collect().toSet
    val admitted = IncrementalPassages.admitBatch(spark, batchWins, oldPairs,
      prefix = "ippr2", cap = 3)
    val retracted = IncrementalPassages.retractBatch(spark, batchWins, admitted,
      prefix = "ippr2", cap = 3)
    assert(retracted.as[(Long, Long, Long)].collect().toSet === oldSet,
      "admit then retract must round-trip")
    // re-admit: rows still physically present → +1 resurrection, no dup
    val physN = spark.table("ippr2_win").count()
    val readmitted = IncrementalPassages.admitBatch(spark, batchWins, retracted,
      prefix = "ippr2", cap = 3)
    assert(readmitted.as[(Long, Long, Long)].collect().toSet === Set(
      (1L, 2L, 5L), (3L, 4L, 3L), (3L, 10L, 3L), (4L, 10L, 3L), (10L, 11L, 3L)),
      "re-admit after retract ≡ first admit")
    assert(spark.table("ippr2_win").count() === physN,
      "resurrection must not duplicate physical index rows")
  }

  test("retract plan: bucketed index reads, equi-joins only") {
    val unionWins = IncrementalPassages.windowHashes(
      corpusDocs.unionByName(batchDocs))
    IncrementalPassages.buildWindowIndex(unionWins, prefix = "ippr4", buckets = 4)
    val oldPairs = IncrementalPassages.pairsFromWindows(unionWins, cap = 3)
    val plan = IncrementalPassages.retractMerge(spark,
        IncrementalPassages.windowHashes(batchDocs), oldPairs,
        prefix = "ippr4", cap = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"corpus probes must read the bucketed index:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every stage must be equi-join shaped:\n$plan")
  }

  test("real corpus: retract of a doc slice ≡ d11's window kernel without it") {
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    val wins = IncrementalPassages.windowHashes(docs)
    IncrementalPassages.buildWindowIndex(wins, prefix = "ippr3", buckets = 8)
    val oldPairs = IncrementalPassages.pairsFromWindows(wins)
    val merged = IncrementalPassages.retractBatch(spark,
        wins.filter(col("doc_id") % 7 === 0), oldPairs, prefix = "ippr3")
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(
        wins.filter(col("doc_id") % 7 =!= 0))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
  }

  test("real corpus: incremental over a doc split ≡ d11's window kernel on the union") {
    // windows from the sf0.001 documents (plain text, no plant): hold
    // out every 7th doc as the "batch" and check the merge reproduces
    // the union pair table at the production cap
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    val wins = IncrementalPassages.windowHashes(docs)
    val corpusWins = wins.filter(col("doc_id") % 7 =!= 0)
    val batchWins = wins.filter(col("doc_id") % 7 === 0)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = "ippt4", buckets = 8)
    val oldPairs = IncrementalPassages.pairsFromWindows(corpusWins)
    val merged = IncrementalPassages.mergeBatch(spark, batchWins, oldPairs,
        prefix = "ippt4")
      .as[(Long, Long, Long)].collect().toSet
    val full = IncrementalPassages.pairsFromWindows(wins)
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
  }
}
