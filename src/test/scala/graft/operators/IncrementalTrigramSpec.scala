package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental contamination-pair maintenance (SURVEY §2.3
  * d8-incremental): `mergeBatch` must reproduce the full d8 kernel
  * (`pairsFromTrigramRows`) over the union corpus EXACTLY — including
  * a cap-crossing trigram retroactively voiding existing pairs out of
  * the table — and the admit lifecycle must be replay-safe.
  */
class IncrementalTrigramSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  // 5-token blocks → 3 trigrams each; ≥2-token unique filler between
  // blocks keeps junction trigrams doc-private, so shared counts are
  // exactly the in-block trigrams
  private val P = toks("p", 5) // train 1,2 × bench 100
  private val B = toks("b", 5) // train 1,2,3 (df = cap 3) + batch 10 → crossing
  private val Q = toks("q", 5) // batch 10 × bench 100
  private val R = toks("r", 5) // batch 11 × bench 101

  private def panelDocs = Seq(
    (100L, s"$P ${toks("fa", 3)} $Q"),
    (101L, s"$B ${toks("fb", 3)} $R")).toDF("doc_id", "text")

  private def trainDocs = Seq(
    (1L, s"$P ${toks("fc", 3)} $B"),
    (2L, s"$P ${toks("fd", 3)} $B"),
    (3L, s"${toks("fe", 3)} $B"),
    (4L, toks("ff", 6))).toDF("doc_id", "text")

  private def batchDocs = Seq(
    (10L, s"$Q ${toks("fg", 3)} $B"),
    (11L, s"$R ${toks("fh", 3)}")).toDF("doc_id", "text")

  private def panel = PipelineQueries.trigramRows(panelDocs).withColumnRenamed("doc_id", "bench_id")
  private def tris(d: org.apache.spark.sql.DataFrame) =
    PipelineQueries.trigramRows(d)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long)].collect().toSet

  private val oldExpected = Set(
    (1L, 100L, 3L), (2L, 100L, 3L),
    (1L, 101L, 3L), (2L, 101L, 3L), (3L, 101L, 3L))
  private val mergedExpected = Set(
    (1L, 100L, 3L), (2L, 100L, 3L), (10L, 100L, 3L), (11L, 101L, 3L))

  test("mergeBatch ≡ full recompute, incl. a crossing trigram voiding old pairs") {
    IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr1", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    // pre-batch truth: B sits AT the cap (df 3) so its pairs count
    assert(pairs(oldPairs) === oldExpected)
    val merged = IncrementalTrigram.mergeBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr1", cap = 3)
    val full = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs.unionByName(batchDocs)), panel, maxDf = 3, minShared = 1)
    assert(pairs(merged) === pairs(full),
      s"merged ${pairs(merged)} != full recompute ${pairs(full)}")
    // spelled out: batch doc 10 pushes B hot (df 4 > 3) → the three
    // B-only pairs vanish from the table; 10 pairs with 100 on Q (B
    // itself is excluded from 10's fresh counts); 11 pairs on R
    assert(pairs(merged) === mergedExpected)
  }

  test("admitBatch: the streaming gate's maintained hot set covers the crossing; admits compose") {
    IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr2", buckets = 4)
    IncrementalTrigram.Index.refreshHot(spark, "itr2", 3)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    val merged = IncrementalTrigram.admitBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr2", cap = 3)
    assert(pairs(merged) === mergedExpected)
    // the gate's batch-shape replay: an arrival built from B must stay
    // clean under the REFRESHED hot table; an R copy still flags
    val hot = spark.table("itr2_hot")
    val arrivals = tris(Seq(
      (20L, s"$B ${toks("fi", 3)}"),
      (21L, s"$R ${toks("fj", 3)}")).toDF("doc_id", "text"))
    val flags = arrivals
      .join(broadcast(hot), Seq("h"), "left_anti")
      .join(panel.select(col("h"), col("bench_id")), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
    assert(pairs(flags) === Set((21L, 101L, 3L)),
      "post-admit gate: hot B excluded, R copy flagged")
    // admits COMPOSE: a second batch (doc 30 carries Q, pushing
    // nothing over the cap but adding a fresh Q pair) folds onto the
    // FIRST merge's output and equals one full recompute
    val batch2 = Seq((30L, s"$Q ${toks("fk", 3)}")).toDF("doc_id", "text")
    val merged2 = IncrementalTrigram.admitBatch(spark, tris(batch2), merged,
      prefix = "itr2", cap = 3)
    val full = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs.unionByName(batchDocs).unionByName(batch2)),
      panel, maxDf = 3, minShared = 1)
    assert(pairs(merged2) === pairs(full))
  }

  test("a REPLAYED admitBatch is idempotent: same merge, no duplicate index rows") {
    IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr3", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    val first = IncrementalTrigram.admitBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr3", cap = 3)
    val idxN = spark.table("itr3_tri").count()
    val replay = IncrementalTrigram.admitBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr3", cap = 3)
    assert(pairs(replay) === pairs(first),
      "replaying the same batch must reproduce the same merged table")
    assert(spark.table("itr3_tri").count() === idxN,
      "a replayed append must not duplicate index rows")
  }

  test("ANSI mode: the merge evaluates clean (no silent wrap to throw)") {
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr4", buckets = 4)
      val oldPairs = PipelineQueries.pairsFromTrigramRows(
        tris(trainDocs), panel, maxDf = 3, minShared = 1)
      val merged = IncrementalTrigram.mergeBatch(spark, tris(batchDocs), oldPairs,
        prefix = "itr4", cap = 3)
      assert(pairs(merged) === mergedExpected)
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("merge plan: corpus index read is bucketed; census reuses the layout; equi-joins only") {
    IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr5", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    // r20: the corpus probes run behind shared lineage cuts (one
    // bucketed read serving census + probes), so capture the cut
    // subplans too and assert over all of them
    spark.conf.set(Checkpoints.CapturePlansKey, "true")
    Checkpoints.clearCapturedPlans()
    val finalPlan =
      try IncrementalTrigram.mergeBatch(spark, tris(batchDocs), oldPairs,
        prefix = "itr5", cap = 3).queryExecution.executedPlan.toString
      finally spark.conf.unset(Checkpoints.CapturePlansKey)
    val plan = (Checkpoints.capturedPlans :+ finalPlan).mkString("\n===\n")
    assert(plan.contains("Bucketed: true"),
      s"corpus probes must read the bucketed index:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every stage must be equi-join shaped:\n$plan")
    val censusPlan = spark.table("itr5_tri").groupBy(col("h"))
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!censusPlan.contains("Exchange hashpartitioning"),
      s"bucket-key census must reuse the bucket layout:\n$censusPlan")
  }

  test("retractBatch ≡ full recompute on corpus-minus-batch, incl. un-crossing resurrection") {
    val union = trainDocs.unionByName(batchDocs)
    IncrementalTrigram.buildIndex(tris(union), panel, prefix = "itr7", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(union), panel, maxDf = 3, minShared = 1)
    assert(pairs(oldPairs) === mergedExpected)
    // retract the batch: B's df drops 4 → 3 (un-crosses the cap), so
    // docs 1/2/3's B-pairs with 101 must RESURRECT — doc 3 from total
    // absence (its only shared trigrams were hot)
    val merged = IncrementalTrigram.retractBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr7", cap = 3)
    val full = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    assert(pairs(merged) === pairs(full))
    assert(pairs(merged) === oldExpected)
    // the live index no longer serves the batch docs
    assert(IncrementalTrigram.Index.live(spark, "itr7")
      .filter($"doc_id".isin(10L, 11L)).isEmpty)
    // the refreshed hot table reflects the un-crossing (B no longer hot)
    assert(spark.table("itr7_hot").isEmpty)
  }

  test("partial retract (one doc) ≡ full recompute without it") {
    val union = trainDocs.unionByName(batchDocs)
    IncrementalTrigram.buildIndex(tris(union), panel, prefix = "itr8", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(union), panel, maxDf = 3, minShared = 1)
    val only10 = batchDocs.filter($"doc_id" === 10L)
    val merged = IncrementalTrigram.retractBatch(spark, tris(only10), oldPairs,
      prefix = "itr8", cap = 3)
    val full = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs.unionByName(batchDocs.filter($"doc_id" === 11L))),
      panel, maxDf = 3, minShared = 1)
    assert(pairs(merged) === pairs(full))
    assert(pairs(merged) === (oldExpected + ((11L, 101L, 3L))))
  }

  test("admit∘retract round-trips; re-admit resurrects without duplicate index rows") {
    IncrementalTrigram.buildIndex(tris(trainDocs), panel, prefix = "itr9", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(trainDocs), panel, maxDf = 3, minShared = 1)
    val admitted = IncrementalTrigram.admitBatch(spark, tris(batchDocs), oldPairs,
      prefix = "itr9", cap = 3)
    val retracted = IncrementalTrigram.retractBatch(spark, tris(batchDocs), admitted,
      prefix = "itr9", cap = 3)
    assert(pairs(retracted) === oldExpected, "admit then retract must round-trip")
    // a REPLAYED retract is absorbed: same pairs, no extra tombstones
    val goneN = spark.table("itr9_gone").count()
    val replay = IncrementalTrigram.retractBatch(spark, tris(batchDocs), admitted,
      prefix = "itr9", cap = 3)
    assert(pairs(replay) === oldExpected)
    assert(spark.table("itr9_gone").count() === goneN,
      "a replayed retract must not append duplicate tombstones")
    // re-admit: the rows are still physically present, so the append
    // resurrects via a +1 tombstone instead of duplicating them
    val physN = spark.table("itr9_tri").count()
    val readmitted = IncrementalTrigram.admitBatch(spark, tris(batchDocs), retracted,
      prefix = "itr9", cap = 3)
    assert(pairs(readmitted) === mergedExpected, "re-admit after retract ≡ first admit")
    assert(spark.table("itr9_tri").count() === physN,
      "resurrection must not duplicate physical index rows")
    assert(IncrementalTrigram.Index.live(spark, "itr9")
      .filter($"doc_id" === 10L).count() > 0, "re-admitted doc is live again")
  }

  test("retract plan: bucketed index reads, equi-joins only, census exchange-free") {
    val union = trainDocs.unionByName(batchDocs)
    IncrementalTrigram.buildIndex(tris(union), panel, prefix = "itr11", buckets = 4)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(
      tris(union), panel, maxDf = 3, minShared = 1)
    val plan = IncrementalTrigram.retractMerge(spark, tris(batchDocs), oldPairs,
      prefix = "itr11", cap = 3).queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"corpus probes must read the bucketed index:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every stage must be equi-join shaped:\n$plan")
  }

  test("real corpus: retract of a train-doc slice ≡ the d8 kernel without it") {
    val all = PipelineQueries.trainTrigramRows(spark, sf0)
    val slice = all.filter($"doc_id" % 7 === 0)
    val realPanel = PipelineQueries.benchPanelRows(spark, sf0)
    IncrementalTrigram.buildIndex(all, realPanel, prefix = "itr10", buckets = 8)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(all, realPanel,
      PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    val merged = IncrementalTrigram.retractBatch(spark, slice, oldPairs,
      prefix = "itr10")
    val full = PipelineQueries.pairsFromTrigramRows(
      all.filter($"doc_id" % 7 =!= 0), realPanel,
      PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    assert(pairs(merged) === pairs(full))
    assert(pairs(merged).nonEmpty)
  }

  test("real corpus: merge over a train-doc split ≡ the d8 kernel on the union") {
    val corpus = PipelineQueries.trainTrigramRows(spark, sf0)
      .filter($"doc_id" % 7 =!= 0)
    val batch = PipelineQueries.trainTrigramRows(spark, sf0)
      .filter($"doc_id" % 7 === 0)
    val realPanel = PipelineQueries.benchPanelRows(spark, sf0)
    IncrementalTrigram.buildIndex(corpus, realPanel, prefix = "itr6", buckets = 8)
    val oldPairs = PipelineQueries.pairsFromTrigramRows(corpus, realPanel,
      PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    val merged = IncrementalTrigram.mergeBatch(spark, batch, oldPairs,
      prefix = "itr6")
    val full = PipelineQueries.pairsFromTrigramRows(
      PipelineQueries.trainTrigramRows(spark, sf0), realPanel,
      PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    assert(pairs(merged) === pairs(full))
    assert(pairs(merged).nonEmpty)
  }
}
