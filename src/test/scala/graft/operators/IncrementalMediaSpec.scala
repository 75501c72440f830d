package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental pHash pair maintenance (SURVEY §2.6 m5-incremental):
  * `mergeBatch` must reproduce `Dedup.hexHashPairs`' full recompute
  * over the union corpus — including the case where the batch pushes
  * a (band, chunk) bucket over the skew cap, which retroactively
  * removes pairs whose ONLY agreeing band sat in that bucket while
  * multi-band pairs survive.
  */
class IncrementalMediaSpec extends SparkSpec {
  import spark.implicits._

  // 16-hex pHashes with hand-controlled bands (4 hex chars each).
  private def corpusHashed = Seq(
    (1L, "aaaabbbb00000000"), // (1,2): hamming 1, agree on bands 0,1,2
    (2L, "aaaabbbb00000001"),
    (3L, "aaaacccc11112222"), // band0 'aaaa' bucket = {1,2,3}: at the cap
    (4L, "eeee000000000000"), // (4,5): hamming 3, agree ONLY on band0 'eeee'
    (5L, "eeee000100010001"),
    (6L, "eeee777788889999"), // band0 'eeee' bucket = {4,5,6}: at the cap
    (7L, "abcdef0123456789")).toDF("media_id", "phash")

  private def batchHashed = Seq(
    (10L, "aaaadddd33334444"), // pushes 'aaaa' over the cap: (1,2) must SURVIVE via band1
    (11L, "eeee5432dcba8765"), // pushes 'eeee' over the cap: (4,5) must DROP
    (12L, "abcdef012345678b"), // new batch-corpus pair with 7 (hamming 1)
    (13L, "facefacecafe0000"), // new batch-batch pair (hamming 1)
    (14L, "facefacecafe0001")).toDF("media_id", "phash")

  test("mergeBatch ≡ hexHashPairs full recompute, incl. cap-crossing drop and survival") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    val oldSet = oldPairs.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(oldSet === Set((1L, 2L, 1L), (4L, 5L, 3L)))

    val merged = IncrementalMedia.mergeBatch(spark, batchHashed, oldPairs,
        prefix = "imedia", maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.hexHashPairs(corpusHashed.unionByName(batchHashed),
        "media_id", "phash", maxHamming = 3, maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full, s"merged $merged != full recompute $full")
    // spelled out: (4,5)'s only band crossed the cap and the pair is
    // gone; (1,2) lost band0 but survives on bands 1/2; the batch
    // pairs with corpus doc 7 and within itself
    assert(merged === Set((1L, 2L, 1L), (7L, 12L, 1L), (13L, 14L, 1L)))
  }

  test("pre-existing oversized bucket UNTOUCHED by the batch still voids survival") {
    // the r12 advisory case: the survival disjunction must evaluate
    // the oversized predicate at new counts for EVERY band bucket an
    // at-risk pair sits in — a bucket over the cap BEFORE the batch
    // and receiving no batch rows (new = old > cap) is invisible to
    // the batch-scoped census, and consulting only that census keeps
    // pairs a full recompute drops.
    val corpus = Seq(
      (1L, "aaaabbbb00000000"), // (1,2): hamming 2, agree on bands 0 AND 1
      (2L, "aaaabbbb00010002"),
      (3L, "aaa8bbbb00010002"), // (2,3): h1, agree on bands 1,2,3; (1,3): h3, band1 ONLY
      (4L, "aaaa111122223333"), // fillers: band0 'aaaa' bucket = {1,2,4,5,6},
      (5L, "aaaa444455556666"), //   5 > cap 3 — oversized BEFORE the batch,
      (6L, "aaaa777788889999")  //   and the batch never lands a row in it
    ).toDF("media_id", "phash")
    // one batch asset in band1 'bbbb' (3 corpus rows → 4 > 3: crossing),
    // too far in hamming from everything to pair
    val batch = Seq((10L, "ffffbbbb12345678")).toDF("media_id", "phash")
    IncrementalMedia.buildPhashIndex(corpus, prefix = "imedia7", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpus, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    val oldSet = oldPairs.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(oldSet === Set((1L, 2L, 2L), (2L, 3L, 1L), (1L, 3L, 3L)))
    val merged = IncrementalMedia.mergeBatch(spark, batch, oldPairs,
        prefix = "imedia7", maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.hexHashPairs(corpus.unionByName(batch),
        "media_id", "phash", maxHamming = 3, maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full, s"merged $merged != full recompute $full")
    // spelled out: (1,2)'s bands are the pre-oversized 'aaaa' bucket +
    // the crossing 'bbbb' bucket → dropped; (1,3) agreed on 'bbbb'
    // alone → dropped; (2,3) survives via bands 2/3 (small buckets)
    assert(merged === Set((2L, 3L, 1L)))
  }

  test("real corpus: merge over an asset split ≡ full recompute at production caps") {
    // pHashes of the sf0.001 documents; every 9th asset arrives as
    // the batch
    val hashed = Dedup.phashChar(
      graft.GraftSession.table(spark, sf0, "documents")
        .select(col("doc_id").as("media_id"), col("text")),
      "media_id", "text", k = 4)
    val corpus = hashed.filter(col("media_id") % 9 =!= 0)
    val batch = hashed.filter(col("media_id") % 9 === 0)
    IncrementalMedia.buildPhashIndex(corpus, prefix = "imedia2", buckets = 8)
    val oldPairs = Dedup.hexHashPairs(corpus, "media_id", "phash")
    val merged = IncrementalMedia.mergeBatch(spark, batch, oldPairs,
        prefix = "imedia2")
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.hexHashPairs(hashed, "media_id", "phash")
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged === full)
  }

  test("ANSI mode: the merge evaluates clean (no silent wrap to throw)") {
    // the entry-level ANSI sweep covers SparkEntry.queries only; the
    // incremental merges' conv/bit_count/arithmetic paths get the
    // same audit here (SURVEY §5 integer-width rule)
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia6", buckets = 4)
      val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
        maxHamming = 3, maxBucket = 3)
      val merged = IncrementalMedia.mergeBatch(spark, batchHashed, oldPairs,
          prefix = "imedia6", maxBucket = 3)
        .select($"id_a", $"id_b", $"hamming".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      assert(merged === Set((1L, 2L, 1L), (7L, 12L, 1L), (13L, 14L, 1L)))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("crossingBuckets: the cluster-maintenance decision surface") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia5", buckets = 4)
    // at cap 3 the batch crosses exactly band0's 'aaaa' and 'eeee'
    // buckets (chunk = the parsed int of the 4-hex band value)
    val crossed = IncrementalMedia.crossingBuckets(spark, batchHashed,
        prefix = "imedia5", maxBucket = 3)
      .select($"bkey").as[String].collect().toSet
    assert(crossed === Set(
      s"0|${java.lang.Long.parseLong("aaaa", 16)}",
      s"0|${java.lang.Long.parseLong("eeee", 16)}"), s"crossed: $crossed")
    // at the production cap nothing crosses → the cluster artifact
    // may fold (DedupClusters.mergeBatch) instead of rebuilding
    assert(IncrementalMedia.crossingBuckets(spark, batchHashed,
      prefix = "imedia5").isEmpty)
  }

  test("merge plan: bucketed index read, census reuses the layout, no cartesian") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia3", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    // r20: the corpus probes run behind shared lineage cuts (one
    // bucketed read serving census + probes), so capture the cut
    // subplans too and assert over all of them
    spark.conf.set(Checkpoints.CapturePlansKey, "true")
    Checkpoints.clearCapturedPlans()
    val finalPlan =
      try IncrementalMedia.mergeBatch(spark, batchHashed, oldPairs,
          prefix = "imedia3", maxBucket = 3)
        .queryExecution.executedPlan.toString
      finally spark.conf.unset(Checkpoints.CapturePlansKey)
    val plan = (Checkpoints.capturedPlans :+ finalPlan).mkString("\n===\n")
    assert(plan.contains("Bucketed: true"),
      s"corpus probes must read the bucketed index:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"every stage must be equi-join shaped:\n$plan")
    val censusPlan = spark.table("imedia3_band").groupBy(col("bkey"))
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(!censusPlan.contains("Exchange hashpartitioning"),
      s"bucket-key census must reuse the bucket layout:\n$censusPlan")
  }

  test("admitBatch: crossing rebuilds clusters; the NEXT probe sees the admitted assets") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia8", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    val oldClusters = DedupClusters.connectedComponents(oldPairs, "id_a", "id_b")
    val (merged, labels) = IncrementalMedia.admitBatch(spark, batchHashed,
      oldPairs, oldClusters, prefix = "imedia8", maxBucket = 3)
    assert(merged.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 1L), (7L, 12L, 1L), (13L, 14L, 1L)))
    // 'aaaa'/'eeee' crossed → the fold is unsound ((4,5) lost its only
    // edge) and admitBatch must have REBUILT labels from merged pairs
    val truth = DedupClusters.connectedComponents(
        Dedup.hexHashPairs(corpusHashed.unionByName(batchHashed),
          "media_id", "phash", maxHamming = 3, maxBucket = 3),
        "id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(labels.as[(Long, Long)].collect().toSet === truth)
    // the NEXT probe runs against the post-admit index: asset 20 is
    // hamming-1 from ADMITTED asset 14 — invisible before the admit
    val flags = IncrementalMedia.probeBatch(spark,
        Seq((20L, "facefacecafe0003")).toDF("media_id", "phash"),
        prefix = "imedia8", maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(flags === Set((13L, 20L, 2L), (14L, 20L, 1L)),
      s"post-admit probe must pair with the admitted assets: $flags")
    // and the hot exclusion was refreshed post-append: the crossed
    // buckets are out of the servable index, the admitted rows are in
    val servable = IncrementalMedia.servableIndex(spark, "imedia8")
    assert(servable.filter(
      $"bkey" === s"0|${java.lang.Long.parseLong("aaaa", 16)}").isEmpty,
      "crossed bucket must be excluded from the servable index")
    assert(servable.filter($"media_id" === 12L).count() > 0,
      "admitted asset must be servable")
  }

  test("admitBatch: no crossing folds clusters exactly (star merge ≡ rebuild)") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia9", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash")
    val oldClusters = DedupClusters.connectedComponents(oldPairs, "id_a", "id_b")
    val (merged, labels) = IncrementalMedia.admitBatch(spark, batchHashed,
      oldPairs, oldClusters, prefix = "imedia9")
    val truthPairs = Dedup.hexHashPairs(
      corpusHashed.unionByName(batchHashed), "media_id", "phash")
    assert(merged.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet ===
      truthPairs.select($"id_a", $"id_b", $"hamming".cast("long"))
        .as[(Long, Long, Long)].collect().toSet)
    assert(labels.as[(Long, Long)].collect().toSet ===
      DedupClusters.connectedComponents(truthPairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toSet,
      "folded labels must equal a rebuild when no bucket crossed")
  }

  test("retractBatch ≡ full recompute on corpus-minus-batch, incl. un-oversize restore") {
    val union = corpusHashed.unionByName(batchHashed)
    IncrementalMedia.buildPhashIndex(union, prefix = "imedr1", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(union, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    assert(oldPairs.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 1L), (7L, 12L, 1L), (13L, 14L, 1L)))
    // retract the batch: 'eeee' drops back to 3 ≤ cap, so the
    // suppressed (4,5) pair must be RESTORED; batch pairs vanish
    val (merged, labels) = IncrementalMedia.retractBatch(spark, batchHashed,
      oldPairs, prefix = "imedr1", maxBucket = 3)
    val mergedSet = merged.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
        maxHamming = 3, maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(mergedSet === full, s"retracted $mergedSet != full recompute $full")
    assert(mergedSet === Set((1L, 2L, 1L), (4L, 5L, 3L)))
    // labels recomputed from the merged pairs
    assert(labels.as[(Long, Long)].collect().toSet ===
      DedupClusters.connectedComponents(
        Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
          maxHamming = 3, maxBucket = 3), "id_a", "id_b")
        .as[(Long, Long)].collect().toSet)
    // the live index no longer serves the batch assets
    assert(IncrementalMedia.index("media_id").live(spark, "imedr1")
      .filter($"media_id".isin(10L, 11L, 12L, 13L, 14L)).isEmpty)
  }

  test("partial retract (one asset) ≡ full recompute without it") {
    val union = corpusHashed.unionByName(batchHashed)
    IncrementalMedia.buildPhashIndex(union, prefix = "imedr2", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(union, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    // retract only asset 11: 'eeee' un-crosses (4→3) restoring (4,5);
    // 'aaaa' stays oversized (1,2,3,10 → 4 > 3)
    val (merged, _) = IncrementalMedia.retractBatch(spark,
      batchHashed.filter($"media_id" === 11L), oldPairs,
      prefix = "imedr2", maxBucket = 3)
    val remaining = corpusHashed.unionByName(
      batchHashed.filter($"media_id" =!= 11L))
    val full = Dedup.hexHashPairs(remaining, "media_id", "phash",
        maxHamming = 3, maxBucket = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet === full)
    assert(full.contains((4L, 5L, 3L)), "the un-oversize restore case is live")
  }

  test("admit∘retract round-trips; re-admit resurrects without duplicate index rows") {
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedr3", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash",
      maxHamming = 3, maxBucket = 3)
    val oldSet = oldPairs.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    val oldClusters = DedupClusters.connectedComponents(oldPairs, "id_a", "id_b")
    val (admitted, _) = IncrementalMedia.admitBatch(spark, batchHashed,
      oldPairs, oldClusters, prefix = "imedr3", maxBucket = 3)
    val (retracted, _) = IncrementalMedia.retractBatch(spark, batchHashed,
      admitted, prefix = "imedr3", maxBucket = 3)
    assert(retracted.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet === oldSet,
      "admit then retract must round-trip")
    val physN = spark.table("imedr3_band").count()
    val (readmitted, _) = IncrementalMedia.admitBatch(spark, batchHashed,
      retracted, DedupClusters.connectedComponents(retracted, "id_a", "id_b"),
      prefix = "imedr3", maxBucket = 3)
    assert(readmitted.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 2L, 1L), (7L, 12L, 1L), (13L, 14L, 1L)),
      "re-admit after retract ≡ first admit")
    assert(spark.table("imedr3_band").count() === physN,
      "resurrection must not duplicate physical index rows")
  }

  test("real corpus: retract of an asset slice ≡ full recompute at production caps") {
    val hashed = Dedup.phashChar(
      graft.GraftSession.table(spark, sf0, "documents")
        .select(col("doc_id").as("media_id"), col("text")),
      "media_id", "text", k = 4)
    IncrementalMedia.buildPhashIndex(hashed, prefix = "imedr4", buckets = 8)
    val oldPairs = Dedup.hexHashPairs(hashed, "media_id", "phash")
    val (merged, _) = IncrementalMedia.retractBatch(spark,
      hashed.filter($"media_id" % 9 === 0), oldPairs, prefix = "imedr4")
    val full = Dedup.hexHashPairs(hashed.filter($"media_id" % 9 =!= 0),
        "media_id", "phash")
      .select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged.select($"id_a", $"id_b", $"hamming".cast("long"))
      .as[(Long, Long, Long)].collect().toSet === full)
  }

  test("merged clusters: DedupClusters.mergeBatch folds the new pairs into the artifact") {
    // the downstream composition e2e_media serves from: pair merge →
    // cluster merge, no corpus re-hash anywhere. The fold is sound
    // when no bucket crossed the cap (edges only ADDED — star-edge
    // merging is exact, d9-incremental's contract); a crossing drops
    // EDGES, which star merging cannot unlink, so that path rebuilds
    // clusters from the merged PAIR table (cheap relative to
    // hashing). Here: the no-crossing fold at the production cap.
    IncrementalMedia.buildPhashIndex(corpusHashed, prefix = "imedia4", buckets = 4)
    val oldPairs = Dedup.hexHashPairs(corpusHashed, "media_id", "phash")
    val oldClusters = DedupClusters.connectedComponents(oldPairs, "id_a", "id_b")
    val newPairs = IncrementalMedia.probeBatch(spark, batchHashed,
      prefix = "imedia4")
    val folded = DedupClusters.mergeBatch(oldClusters, newPairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val truth = DedupClusters.connectedComponents(
        Dedup.hexHashPairs(corpusHashed.unionByName(batchHashed),
          "media_id", "phash"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(folded === truth, s"folded $folded != truth $truth")
    assert(truth.nonEmpty)
  }
}
