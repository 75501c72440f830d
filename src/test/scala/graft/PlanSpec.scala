package graft

import graft.operators.{LlmQueries, Relational}

/** Plan-shape guards: the properties that matter at 100 TB must be
  * visible in the physical plan, not assumed (SURVEY.md §4/§6).
  */
class PlanSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: filter and projection are pushed into the parquet scan") {
    val plan = executed(Relational.q1Agg(spark, sf0))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "filter must reach the scan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"unused columns must be pruned: $readSchema")
  }

  test("q5: every dimension join is broadcast, fact side never shuffles for joins") {
    val plan = executed(Relational.q5BroadcastJoin(spark, sf0))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("q1: aggregation is partial (map-side combine before shuffle)") {
    val plan = executed(Relational.q1Agg(spark, sf0))
    assert(plan.contains("HashAggregate"))
    assert("partial".r.findFirstIn(plan.toLowerCase).isDefined,
      "expect partial aggregation below the exchange")
  }

  test("knn: query side is broadcast, corpus is not shuffled pre-topk") {
    val e = GraftSession.table(spark, sf0, "embeddings")
    val plan = executed(operators.Similarity.bruteKnn(
      e, e.filter(org.apache.spark.sql.functions.col("vec_id") < 4),
      "vec_id", "embedding", 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    assert(plan.contains("arraydotproduct"), "native dot product expression in plan")
  }

  test("t1: scan reads only doc_id and text") {
    val plan = executed(LlmQueries.t1Tokens(spark, sf0))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unused document columns must be pruned: $readSchema")
  }

  test("range join: equi-join on (key, bucket), never a nested-loop over the range") {
    val plan = executed(operators.Extended.qRangeJoin(spark, sf0))
    assert(!plan.contains("NestedLoopJoin"),
      "range join must run as an equi-join on the bucket key")
    assert(plan.contains("__bkt"), "candidate-bucket key must drive the join")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type"),
      "event-type filters must reach the scan")
  }

  test("the per-source running-sum/rank family never materializes an unbounded per-source window") {
    // t5/t9/p5/m4/p12 + e2e_media's shard stage all need full
    // prefix-sums or ranks per `source` — a LOW-cardinality,
    // skew-guaranteed key: the naive window shape is one reducer
    // sorting the dominant crawl source at 100 TB. All six must run
    // as the distributed prefix-sum: the only Window allowed to
    // partition on raw `source` is the offsets window over the
    // bounded (source, bucket) census (PlanShape exempts windows
    // with an aggregate below), and the bucket column must drive the
    // heavy scan.
    val entries = Seq(
      "t5_packing" -> operators.Extended.t5Packing(spark, sf0),
      "t9_quantile_filter" -> operators.PipelineQueries.t9QuantileFilter(spark, sf0),
      "p5_budget_select" -> operators.PipelineQueries.p5BudgetSelect(spark, sf0),
      "m4_shard_plan" -> LlmQueries.m4ShardPlan(spark, sf0),
      "p12_gini" -> operators.PipelineQueries.p12Gini(spark, sf0),
      "e2e_media" -> LlmQueries.e2eMedia(spark, sf0),
      "e2e_curation" -> operators.PipelineQueries.e2eCuration(spark, sf0))
    entries.foreach { case (name, df) =>
      val plan = executed(df)
      val bad = PlanShape.unboundedWindowsOn(plan, "source")
      assert(bad.isEmpty,
        s"$name: unbounded per-source window(s) over raw rows:\n${bad.mkString("\n")}")
      assert(plan.contains("__psb"),
        s"$name: the prefix-sum bucket must drive the heavy window")
    }
  }

  test("chunking and frame sampling are shuffle-free fan-outs (no hash exchange)") {
    // t11/m3 claim Generate/flatMap fan-out with zero shuffles before
    // the presentation sort — a hash exchange here would mean the
    // fan-out rows are being moved instead of produced in place
    val chunkPlan = executed(operators.CorpusQueries.t11Chunk(spark, sf0))
    assert(!chunkPlan.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n${chunkPlan.take(1500)}")
    val framePlan = executed(LlmQueries.m3FrameSample(spark, sf0))
    // m3's rollup aggregates per id — partial agg before its exchange
    assert(framePlan.contains("partial"),
      "frame rollup must partial-aggregate map-side")
  }

  test("t12: single corpus scan (window-sum corpus counts, no branch re-scan)") {
    val plan = executed(operators.CorpusQueries.t12UnigramLogprob(spark, sf0))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"unigram scoring must scan the corpus once, got $scans")
  }

  test("d4/d7 candidates: equi-join key includes the id-gap block, never source alone") {
    // the gap predicate must NOT be a residual over all same-source
    // pairs — the block column has to drive the shuffle (quadratic-
    // per-source enumeration otherwise, the round-2 scale-killer)
    Seq(LlmQueries.d4NgramJaccard(spark, sf0),
        operators.Extended.d7EditDist(spark, sf0)).foreach { df =>
      val plan = executed(df)
      assert(plan.contains("__blk"), "id-block must be part of the join key")
      assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
        "candidate join must stay an equi-join")
    }
  }

  test("d5/s11: governed near-dup/knn plans are bucket-join shaped, not all-pairs") {
    Seq(LlmQueries.d5EmbedNeardup(spark, sf0),
        LlmQueries.s11KnnGraph(spark, sf0)).foreach { df =>
      val plan = executed(df)
      assert(!plan.contains("CartesianProduct"),
        "must be bucket-join shaped, not all-pairs")
      // the only nested-loop allowed is the governance's 1-row
      // corpus-count broadcast (the engine's 1-row-totals crossJoin
      // discipline) — never a row-pair loop
      val nlj = plan.linesIterator.filter(_.contains("NestedLoopJoin")).toSeq
      assert(nlj.forall(l =>
        l.contains("BroadcastNestedLoopJoin") && l.contains("Cross")),
        s"only the broadcast 1-row count join may nested-loop: $nlj")
      assert(plan.contains("arraydotproduct"),
        "exact verify uses the native dot product")
    }
  }

  test("ivf search: no cartesian, two-phase top-k inside probed cells") {
    val plan = executed(LlmQueries.s3KnnIvf(spark, sf0))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "cell-id equi-join only")
    assert(plan.contains("WindowGroupLimit"), "rerank must be a two-phase top-k")
    assert(plan.contains("arraydotproduct"), "assignment/rerank use the native dot product")
  }

  test("e2e curation: composed pipeline stays equi-join + partial-agg shaped") {
    val plan = executed(operators.PipelineQueries.e2eCuration(spark, sf0))
    assert(!plan.contains("CartesianProduct"),
      "dedup semi-join must stay an equi-join")
    // the ONLY nested-loop allowed is the prefix-sum's 1-row bounds
    // frame (the engine's 1-row-totals crossJoin discipline) — a
    // broadcast of a global min/max aggregate, never a row-pair loop
    val nlj = plan.linesIterator.filter(_.contains("NestedLoopJoin")).toSeq
    assert(nlj.forall(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("Cross")),
      s"only the broadcast 1-row bounds join may nested-loop: $nlj")
    // the bounds-tagged frame feeds the census AND the scan branch,
    // so the 1-row join prints once per branch pre-AQE
    assert(nlj.size <= 2, s"only the bounds join may nested-loop: $nlj")
    assert("partial".r.findFirstIn(plan.toLowerCase).isDefined,
      "rollup must partial-aggregate map-side")
  }

  test("p4 domain cap: rank filter plans as two-phase WindowGroupLimit") {
    val plan = executed(operators.PipelineQueries.p4DomainCap(spark, sf0))
    assert(plan.contains("WindowGroupLimit"),
      "per-domain cap must top-k partial before the source shuffle, not sort whole domains")
  }

  test("upsert: one key shuffle, latest-wins window is group-limited") {
    val plan = executed(operators.Upsert.qUpsert(spark, sf0))
    assert(plan.contains("WindowGroupLimit"),
      "latest-wins row_number must keep one row per key map-side")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"))
  }

  test("q_sequence_gaps heavy stage: no Window, no global Sort over the keys") {
    // the guard inspects the tagged stage directly — isolating the
    // heavy range-partitioned scan from the tiny output-presentation
    // sort and boundary-fixup union the composed plan adds on top
    // (the next test covers the composed shape)
    val keys = GraftSession.table(spark, sf0, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey"))
    val plan = executed(operators.SequenceGaps.taggedScan(keys, "l_orderkey", 8))
    assert(!plan.contains("Window"),
      "scan stage must not window (a global ORDER-BY window funnels all keys into one task)")
    val globalSorts = plan.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true")).toSeq
    assert(globalSorts.isEmpty,
      s"keys must only be sorted WITHIN range partitions, got: $globalSorts")
    assert(plan.contains("rangepartitioning"),
      "one range-partition exchange must drive the scan")
  }

  test("q_sequence_gaps composed plan: window-free, global sort only over output gaps") {
    val df = operators.Extended.qSequenceGaps(spark, sf0)
    val plan = executed(df)
    assert(!plan.contains("Window"))
    val globalSorts = plan.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true")).toSeq
    assert(globalSorts.nonEmpty && globalSorts.forall(_.contains("gap_start")),
      s"only the output-bound presentation sort may be global, got: $globalSorts")
    // the gap branch and the boundary-summary branch must share ONE
    // key shuffle — AQE rewrites the second branch's exchange into a
    // ReusedExchange once stages materialize
    df.collect()
    assert(executed(df).contains("ReusedExchange"),
      "keys must be range-shuffled once, with the summary branch reusing the exchange")
  }

  test("q_lateral: decorrelated top-k runs as WindowGroupLimit, no global sort of the inner table") {
    val plan = executed(Relational.qLateral(spark, sf0))
    assert(plan.contains("WindowGroupLimit"),
      "lateral ORDER BY+LIMIT must plan as a two-phase per-key top-k")
    val globalSorts = plan.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true")).toSeq
    assert(globalSorts.forall(_.contains("n_name")),
      s"only the presentation sort may be global, got: $globalSorts")
  }

  test("d2 minhash: signatures collapse map-side (partial min before the doc shuffle)") {
    val plan = executed(LlmQueries.d2MinhashLsh(spark, sf0))
    assert(plan.contains("partial_min"),
      "per-doc minhash mins must partial-aggregate before the shuffle " +
        "(the shuffle must carry ~docs rows, not shingles)")
  }

  test("d11 passage dedup: window-hash equi-join, no cartesian anywhere") {
    // the artifact BUILD (one run per corpus version) carries the
    // pipeline contract...
    val build = executed(operators.PipelineQueries.passagePairPipeline(spark, sf0))
    assert(!build.contains("CartesianProduct") && !build.contains("NestedLoopJoin"),
      "doc pairs must come from the shared-window equi-join")
    assert(build.contains("partial_count"),
      "shared-window counts must partial-aggregate map-side")
    // ...and SERVING the entries re-hashes nothing: both plans read
    // the materialized pair table (no Generate = no window explode)
    Seq(operators.PipelineQueries.d11PassageDedup(spark, sf0),
        operators.PipelineQueries.d20SourceOverlap(spark, sf0)).foreach { df =>
      val serve = executed(df)
      assert(!serve.contains("Generate"),
        s"serving must read the passage-pair artifact:\n$serve")
    }
  }

  test("d24/d25 serve the maximal-repeat artifact; only the scrub tokenizes") {
    // warm the artifact, then: d24's serving plan is a scan (no
    // Generate = no window explode, no self-join); d25 additionally
    // tokenizes the corpus for the cut (one Generate-free narrow map
    // + the islands exchange) but never re-runs the repeat derivation
    operators.PipelineQueries.d24ExactSubstr(spark, sf0).count()
    val serve24 = executed(operators.PipelineQueries.d24ExactSubstr(spark, sf0))
    assert(!serve24.contains("Generate"),
      s"d24 serving must read the repeat artifact:\n$serve24")
    val serve25 = executed(operators.PipelineQueries.d25SubstrScrub(spark, sf0))
    assert(!serve25.contains("posexplode") && !serve25.contains("SortMergeJoin"),
      s"d25 must not re-derive repeats (no window explode/self-join):\n$serve25")
  }

  test("d8/d23 serve the contamination-pair artifact (no shingle explode)") {
    operators.PipelineQueries.d8Contamination(spark, sf0).count()
    Seq(operators.PipelineQueries.d8Contamination(spark, sf0),
        operators.PipelineQueries.d23TrigramDecontam(spark, sf0)).foreach { df =>
      val serve = executed(df)
      assert(!serve.contains("Generate"),
        s"serving must read the contamination-pair artifact:\n$serve")
    }
  }

  test("s2/s10 serve the corpus SRP bucket tables from materialized artifacts") {
    // warm both indexes, then the serving plans must scan the landed
    // GOVERNED tables (path prefixes srpg_/srpmg_) instead of
    // re-running the plane bucket assignment (+ the MIPS max-norm agg
    // + the width-deriving count) over all embeddings per query run
    LlmQueries.s2KnnLsh(spark, sf0).count()
    LlmQueries.s10Mips(spark, sf0).count()
    val s2 = executed(LlmQueries.s2KnnLsh(spark, sf0))
    assert(s2.contains("srpg_"),
      s"s2 must read the governed SRP bucket artifact:\n${s2.take(2000)}")
    val s10 = executed(LlmQueries.s10Mips(spark, sf0))
    assert(s10.contains("srpmg_"),
      s"s10 must read the governed MIPS bucket artifact:\n${s10.take(2000)}")
    assert(!s10.contains("max("),
      "serving MIPS must not recompute the corpus max-norm agg")
    // the stamped width comes from a 1-row limit read of the
    // artifact, not a re-count of the corpus
    assert(!s2.contains("count(") && !s10.contains("count("),
      "serving must not re-derive the hash width from a corpus count")
  }

  test("d17 serves its fused corpus pass from the materialized artifact") {
    // warm the artifact, then the serving plan must scan it (path
    // prefix `shsig16_`) instead of re-running the shingle + minhash
    // aggregation over the corpus
    operators.LlmQueries.d17MinhashError(spark, sf0).count()
    val serve = executed(operators.LlmQueries.d17MinhashError(spark, sf0))
    assert(serve.contains("shsig16_"),
      s"d17 must read the shingle/signature artifact:\n${serve.take(2000)}")
  }

  test("array_dot is callable from SQL via GraftExtensions") {
    val v = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(v === 32.0)
  }

  test("p9 skew census: heavy hitters via TakeOrdered, never a global sort of the key histogram") {
    val plan = executed(operators.PipelineQueries.p9SkewCensus(spark, sf0))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must run as distributed TakeOrdered (per-partition heaps)")
    // the only Sort allowed is over the 10-row top-k result (window +
    // final orderBy), never the pre-limit key histogram: the sort
    // operators must all sit ABOVE the TakeOrdered in the plan text
    val firstSort = plan.indexOf("Sort ")
    val takeOrdered = plan.indexOf("TakeOrderedAndProject")
    assert(firstSort == -1 || firstSort < takeOrdered,
      "no global Sort may feed the limit")
  }
}
