package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed prefix-sum kernel must be VALUE-IDENTICAL to the
  * naive unbounded window it replaces (bucket boundaries affect only
  * parallelism), across ties, skew, tiny fan-outs, tie sub-splits and
  * pathological value distributions — the five re-shaped entries'
  * hash-exactness rides on this. The DISTRIBUTION tests pin the
  * equi-depth property itself: a constant-score source and a
  * heavy-tailed length column must spread over many buckets (the
  * equi-width form collapsed both onto one reducer).
  */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  // skewed: key "hot" holds 180 of 200 rows; values include ties on
  // the bucket source (v) broken by id; tok has zeros and repeats
  private def data = {
    val rows = (1 to 180).map(i => ("hot", i.toLong, (i % 13).toLong, (i % 7).toLong)) ++
      (1 to 12).map(i => ("s2", (1000 + i).toLong, (i % 3).toLong, i.toLong)) ++
      (1 to 8).map(i => ("s3", (2000 + i).toLong, 5L, 2L))
    rows.toDF("src", "id", "v", "tok")
  }

  private def naiveCum = {
    val w = Window.partitionBy($"src").orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    data.withColumn("cum", sum($"tok").over(w))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
  }

  private def naiveRank = {
    val w = Window.partitionBy($"src").orderBy($"v", $"id")
    data.withColumn("rk", row_number().over(w).cast("long"))
      .select($"src", $"id", $"rk").as[(String, Long, Long)].collect().toSet
  }

  test("running ≡ naive unbounded window across fan-out floors, with and without tie sub-split") {
    for (buckets <- Seq(1, 3, 16, 256); tie <- Seq(None, Some($"id"))) {
      val got = PrefixSum.running(data, Seq("src"), Seq($"v", $"id"),
          bucketOn = $"v", value = $"tok", out = "cum", buckets = buckets,
          tieBreakOn = tie)
        .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
      assert(got === naiveCum,
        s"buckets=$buckets tie=${tie.isDefined} diverged from the naive window")
    }
  }

  test("rank ≡ naive row_number over the tie-free ordering") {
    val got = PrefixSum.rank(data, Seq("src"), Seq($"v", $"id"),
        bucketOn = $"v", out = "rk", buckets = 5, tieBreakOn = Some($"id"))
      .select($"src", $"id", $"rk").as[(String, Long, Long)].collect().toSet
    assert(got === naiveRank)
  }

  test("descending order via a negated bucket source ≡ naive desc window") {
    val w = Window.partitionBy($"src").orderBy($"v".desc, $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = data.withColumn("cum", sum($"tok").over(w))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
    val got = PrefixSum.running(data, Seq("src"), Seq($"v".desc, $"id"),
        bucketOn = -$"v", value = $"tok", out = "cum", buckets = 7,
        tieBreakOn = Some($"id"))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("constant bucket source: exact AND spread across buckets by the tie sub-split") {
    // the t9/p5 pathology: a template source whose docs all score the
    // SAME value — every row ties at every boundary
    val const = (1 to 400).map(i => ("tpl", i.toLong, 7L, (i % 5).toLong))
      .toDF("src", "id", "v", "tok")
    val w = Window.partitionBy($"src").orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = const.withColumn("cum", sum($"tok").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    val got = PrefixSum.running(const, Seq("src"), Seq($"v", $"id"),
        bucketOn = $"v", value = $"tok", out = "cum", buckets = 16,
        tieBreakOn = Some($"id"))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    assert(got === want)
    // distribution: without the sub-split everything lands in ONE
    // bucket; with it the 400 ties spread over most of the fan-out
    val spread = PrefixSum.taggedBuckets(const, $"v", Some($"id"), 16,
        PrefixSum.DefaultTargetRowsPerBucket)
      .select(countDistinct($"__psb")).head().getLong(0)
    assert(spread >= 8, s"constant-value ties must sub-split, got $spread buckets")
    val collapsed = PrefixSum.taggedBuckets(const, $"v", None, 16,
        PrefixSum.DefaultTargetRowsPerBucket)
      .select(countDistinct($"__psb")).head().getLong(0)
    assert(collapsed === 1L)
  }

  test("heavy-tailed bucket source: exact AND equi-depth keeps the bulk spread") {
    // the p12 pathology: one huge outlier stretches the value range so
    // equi-width ranges put ~all rows in bucket 0; quantile boundaries
    // follow row mass instead
    val zipf = ((1 to 500).map(i => ("web", i.toLong, (50 + i % 200).toLong, 1L)) :+
      (("web", 9999L, 100000000L, 1L)))
      .toDF("src", "id", "v", "tok")
    val w = Window.partitionBy($"src").orderBy($"v", $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = zipf.withColumn("cum", sum($"tok").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    val got = PrefixSum.running(zipf, Seq("src"), Seq($"v", $"id"),
        bucketOn = $"v", value = $"tok", out = "cum", buckets = 16,
        tieBreakOn = Some($"id"))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    assert(got === want)
    val spread = PrefixSum.taggedBuckets(zipf, $"v", Some($"id"), 16,
        PrefixSum.DefaultTargetRowsPerBucket)
      .select(countDistinct($"__psb")).head().getLong(0)
    assert(spread >= 8, s"heavy-tailed values must stay spread, got $spread buckets")
  }

  test("fan-out auto-scales with row count past the floor, values unchanged") {
    val grown = (1 to 2000).map(i => ("s", i.toLong, (i % 50).toLong, 1L))
      .toDF("src", "id", "v", "tok")
    // floor 4, target 100 rows/bucket → effective fan-out ≈ 20
    val tagged = PrefixSum.taggedBuckets(grown, $"id", None, 4, 100L)
    val spread = tagged.select(countDistinct($"__psb")).head().getLong(0)
    assert(spread > 4, s"fan-out must grow past the floor, got $spread")
    val perBucket = tagged.groupBy($"__psb").count()
      .select(max($"count")).head().getLong(0)
    assert(perBucket <= 300, s"per-bucket mass must stay near target, got $perBucket")
    val w = Window.partitionBy($"src").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = grown.withColumn("cum", sum($"tok").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    val got = PrefixSum.running(grown, Seq("src"), Seq($"id"),
        bucketOn = $"id", value = $"tok", out = "cum", buckets = 4,
        targetRowsPerBucket = 100L)
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("rank under an auto-sized fan-out on ONE source sums to n(n+1)/2") {
    val n = 3000L
    val one = spark.range(n).select(lit("hot").as("src"), $"id", ($"id" % 7).as("v"))
    val rk = PrefixSum.rank(one, Seq("src"), Seq($"v", $"id"), bucketOn = $"v",
        out = "rk", buckets = 4, targetRowsPerBucket = 100L, tieBreakOn = Some($"id"))
    assert(rk.agg(sum($"rk")).head().getLong(0) === n * (n + 1) / 2)
    assert(rk.agg(countDistinct($"rk")).head().getLong(0) === n)
  }

  test("degenerate range (all rows one bucket value, no tie-break) still matches") {
    val one = Seq(("a", 1L, 2L), ("a", 2L, 3L), ("a", 3L, 5L)).toDF("src", "id", "tok")
    val w = Window.partitionBy($"src").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = one.withColumn("cum", sum($"tok").over(w))
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    val got = PrefixSum.running(one, Seq("src"), Seq($"id"),
        bucketOn = lit(7), value = $"tok", out = "cum", buckets = 64)
      .select($"id", $"cum").as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("null/NaN bucketOn fails loudly — a silent clamp would corrupt every prefix") {
    // NaN sorts GREATEST (first under DESC, last under ASC) but a
    // clamp always lands it in the LAST bucket: order alignment
    // breaks in the DESC case, so the kernel refuses raw NaN/null
    val withNaN = Seq(("a", 1L, 1.0, 2L), ("a", 2L, Double.NaN, 3L))
      .toDF("src", "id", "q", "tok")
    val e = intercept[Exception] {
      PrefixSum.running(withNaN, Seq("src"), Seq($"q".desc, $"id"),
        bucketOn = -$"q", value = $"tok", out = "cum", buckets = 8).collect()
    }
    assert(e.getMessage.contains("bucketOn is null or NaN"))
  }

  test("an explicitly mapped NaN image stays aligned with the DESC ordering") {
    // the p5 pattern: NaN-first under q DESC → image BELOW the range;
    // must equal the naive window, which handles NaN natively
    val withNaN = Seq(
      ("a", 1L, 0.9, 2L), ("a", 2L, Double.NaN, 3L), ("a", 3L, 0.1, 5L),
      ("a", 4L, 0.9, 7L), ("b", 5L, Double.NaN, 11L))
      .toDF("src", "id", "q", "tok")
    val w = Window.partitionBy($"src").orderBy($"q".desc, $"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = withNaN.withColumn("cum", sum($"tok").over(w))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
    val got = PrefixSum.running(withNaN, Seq("src"), Seq($"q".desc, $"id"),
        bucketOn = when(isnan($"q"), lit(-2.0)).otherwise(-$"q"),
        value = $"tok", out = "cum", buckets = 8, tieBreakOn = Some($"id"))
      .select($"src", $"id", $"cum").as[(String, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("the heavy window partitions by (key, bucket); only the census window sees the raw key") {
    val plan = PrefixSum.running(data, Seq("src"), Seq($"v", $"id"),
        bucketOn = $"v", value = $"tok", out = "cum", buckets = 16)
      .queryExecution.executedPlan.toString
    assert(graft.PlanShape.unboundedWindowsOn(plan, "src").isEmpty,
      s"no unbounded per-key window may touch the raw rows:\n$plan")
    assert(plan.contains("__psb"), "the bucket must drive the heavy window")
  }
}
