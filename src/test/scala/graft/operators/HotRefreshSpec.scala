package graft.operators

import graft.SparkSpec

/** The retraction-version subscription of the maintained `_hot`
  * exclusions (r16, judge r15 #5): a takedown landing between two
  * micro-batches flips `isStale`, the family index's `refreshHotIfStale`
  * re-censuses, and the gate's exclusion reflects the
  * post-retraction document frequencies — without waiting for the
  * next merge.
  */
class HotRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
  // trigram block B has df 3 (docs 1,2,3) at cap 2 → HOT; retracting
  // doc 3 drops it to df 2 = cap → no longer hot
  private val B = toks("hb", 5)
  private def train = Seq(
    (1L, s"$B ${toks("ha", 3)}"),
    (2L, s"$B ${toks("hc", 3)}"),
    (3L, s"$B ${toks("hd", 3)}"),
    (4L, toks("he", 6))).toDF("doc_id", "text")
  private def panel = Seq((100L, toks("hz", 5))).toDF("doc_id", "text")

  test("a mid-stream takedown flips the hot census stale; IfStale re-censuses to post-retraction dfs") {
    val prefix = "hotref_a"
    IncrementalTrigram.buildIndex(
      PipelineQueries.trigramRows(train),
      PipelineQueries.trigramRows(panel).withColumnRenamed("doc_id", "bench_id"),
      prefix = prefix, buckets = 4)
    IncrementalTrigram.Index.refreshHot(spark, prefix, 2)
    assert(!PostingIndex.isStale(spark, s"${prefix}_hot", prefix))
    val hotBefore = spark.table(s"${prefix}_hot").count()
    assert(hotBefore > 0L, "B's trigrams must be hot at df 3 > cap 2")
    // the takedown lands via the tombstone owner alone (no merge runs)
    Tombstones.retract(spark, prefix, Seq(3L).toDF("doc_id"), "doc_id")
    assert(PostingIndex.isStale(spark, s"${prefix}_hot", prefix),
      "a retract must flip the exclusion stale")
    IncrementalTrigram.Index.refreshHotIfStale(spark, prefix, 2)
    assert(!PostingIndex.isStale(spark, s"${prefix}_hot", prefix))
    assert(spark.table(s"${prefix}_hot").count() === 0L,
      "B at df 2 = cap is no longer hot after the takedown")
    // resurrection moves the version too — stale again, census back
    Tombstones.resurrect(spark, prefix, Seq(3L).toDF("doc_id"), "doc_id")
    assert(PostingIndex.isStale(spark, s"${prefix}_hot", prefix))
    IncrementalTrigram.Index.refreshHotIfStale(spark, prefix, 2)
    assert(spark.table(s"${prefix}_hot").count() === hotBefore)
    // quiescent stream: repeated IfStale checks stay cheap no-ops
    IncrementalTrigram.Index.refreshHotIfStale(spark, prefix, 2)
    assert(!PostingIndex.isStale(spark, s"${prefix}_hot", prefix))
  }

  test("isStale is true for a missing or unstamped hot table") {
    assert(PostingIndex.isStale(spark, "hotref_none_hot", "hotref_none"))
    val prefix = "hotref_b"
    graft.sources.Bucketing.writeBucketed(
      Seq("x").toDF("h"), s"${prefix}_hot", "h", 2)
    assert(PostingIndex.isStale(spark, s"${prefix}_hot", prefix),
      "an unstamped census (pre-r16 layout) must read as stale")
  }
}
