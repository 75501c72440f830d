package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The lifecycle core — and the d10 dedup and dfstats families, which
  * append their own rows — read every append / compact bucket count
  * from the index's catalog bucket spec: an index built with a
  * non-default count keeps it through admit, retract and compact, and
  * the bucket-key census stays exchange-free.
  */
class PostingIndexSpec extends SparkSpec {
  import spark.implicits._

  private def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")

  private def numBuckets(table: String): Int =
    spark.sql(s"DESCRIBE EXTENDED $table").collect()
      .find(_.getString(0) == "Num Buckets").map(_.getString(1).trim.toInt)
      .getOrElse(fail(s"$table reports no bucket spec"))

  private def assertCensusExchangeFree(table: String, key: String): Unit = {
    val plan = spark.table(table).groupBy(col(key)).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket-key census over $table must reuse the bucket layout:\n$plan")
  }

  test("admit, retract and compact keep a 4-bucket index at 4 buckets") {
    val p = "pidx_pass"
    val corpus = Seq((1L, s"${toks("a", 12)} ${toks("s", 9)}"),
      (2L, s"${toks("a", 12)} ${toks("t", 9)}"), (3L, toks("b", 20)))
      .toDF("doc_id", "text")
    val batch = Seq((10L, s"${toks("a", 12)} ${toks("u", 9)}"))
      .toDF("doc_id", "text")
    val corpusWins = IncrementalPassages.windowHashes(corpus)
    IncrementalPassages.buildWindowIndex(corpusWins, prefix = p, buckets = 4)
    val pairs = IncrementalPassages.pairsFromWindows(corpusWins, cap = 3)
    val batchWins = IncrementalPassages.windowHashes(batch)
    val admitted = IncrementalPassages.admitBatch(spark, batchWins, pairs,
      prefix = p, cap = 3)
    IncrementalPassages.retractBatch(spark, batchWins, admitted, prefix = p, cap = 3)
    IncrementalPassages.compact(spark, p)

    val m = "pidx_media"
    val hashed = Seq((1L, "aaaabbbb00000000"), (2L, "aaaabbbb00000001"),
      (3L, "eeee000000000000")).toDF("media_id", "phash")
    val batchHashed = Seq((10L, "aaaabbbb00000003")).toDF("media_id", "phash")
    IncrementalMedia.buildPhashIndex(hashed, prefix = m, buckets = 4)
    val mPairs = Dedup.hexHashPairs(hashed, "media_id", "phash")
    val (mAdmitted, _) = IncrementalMedia.admitBatch(spark, batchHashed, mPairs,
      DedupClusters.connectedComponents(mPairs, "id_a", "id_b"), prefix = m)
    IncrementalMedia.retractBatch(spark, batchHashed, mAdmitted, prefix = m)
    IncrementalMedia.compact(spark, m)

    assert(!spark.catalog.tableExists(s"${p}_gone") &&
      !spark.catalog.tableExists(s"${m}_gone"), "compact truncates the history")
    assert(spark.table(s"${p}_win").filter($"doc_id" === 10L).isEmpty)
    assert(spark.table(s"${m}_band").filter($"media_id" === 10L).isEmpty)
    Seq(s"${p}_win" -> "h", s"${m}_band" -> "bkey").foreach { case (t, k) =>
      assert(numBuckets(t) === 4, s"$t must keep its build-time bucket count")
      assertCensusExchangeFree(t, k)
    }
    Seq(s"${p}_hot", s"${m}_hot").foreach(t =>
      assert(numBuckets(t) === PostingIndex.HotBuckets))
  }

  test("d10 dedup and dfstats indexes keep 4 buckets through admit, retract and compact") {
    val corpus = Seq((1L, toks("m", 12)), (2L, toks("n", 12))).toDF("doc_id", "text")
    val batch = Seq((10L, toks("q", 12))).toDF("doc_id", "text")

    val d = "pidx_dedup"
    IncrementalDedup.buildIndexes(corpus, buckets = 4, prefix = d)
    val verdicts = IncrementalDedup.probeBatch(spark, corpus, batch, prefix = d)
    IncrementalDedup.admitBatch(spark, batch, verdicts, prefix = d)
    IncrementalDedup.retractBatch(spark, Seq(1L).toDF("doc_id"), prefix = d)
    IncrementalDedup.compact(spark, d)

    val s = "pidx_dfstats"
    IncrementalDfStats.buildIndex(corpus, prefix = s, buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = s)
    IncrementalDfStats.retractBatch(spark, batch, prefix = s)
    IncrementalDfStats.compact(spark, s)

    assert(!spark.catalog.tableExists(s"${d}_gone"), "compact truncates the history")
    assert(spark.table(s"${d}_fp").filter($"id_b" === 1L).isEmpty)
    assert(!spark.table(s"${d}_fp").filter($"id_b" === 10L).isEmpty)
    assert(IncrementalDfStats.dfStats(spark, s).filter($"term" === "q1").isEmpty)
    assert(IncrementalDfStats.totals(spark, s).as[(Long, Long)].head() === ((2L, 24L)))
    Seq(s"${d}_fp" -> "fp", s"${d}_bands" -> "bkey", s"${s}_df" -> "term",
        s"${s}_docs" -> "doc_id").foreach { case (t, k) =>
      assert(numBuckets(t) === 4, s"$t must keep its build-time bucket count")
      assertCensusExchangeFree(t, k)
    }
  }
}
