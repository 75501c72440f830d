package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The lifecycle core reads every append / compact bucket count from
  * the index's catalog bucket spec, for every posting family: an index
  * built with a non-default count keeps it through admit, retract and
  * compact, and the bucket-key census stays exchange-free.
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

  test("trigram and exact-substr indexes keep 4 buckets through admit, retract and compact") {
    val corpus = Seq((1L, toks("m", 12)), (2L, toks("n", 12))).toDF("doc_id", "text")
    val batch = Seq((10L, toks("q", 12))).toDF("doc_id", "text")
    val gone = corpus.filter($"doc_id" === 1L)

    val t = "pidx_tri"
    val panel = PipelineQueries.trigramRows(Seq((100L, toks("q", 12))).toDF("doc_id", "text"))
      .withColumnRenamed("doc_id", "bench_id")
    IncrementalTrigram.buildIndex(PipelineQueries.trigramRows(corpus), panel,
      prefix = t, buckets = 4)
    val tPairs = PipelineQueries.pairsFromTrigramRows(PipelineQueries.trigramRows(corpus),
      panel, maxDf = 3, minShared = 1)
    val tAdmitted = IncrementalTrigram.admitBatch(spark, PipelineQueries.trigramRows(batch),
      tPairs, prefix = t, cap = 3, minShared = 1)
    IncrementalTrigram.retractBatch(spark, PipelineQueries.trigramRows(gone), tAdmitted,
      prefix = t, cap = 3, minShared = 1)
    IncrementalTrigram.compact(spark, t)

    val x = "pidx_substr"
    def tk(d: org.apache.spark.sql.DataFrame) =
      d.select($"doc_id", graft.functions.TextFunctions.wsTokens($"text").as("tk"))
    def wins(d: org.apache.spark.sql.DataFrame) = ExactSubstr.windowPositions(tk(d))
    IncrementalExactSubstr.buildIndexes(wins(corpus), prefix = x, buckets = 4)
    val xAdmitted = IncrementalExactSubstr.admitBatch(spark, wins(batch),
      ExactSubstr.maximalRepeats(tk(corpus), cap = 3),
      prefix = x, cap = 3)
    IncrementalExactSubstr.retractBatch(spark, wins(gone), xAdmitted, prefix = x, cap = 3)
    IncrementalExactSubstr.compact(spark, x)

    Seq(t, x).foreach(p =>
      assert(!spark.catalog.tableExists(s"${p}_gone"), "compact truncates the history"))
    assert(spark.table(s"${t}_tri").filter($"doc_id" === 1L).isEmpty)
    assert(!spark.table(s"${t}_tri").filter($"doc_id" === 10L).isEmpty)
    assert(spark.table(s"${x}_wdoc").filter($"doc_id" === 1L).isEmpty)
    assert(!spark.table(s"${x}_wdoc").filter($"doc_id" === 10L).isEmpty)
    Seq(s"${t}_tri" -> "h", s"${t}_panel" -> "h", s"${x}_wpos" -> "h",
        s"${x}_wdoc" -> "doc_id").foreach { case (tb, k) =>
      assert(numBuckets(tb) === 4, s"$tb must keep its build-time bucket count")
      assertCensusExchangeFree(tb, k)
    }
    Seq(s"${t}_hot", s"${x}_hot").foreach(tb =>
      assert(numBuckets(tb) === PostingIndex.HotBuckets))
  }
}
