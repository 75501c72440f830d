package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incrementally maintained df/avgdl statistics (SURVEY §2.5
  * t7/t24-incremental): admitted batches must fold EXACTLY — the
  * maintained (term, df) + (n_docs, sum_dl) equal a full recompute
  * over the union corpus, tf-idf served from the maintained tables
  * equals t7's from-scratch scores, replays are absorbed, retracts
  * reverse admits exactly (≡ recompute on corpus-minus-batch, and
  * admit∘retract∘admit round-trips), compaction changes layout only,
  * and the lease serializes operations — compact cannot run across a
  * mid-retry admit.
  */
class IncrementalDfStatsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma"),
    (2L, "alpha alpha delta"),
    (3L, "beta beta beta"),
    (4L, "")).toDF("doc_id", "text")

  private def batch = Seq(
    (10L, "alpha epsilon"),
    (11L, "epsilon epsilon beta gamma")).toDF("doc_id", "text")

  private def fullDf(docs: org.apache.spark.sql.DataFrame) =
    docs.select($"doc_id",
        explode(graft.functions.TextFunctions.wsTokens($"text")).as("term"))
      .distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toSet

  private def fullTotals(docs: org.apache.spark.sql.DataFrame) =
    docs.select(size(graft.functions.TextFunctions.wsTokens($"text"))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      .as[(Long, Long)].head()

  private def servedDf(prefix: String) =
    IncrementalDfStats.dfStats(spark, prefix).as[(String, Long)].collect().toSet

  private def servedTot(prefix: String) =
    IncrementalDfStats.totals(spark, prefix).as[(Long, Long)].head()

  test("admitBatch folds df and totals exactly (empty docs count toward n_docs)") {
    IncrementalDfStats.buildIndex(corpus, prefix = "idf1", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf1")
    val union = corpus.unionByName(batch)
    assert(servedDf("idf1") === fullDf(union))
    assert(servedTot("idf1") === fullTotals(union))
  }

  test("tf-idf served from the maintained stats ≡ t7's from-scratch scores") {
    val dir = tmpDir(s"idfstats_${System.nanoTime()}")
    corpus.unionByName(batch).filter($"doc_id" =!= 4L)
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    IncrementalDfStats.buildIndex(corpus.filter($"doc_id" =!= 4L),
      prefix = "idf2", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf2")
    val served = IncrementalDfStats.tfidfTop5(spark,
        spark.read.parquet(dir + "/documents.parquet"), prefix = "idf2")
      .as[(Long, Long, String, Long, Long, Double)].collect().toSet
    val scratch = PipelineQueries.t7Tfidf(spark, dir)
      .as[(Long, Long, String, Long, Long, Double)].collect().toSet
    assert(served === scratch,
      s"served-from-stats scores must equal the entry's: ${served.diff(scratch)}")
  }

  test("a REPLAYED admitBatch is absorbed (stats unchanged)") {
    IncrementalDfStats.buildIndex(corpus, prefix = "idf3", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf3")
    val df1 = servedDf("idf3")
    val tot1 = servedTot("idf3")
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf3")
    assert(servedDf("idf3") === df1)
    assert(servedTot("idf3") === tot1)
    // a PARTIALLY new batch admits only its fresh docs
    val overlap = batch.unionByName(Seq((12L, "zeta")).toDF("doc_id", "text"))
    IncrementalDfStats.admitBatch(spark, overlap, prefix = "idf3")
    val union = corpus.unionByName(batch)
      .unionByName(Seq((12L, "zeta")).toDF("doc_id", "text"))
    assert(servedDf("idf3") === fullDf(union))
  }

  test("crash between the three appends heals on retry without double-counting") {
    // the admit lands _docs → _df → _tot, each lacks()-guarded; the
    // two REACHABLE crash states (the ordering makes df-before-docs
    // impossible) are simulated by erasing the trailing tables'
    // batch rows after a successful admit, then retrying
    IncrementalDfStats.buildIndex(corpus, prefix = "idf6", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf6")
    val wantDf = servedDf("idf6")
    val wantTot = servedTot("idf6")
    val bid = spark.table("idf6_docs").filter($"batch_id" =!= "corpus")
      .select($"batch_id").distinct().as[String].head()

    def eraseTot(): Unit = {
      val totSchema = spark.table("idf6_tot").schema
      val kept = spark.table("idf6_tot").filter($"batch_id" === "corpus").collect()
      val totName = graft.sources.Bucketing.dropTableAndLocation(spark, "idf6_tot")
      spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), totSchema)
        .write.mode("overwrite").format("parquet").saveAsTable(totName)
    }

    // crash AFTER _docs+_df, before _tot
    eraseTot()
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf6")
    assert(servedDf("idf6") === wantDf,
      "the retry must not re-append df deltas the table already has")
    assert(servedTot("idf6") === wantTot)

    // crash AFTER _docs only: erase _df's and _tot's batch rows
    val dfSchema = spark.table("idf6_df").schema
    val dfKept = spark.table("idf6_df").filter($"batch_id" === "corpus").collect()
    graft.sources.Bucketing.writeBucketed(
      spark.createDataFrame(spark.sparkContext.parallelize(dfKept.toSeq), dfSchema),
      "idf6_df", "term", 4)
    eraseTot()
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf6")
    assert(servedDf("idf6") === wantDf,
      "the retry must heal the lagging df and totals tables exactly once")
    assert(servedTot("idf6") === wantTot)
    assert(spark.table("idf6_docs").filter($"batch_id" === bid).count() ===
      batch.count(), "the docs claims land exactly once across retries")
  }

  test("retractBatch ≡ full recompute on corpus-minus-batch; replay no-ops; re-admit counts again") {
    IncrementalDfStats.buildIndex(corpus, prefix = "idf7", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf7")
    // takedown: one corpus doc + one batch doc (alpha loses a holder,
    // epsilon loses its only two → zero net, must vanish)
    val takedown = Seq(
      (2L, "alpha alpha delta"),
      (10L, "alpha epsilon"),
      (11L, "epsilon epsilon beta gamma")).toDF("doc_id", "text")
    IncrementalDfStats.retractBatch(spark, takedown, prefix = "idf7")
    val remaining = corpus.filter($"doc_id" =!= 2L)
    assert(servedDf("idf7") === fullDf(remaining),
      "retract must reverse exactly what the docs contributed (zero nets dropped)")
    assert(servedTot("idf7") === fullTotals(remaining))
    // a replayed retract is absorbed
    IncrementalDfStats.retractBatch(spark, takedown, prefix = "idf7")
    assert(servedDf("idf7") === fullDf(remaining))
    assert(servedTot("idf7") === fullTotals(remaining))
    // retracting docs that were never admitted is a no-op
    IncrementalDfStats.retractBatch(spark,
      Seq((99L, "omega")).toDF("doc_id", "text"), prefix = "idf7")
    assert(servedDf("idf7") === fullDf(remaining))
    // admit ∘ retract ∘ admit: the docs count again
    IncrementalDfStats.admitBatch(spark, takedown, prefix = "idf7")
    val union = corpus.unionByName(batch)
    assert(servedDf("idf7") === fullDf(union),
      "re-admitting retracted docs must count them again")
    assert(servedTot("idf7") === fullTotals(union))
  }

  test("the lease serializes operations: compact across a mid-retry admit is refused") {
    IncrementalDfStats.buildIndex(corpus, prefix = "idf8", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf8")
    val want = servedDf("idf8")
    val bid = spark.table("idf8_docs").filter($"batch_id" =!= "corpus")
      .select($"batch_id").distinct().as[String].head()
    // simulate the crash state: _docs+_df landed, _tot not, lease held
    val totSchema = spark.table("idf8_tot").schema
    val kept = spark.table("idf8_tot").filter($"batch_id" === "corpus").collect()
    val totName = graft.sources.Bucketing.dropTableAndLocation(spark, "idf8_tot")
    spark.createDataFrame(spark.sparkContext.parallelize(kept.toSeq), totSchema)
      .write.mode("overwrite").format("parquet").saveAsTable(totName)
    val leaseDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
      "idf8_lease")
    val fs = leaseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(leaseDir)
    fs.create(new org.apache.hadoop.fs.Path(leaseDir, bid), true).close()
    // compact folding _df now would erase the batch id the retry's
    // lacks()-guard needs → the retry would re-append → double count.
    // The lease turns that contract violation into an error:
    val e = intercept[IllegalStateException] {
      IncrementalDfStats.compact(spark, prefix = "idf8")
    }
    assert(e.getMessage.contains("in flight"))
    // another batch's admit is refused too (the ADVICE interleaving)
    val e2 = intercept[IllegalStateException] {
      IncrementalDfStats.admitBatch(spark,
        Seq((12L, "zeta")).toDF("doc_id", "text"), prefix = "idf8")
    }
    assert(e2.getMessage.contains("in flight"))
    // the retry of the SAME batch re-enters its own lease and heals
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf8")
    assert(servedDf("idf8") === want)
    // lease released → compact runs and preserves the served stats
    IncrementalDfStats.compact(spark, prefix = "idf8")
    assert(servedDf("idf8") === want)
  }

  test("compact folds deltas without changing the served stats; reads stay exchange-free") {
    IncrementalDfStats.buildIndex(corpus, prefix = "idf4", buckets = 4)
    IncrementalDfStats.admitBatch(spark, batch, prefix = "idf4")
    val before = servedDf("idf4")
    // pre-compact: alpha has delta rows from the build AND the admit
    assert(spark.table("idf4_df").groupBy($"term").count()
      .filter($"count" > 1).count() > 0, "fixture must exercise real deltas")
    IncrementalDfStats.compact(spark, prefix = "idf4")
    assert(servedDf("idf4") === before)
    assert(spark.table("idf4_df").groupBy($"term").count()
      .filter($"count" > 1).count() === 0, "compaction folds to one row per term")
    val plan = IncrementalDfStats.dfStats(spark, "idf4")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the served group-by must ride the bucket layout:\n$plan")
  }

  test("real corpus: build + admit over a doc split ≡ recompute on the union") {
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select($"doc_id", $"text")
    IncrementalDfStats.buildIndex(docs.filter($"doc_id" % 7 =!= 0),
      prefix = "idf5", buckets = 8)
    IncrementalDfStats.admitBatch(spark, docs.filter($"doc_id" % 7 === 0),
      prefix = "idf5")
    assert(servedDf("idf5") === fullDf(docs))
    assert(servedTot("idf5") === fullTotals(docs))
  }
}
