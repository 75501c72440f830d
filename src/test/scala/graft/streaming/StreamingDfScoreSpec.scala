package graft.streaming

import graft.SparkSpec
import graft.operators.IncrementalDfStats
import org.apache.spark.sql.functions._

/** Streaming tf-idf scoring against the MAINTAINED df statistics
  * (SURVEY §2.5 t7/t24-incremental's stream member): stream ≡ batch
  * on identical data, unseen tokens reported rather than dropped,
  * and a stats admit between micro-batches is picked up without
  * restarting the query.
  */
class StreamingDfScoreSpec extends SparkSpec {
  import spark.implicits._

  private type Row5 = (Long, Long, Long, Long, Double)

  private def corpus = Seq(
    (1L, "alpha beta gamma"),
    (2L, "alpha alpha delta"),
    (3L, "beta beta beta")).toDF("doc_id", "text")

  private def runScorer(dir: String, queryName: String, prefix: String,
      between: () => Unit = () => (),
      more: Seq[(Long, java.sql.Timestamp, String)] = Nil): Set[Row5] = {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val idf = StreamingDfScore.idfFrame(
      IncrementalDfStats.dfStats(spark, prefix),
      IncrementalDfStats.totals(spark, prefix))
    val out = StreamingDfScore.scoreAgainstStats(stream, idf, "ts")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    try {
      q.processAllAvailable()
      between()
      if (more.nonEmpty) {
        more.toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val t0 = spark.read.parquet(dir).select(max($"ts")).head().getTimestamp(0)
      Seq((-1L, new java.sql.Timestamp(t0.getTime + 24 * 3600 * 1000L), "flush"))
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(queryName)
      .filter($"doc_id" >= 0)
      .select($"doc_id", $"n_tok", $"n_known", $"n_unseen", $"tfidf_mass")
      .as[Row5].collect().toSet
  }

  test("stream score ≡ batch score; unseen tokens counted, not dropped") {
    IncrementalDfStats.buildIndex(corpus, prefix = "sdfs1", buckets = 4)
    val t0 = java.sql.Timestamp.valueOf("2026-09-01 00:00:00")
    val arrivals = Seq(
      (10L, t0, "alpha beta zeta"), // zeta is unseen by the stats
      (11L, new java.sql.Timestamp(t0.getTime + 1000), "delta delta"),
      (12L, new java.sql.Timestamp(t0.getTime + 2000), "zeta zeta zeta"))
    val dir = tmpDir(s"sdfs1_in_${System.nanoTime()}")
    arrivals.toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    val got = runScorer(dir, "sdfs1q", "sdfs1")
    val idf = StreamingDfScore.idfFrame(
      IncrementalDfStats.dfStats(spark, "sdfs1"),
      IncrementalDfStats.totals(spark, "sdfs1"))
    val want = StreamingDfScore.scoreBatch(
        arrivals.map(a => (a._1, a._3)).toDF("doc_id", "text"), idf)
      .as[Row5].collect().toSet
    assert(got === want, s"stream $got != batch $want")
    // spelled out: doc 12 is ALL unseen — zero mass, three unseen
    assert(got.exists { case (id, n, k, u, m) =>
      id == 12L && n == 3L && k == 0L && u == 3L && m == 0.0 })
    assert(got.exists { case (id, _, _, u, _) => id == 10L && u == 1L })
  }

  test("a stats admit between micro-batches is picked up without restart") {
    IncrementalDfStats.buildIndex(corpus, prefix = "sdfs2", buckets = 4)
    val t0 = java.sql.Timestamp.valueOf("2026-09-02 00:00:00")
    val dir = tmpDir(s"sdfs2_in_${System.nanoTime()}")
    // epsilon is unseen by the corpus stats; the mid-stream admit
    // teaches the stats epsilon, so the SECOND arrival sees it known
    Seq((20L, t0, "epsilon alpha"))
      .toDF("doc_id", "ts", "text").write.mode("append").parquet(dir)
    val got = runScorer(dir, "sdfs2q", "sdfs2",
      between = () => IncrementalDfStats.admitBatch(spark,
        Seq((50L, "epsilon epsilon")).toDF("doc_id", "text"),
        prefix = "sdfs2"),
      more = Seq((21L, new java.sql.Timestamp(t0.getTime + 1000), "epsilon alpha")))
    val by = got.groupBy(_._1).view.mapValues(_.head).toMap
    assert(by(20L)._4 === 1L, s"pre-admit arrival must see epsilon unseen: $got")
    assert(by(21L)._4 === 0L,
      s"post-admit arrival must see the refreshed stats mid-query: $got")
    assert(by(21L)._5 > by(20L)._5,
      "the newly known term contributes idf mass")
  }
}
