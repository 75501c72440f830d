package graft.streaming

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming semantics driven synchronously: the events parquet is
  * replayed through readStream into a memory sink, and results are
  * compared with the same operator applied in batch mode.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def batchEvents: DataFrame = GraftSession.table(spark, sf0, "events")

  // the file stream source wants a directory — stage the events table
  // into a fresh per-test dir with ts already normalized to
  // TimestampType (so the streamed schema is canonical regardless of
  // the fixture's physical form; tests may append flush files, so
  // staging is never shared)
  private def stageStream(name: String): String = {
    val dir = tmpDir(s"events_stream_$name")
    batchEvents.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamEvents(streamDir: String): DataFrame = {
    // streaming source needs an explicit schema; staging already
    // normalized ts, so the batch schema is reused as-is
    val schema = spark.read.parquet(streamDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** Append-mode window aggs only emit windows the watermark has
    * closed, so after draining the real data we feed one sentinel
    * event far in the future; every real window finalizes and is
    * emitted. Callers filter out the sentinel (event_id/user_id -1).
    */
  private def runWithFlush(df: DataFrame, name: String, streamDir: String): DataFrame = {
    val q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val maxTs = spark.read.parquet(streamDir).agg(max("ts")).head().getTimestamp(0)
      val flushTs = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
      Seq((-1L, flushTs, -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(streamDir)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("stateful running user stats: streaming updates converge to batch fold") {
    import org.apache.spark.sql.functions.{col, max, round, sum, count, lit}
    val dir = stageStream("stateful")
    // huge watermark delay: the eviction timer (required watermark)
    // never fires here, so this test stays pure fold-convergence
    val ev = streamEvents(dir).select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "3650 days")
      .as[UserEvent]
    val q = StatefulStats.runningUserStats(ev)
      .writeStream.outputMode("update").format("memory").queryName("ustats").start()
    try q.processAllAvailable() finally q.stop()
    // last update per user is the converged state
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val finalStats = spark.table("ustats")
      .withColumn("max_n", max("n_events").over(w))
      .filter($"n_events" === $"max_n")
      .select("user_id", "n_events", "value_cents", "n_sessions")
      .distinct()
    val expected = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round($"value" * 100)).cast("long").as("value_cents"))
    assert(finalStats.count() === expected.count())
    assert(finalStats.join(expected, Seq("user_id", "n_events", "value_cents"))
      .count() === expected.count())
    // session counts agree with the session_window operator
    val sessionCounts = EventStreams.sessionize(batchEvents)
      .groupBy("user_id").count()
    assert(finalStats.join(sessionCounts,
      finalStats("user_id") === sessionCounts("user_id") &&
        finalStats("n_sessions") === sessionCounts("count")).count() === expected.count())
  }

  test("stateful stats evict past the horizon: a reappearing user restarts, a carried one doesn't") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // day 1, not 0: an epoch-0 event is not later than the INITIAL
    // watermark (0) and the late-data filter would drop it
    def t(d: Long) = new java.sql.Timestamp((d + 1) * 86400000L)
    val mem = MemoryStream[UserEvent]
    val stream = mem.toDS().withWatermark("ts", "0 seconds")
    val q = StatefulStats.runningUserStats(stream, horizonDays = 30)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .format("memory").queryName("ustats_evict").start()
    try {
      // day 0: user 1's only event (100 cents)
      mem.addData(UserEvent(1L, t(0), 1.0)); q.processAllAvailable()
      // day 100 advances the watermark past user 1's day-30 timer;
      // the next batch fires it and evicts user 1's state
      mem.addData(UserEvent(2L, t(100), 1.0)); q.processAllAvailable()
      mem.addData(UserEvent(2L, t(101), 1.0)); q.processAllAvailable()
      // day 200: user 1 reappears (200 cents) on a fresh slate
      mem.addData(UserEvent(1L, t(200), 2.0)); q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("ustats_evict").filter($"user_id" === 1L)
      .select("n_events", "value_cents").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(u1.contains((1L, 100L)), "pre-eviction running stats emitted")
    assert(u1.contains((1L, 200L)),
      "post-eviction stats restart from zero — state really was removed")
    assert(!u1.exists(_._1 == 2L),
      "an evicted user must NOT accumulate across the horizon")
    // user 2 stays in-horizon across triggers: state carries to n=2
    val u2 = spark.table("ustats_evict").filter($"user_id" === 2L)
      .agg(max($"n_events")).head().getLong(0)
    assert(u2 === 2L, "in-horizon cross-trigger state must still carry")
  }

  test("sessionization produces bounded per-user sessions") {
    val dir = stageStream("sess")
    val sessions = runWithFlush(
      EventStreams.sessionize(streamEvents(dir)), "sess", dir)
      .filter($"user_id" =!= -1L)
    assert(sessions.count() > 0)
    val bad = sessions.filter($"session_end" < $"session_start").count()
    assert(bad === 0)
    // every event lands in some session: totals add up
    val nEvents = sessions.agg(sum($"n_events")).head().getLong(0)
    assert(nEvents === batchEvents.count())
  }
}
