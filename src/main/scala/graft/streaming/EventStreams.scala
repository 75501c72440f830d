package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the events stream
  * (SURVEY.md §2.7). Batch and streaming share the same Column
  * algebra — these functions accept either a static or a streaming
  * DataFrame with (ts: timestamp, event_type, user_id, value).
  */
object EventStreams {

  /** Per-user session aggregation with a gap timeout, via the
    * session_window built-in (state bounded by watermark + gap).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100)).cast("long").as("value_cents"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_cents"))
}
