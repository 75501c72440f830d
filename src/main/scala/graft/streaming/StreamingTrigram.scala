package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming front door of the TRIGRAM contamination family
  * (SURVEY §2.7) — d8's verdict at INGESTION time: each arriving
  * train doc is checked for capped-trigram overlap with the held-out
  * benchmark panel BEFORE it enters the corpus, completing the
  * family's lifecycle (batch report d8 → action d23 → this), the
  * trigram sibling of `StreamingContamination` (embeddings).
  *
  * Shape:
  *   - the PANEL side is distinct (bench_id, h) trigram rows —
  *     benchmark sets are small by contract, so the panel is
  *     FORCE-broadcast and re-resolved per micro-batch (a new
  *     benchmark release is picked up without restarting the query);
  *   - the HOT side is d8's no-signal exclusion (corpus trigrams
  *     with df > cap): a maintained tiny frame, broadcast anti-joined
  *     on the STREAM side so boilerplate trigrams in an arriving doc
  *     never reach the panel join — without it a license-header
  *     trigram would flag every arriving doc against every panel doc
  *     containing it;
  *   - the STREAM side hashes through the family's trigram LEAF
  *     kernel in its IN-ROW form (`PipelineQueries.triHashArray`:
  *     distinct inside the arriving row's array before the explode —
  *     StreamingPassages' zero-state rule, so d8's distinct-count
  *     semantics need no stream-level dedup state) — watermark
  *     attaches BEFORE the explode so a trigram-less short doc still
  *     advances event time;
  *   - the shared-count rollup is the ONLY stateful step, keyed
  *     (event window, arriving doc, bench doc), watermark-evicted.
  *
  * Output: one row per (arriving doc, bench doc) with the distinct
  * shared-trigram count ≥ `minShared` — d8's row shape at the
  * stream front door.
  *
  * Retraction pickup: run `IncrementalTrigram.refreshHotTrigramsIfStale`
  * at micro-batch cadence (a `foreachBatch` hook; a no-op when
  * quiescent — [[graft.operators.PostingIndex]]) and read the hot
  * frame there, so a mid-stream takedown reaches the exclusion within
  * one micro-batch.
  */
object StreamingTrigram {

  /** Flag arriving docs sharing ≥ `minShared` distinct non-hot
    * trigrams with any panel doc. `panel` must have (bench_id, h)
    * columns (`panelIndex`); `hot` a single `h` column (the corpus
    * df > cap census the batch side maintains). Stream schema:
    * (doc_id, `tsCol`, text).
    */
  def flagAgainstPanel(stream: DataFrame, panel: DataFrame, hot: DataFrame,
      tsCol: String, watermark: String = "10 minutes",
      timeWindow: String = "1 minute", minShared: Int = 1): DataFrame = {
    val tris = stream
      .withWatermark(tsCol, watermark)
      .select(col("doc_id"), col(tsCol),
        explode(graft.operators.PipelineQueries.triHashArray(
          graft.functions.TextFunctions.wsTokens(col("text")))).as("h"))
    tris
      .join(broadcast(hot), Seq("h"), "left_anti")
      .join(broadcast(panel.select(col("h"), col("bench_id"))), Seq("h"))
      .groupBy(window(col(tsCol), timeWindow), col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
  }

  /** The panel index from raw benchmark docs (doc_id, text). */
  def panelIndex(bench: DataFrame): DataFrame =
    graft.operators.PipelineQueries.triShingles(bench, "doc_id")
      .withColumnRenamed("doc_id", "bench_id").distinct()
}
