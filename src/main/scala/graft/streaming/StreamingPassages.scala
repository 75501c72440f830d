package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming front door of the passage-dedup family (SURVEY.md §2.7)
  * — d11's verdict logic applied at INGESTION time: each arriving doc
  * is checked for copy-pasted passages against the indexed corpus
  * BEFORE it enters, instead of by the batch pair sweep after.
  *
  * Shape follows the family's split:
  *   - the STATIC side is the (doc_id, h) window index the
  *     incremental path maintains (`IncrementalPassages`
  *     buildWindowIndex/appendToIndex) — re-resolved every
  *     micro-batch, so batches admitted and appended by this very
  *     pipeline are probed by the NEXT micro-batch without
  *     restarting the query; bucketed on h, the corpus side of the
  *     probe join reads its layout unshuffled;
  *   - the STREAM side is a narrow map: tokenize, roll the 8-token
  *     windows, hash — per-doc DISTINCT inside the row's array
  *     (array_distinct before explode), so no stream-level
  *     deduplication state is needed;
  *   - the shared-window COUNT is the one genuinely stateful step
  *     (counting rows across a join fan-out), and its state is
  *     event-time-bounded: watermark + tumbling window, evicted as
  *     the watermark passes — never grows with the corpus or the
  *     stream length.
  *
  * Boilerplate (df > cap) windows must NOT reach the probe join — a
  * license-header window with df 10⁵ would fan every arriving doc
  * containing it out to 10⁵ corpus docs (the quadratic blowup the
  * batch pipeline's cap exists to prevent) and falsely flag any doc
  * sharing ≥ minShared boilerplate windows. Pass
  * `IncrementalPassages.servableIndex` as `index`: the live window
  * table minus the `<prefix>_hot` census the lifecycle core maintains
  * per admit / retract ([[graft.operators.PostingIndex]]); run
  * `IncrementalPassages.refreshHotWindowsIfStale` at micro-batch
  * cadence (a no-op when quiescent) to pick a mid-stream takedown up
  * within one micro-batch.
  */
object StreamingPassages {

  /** Flag arriving docs sharing ≥ `minShared` distinct 8-token
    * windows with any indexed corpus doc. `index` must have (doc_id,
    * h) columns — `IncrementalPassages.servableIndex` (hot windows
    * excluded). Output: one row per (window, arriving doc, corpus
    * doc) with the shared-window count.
    */
  def flagAgainstCorpus(stream: DataFrame, index: DataFrame,
      tsCol: String, watermark: String = "10 minutes",
      timeWindow: String = "1 minute", minShared: Int = 3,
      windowTokens: Int = 8): DataFrame = {
    val toks = graft.functions.TextFunctions.wsTokens(col("text"))
    val winHashes = graft.operators.IncrementalPassages
      .windowHashExpr(col("tk"), windowTokens)
    stream
      // watermark attaches BEFORE the window explode: event-time
      // progress must be tracked from every arriving doc, including
      // ones too short to produce a window (an explode-first plan
      // would let a windowless tail stall the watermark and hold the
      // aggregation state open)
      .withWatermark(tsCol, watermark)
      .withColumn("tk", toks)
      .select(col("doc_id"), col(tsCol),
        explode(when(size(col("tk")) >= windowTokens, array_distinct(winHashes))
          .otherwise(array().cast("array<long>"))).as("h"))
      .join(index.select(col("h"), col("doc_id").as("corpus_doc")), "h")
      .groupBy(window(col(tsCol), timeWindow), col("doc_id"), col("corpus_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("corpus_doc"), col("n_shared"))
  }
}
