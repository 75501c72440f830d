package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming front door of the exact-substring family (SURVEY §2.7)
  * — d24's verdict at INGESTION time: each arriving doc is checked
  * for a ≥ `minTok`-token verbatim substring shared with the indexed
  * corpus BEFORE it enters, completing the family's lifecycle (batch
  * report d24 → incremental merge `IncrementalExactSubstr` → this).
  *
  * Shape:
  *   - STATIC side: `IncrementalExactSubstr.servableIndex` — the
  *     (doc, pos, h) window-position rows the incremental path
  *     maintains, minus the maintained hot exclusion (a boilerplate
  *     window would fan every arriving doc holding it out to its
  *     whole posting list); re-resolved per micro-batch, so docs
  *     admitted by `admitBatch` are probed by the next one — and a
  *     mid-stream takedown is picked up by running
  *     `IncrementalExactSubstr.refreshHotWindowsIfStale` at
  *     micro-batch cadence;
  *   - STREAM side: tokenize → the family's ONE window-position
  *     kernel (`ExactSubstr.windowPositions`, ts kept through the
  *     explode; watermark attaches BEFORE it so a windowless short
  *     doc still advances event time);
  *   - the diagonal run-chaining that the batch side does with a
  *     window function is NOT expressible as streaming window
  *     functions — instead the matches collapse into ONE stateful
  *     aggregation keyed (event window, arriving doc, corpus doc)
  *     that collects the (diag, pa) match points, and the maximal
  *     run is computed INSIDE the aggregate's projection: sort the
  *     points (struct order = (diag, pa)), scan with a
  *     (prevDiag, prevPos, current, best) accumulator — a codegen'd
  *     higher-order `aggregate`, no second stateful operator. State
  *     is bounded per (arrival, matched corpus doc) by the arrival's
  *     own window count and evicted by the watermark.
  *
  * Output: one row per (arriving_id, corpus_doc) with the LONGEST
  * shared substring's true token length — the gate's verdict
  * surface; exact offsets live in the batch report, where a
  * flagged doc's full structure is derived on admission.
  */
object StreamingSubstr {

  import graft.operators.ExactSubstr.Width

  /** Flag arriving docs sharing a ≥ `minTok`-token verbatim
    * substring with any indexed corpus doc. `index` must have
    * (doc_id, pos, h) columns — `IncrementalExactSubstr.
    * servableIndex` (hot windows excluded). Stream schema:
    * (doc_id, `tsCol`, text).
    */
  def flagAgainstCorpus(stream: DataFrame, index: DataFrame,
      tsCol: String, watermark: String = "10 minutes",
      timeWindow: String = "1 minute", minTok: Int = 10): DataFrame = {
    val toks = stream
      .withWatermark(tsCol, watermark)
      .select(col("doc_id"), col(tsCol),
        graft.functions.TextFunctions.wsTokens(col("text")).as("tk"))
    val arr = graft.operators.ExactSubstr.windowPositions(toks, keep = Seq(tsCol))
    val joined = arr
      .join(index.select(col("h"), col("doc_id").as("corpus_doc"),
        col("pos").as("pb")), "h")
      .select(col(tsCol), col("doc_id").as("arriving_id"), col("corpus_doc"),
        (col("pos") - col("pb")).as("diag"), col("pos").as("pa"))
    val agg = joined
      .groupBy(window(col(tsCol), timeWindow),
        col("arriving_id"), col("corpus_doc"))
      .agg(collect_list(struct(col("diag"), col("pa"))).as("ms"))
    // longest run over the collected match points: struct sort is
    // (diag, pa)-lexicographic, so a linear scan chains diagonals
    val best = aggregate(
      array_sort(col("ms")),
      struct(lit(Long.MinValue).as("pd"), lit(Long.MinValue).as("pp"),
        lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cont = x.getField("diag") === acc.getField("pd") &&
          x.getField("pa") === acc.getField("pp") + lit(1L)
        val cur2 = when(cont, acc.getField("cur") + lit(1L)).otherwise(lit(1L))
        struct(x.getField("diag").as("pd"), x.getField("pa").as("pp"),
          cur2.as("cur"), greatest(acc.getField("best"), cur2).as("best"))
      },
      acc => acc.getField("best"))
    agg.select(col("arriving_id"), col("corpus_doc"),
        (best + lit(Width - 1).cast("long")).as("len_tok"))
      .filter(col("len_tok") >= minTok)
  }
}
