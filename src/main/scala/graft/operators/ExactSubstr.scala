package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT substring deduplication (§2.3 d24) — variable-length maximal
  * cross-doc repeats with their TRUE token extents, the algorithm
  * production corpus builds cite (Lee et al. 2022's ExactSubstr;
  * RefinedWeb/Dolma), re-expressed Spark-first WITHOUT materializing
  * a suffix array.
  *
  * d11/d18/d19 approximate duplicated spans at fixed `Width`-token
  * window resolution: d18's islands merge windows duplicated against
  * ANY partner, so a 20-token verbatim copy and two unrelated 8-token
  * coincidences report the same way. This entry recovers the exact
  * repeat: a substring of L ≥ `Width` tokens shared verbatim by two
  * docs yields EXACTLY L − Width + 1 rolling windows at consecutive
  * positions in BOTH docs — i.e. a run of matches on one DIAGONAL
  * (pa − pb constant). Chaining the runs inverts the windowing:
  * run length n ⇒ true extent n + Width − 1 = L, with exact start
  * offsets in both docs.
  *
  * The suffix-array construction (sort all suffixes of a 100 TB
  * corpus) is the textbook solution and is exactly what does NOT
  * distribute; window-chaining gets the same answer for repeats
  * ≥ `minTok` with shuffle ∝ windows:
  *   1. rolling 60-bit window hashes WITH positions (d18's kernel) —
  *      narrow map, one explode;
  *   2. pair-forming step ⇒ d11's hot cap applies: windows in more
  *      than `cap` distinct docs are boilerplate and would fan out
  *      quadratically — dropped via broadcast anti-join (a repeat
  *      crossing a hot window splits; the documented trade every
  *      pair-forming entry in the family makes);
  *   3. equi-self-join on the hash (shuffle ∝ surviving windows,
  *      never docs²), keep doc_a < doc_b;
  *   4. gaps-and-islands per (pair, diagonal): run id = pa − rank —
  *      ONE window function over the match rows (tiny relative to the
  *      corpus: only actually-shared windows reach it);
  *   5. per-run rollup → (a_start, b_start, len_tok ≥ minTok).
  *
  * `minTok` > `Width` is what makes the entry EXACT-substring rather
  * than window-coincidence: a single shared window (8 tokens) never
  * reports; only chained runs — verbatim copies longer than the
  * window — do.
  */
object ExactSubstr {

  /** Window width in tokens — d18's granularity, shared so the span
    * family chains the same hashes.
    */
  val Width: Int = DupSpans.Width

  /** Maximal cross-doc repeats over `toks` (doc_id, tk:
    * array&lt;string&gt;): one row per maximal run —
    * (doc_a, doc_b, a_start, b_start, len_tok), 1-based token
    * offsets, len_tok the repeat's true token length.
    */
  def maximalRepeats(toks: DataFrame, cap: Int = 100,
      minTok: Int = 10): DataFrame = {
    // (doc, pos, h) rolling windows — lineage-cut: it feeds the hot
    // census AND both self-join sides
    val pw = Checkpoints.cut(windowPositions(toks.select(col("doc_id"), col("tk"))))
    val hot = pw.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("h"))
    val ok = pw.join(broadcast(hot), Seq("h"), "left_anti")
    val matches = ok.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(ok.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pb")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    runsFromMatches(matches, minTok)
  }

  /** The family's ONE (doc, pos, h) rolling-window kernel — batch
    * report and incremental merge both hash through this projection
    * (the `windowHashExpr` discipline: the incremental ≡ batch
    * guarantee rests on the kernel never diverging). 1-based
    * positions.
    */
  def windowPositions(toks: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    // the span family's ONE window-hash kernel (d11's expression)
    val winArr = IncrementalPassages.windowHashExpr(col("tk"), Width)
    val keepCols = keep.map(col)
    toks.select((col("doc_id") +: keepCols) :+
        posexplode(when(size(col("tk")) >= Width, winArr)
          .otherwise(array().cast("array<long>"))): _*)
      .select((col("doc_id") +: keepCols) ++ Seq(
        (col("pos") + lit(1)).cast("long").as("pos"),
        col("col").as("h")): _*)
  }

  /** Diagonal gaps-and-islands over oriented match rows (doc_a,
    * doc_b, pa, pb) → maximal runs ≥ minTok. One window per (doc,
    * pos) ⇒ (pair, diag, pa) is unique; runs of consecutive pa on a
    * diagonal are maximal by construction. Shared by the batch
    * report and the incremental merge's bounded recomputes.
    */
  private[graft] def runsFromMatches(matches: DataFrame,
      minTok: Int): DataFrame = {
    val m = matches.withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("run", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("run"))
      .agg(min(col("pa")).as("a_start"), count(lit(1)).as("n_win"))
      .select(col("doc_a"), col("doc_b"), col("a_start"),
        (col("a_start") - col("diag")).as("b_start"),
        (col("n_win") + lit(Width - 1).cast("long")).as("len_tok"))
      .filter(col("len_tok") >= minTok)
  }

  /** The ACTION the repeat report feeds (§2.3 d25) — keep-FIRST-
    * occurrence exact-substring dedup, Lee et al.'s deployed policy,
    * applied against an EXISTING repeat table (d24's materialized
    * corpus artifact, so the window self-join never re-runs): for
    * every maximal repeat, the LOWEST doc id keeps its copy and every
    * higher doc's occurrence is cut. Pairwise lowest-keeps composes to
    * exactly that: a repeat shared by docs {A&lt;B&lt;C} cuts B (via
    * A,B) and C (via A,C) and keeps A only. Cross-doc only — a doc's
    * internal duplicate of its own kept copy stays (d18/d19 own
    * within-doc coverage).
    *
    * Shape: the repeat table's cut side collapses per doc, merged
    * islands (`IntervalMerge` — overlapping cuts from different
    * partners union), then d19's codegen'd index-filter cut — the
    * corpus is never exploded into token rows. One row per doc out:
    * (doc_id, n_tok, kept: array&lt;string&gt;).
    */
  def scrubWith(toks: DataFrame, repeats: DataFrame): DataFrame = {
    val cuts = repeats
      .select(col("doc_b").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("len_tok")).as("e"))
    val perDoc = IntervalMerge.islands(cuts, "doc_id", "s", "s", "e")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("m_start"), col("m_end"))).as("spans"))
    toks.select(col("doc_id"), col("tk")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        when(col("spans").isNull, col("tk"))
          .otherwise(filter(col("tk"), (_, i) =>
            !exists(col("spans"), sp =>
              (i + lit(1) >= sp.getField("m_start")) &&
                (i + lit(1) < sp.getField("m_end")))))
          .as("kept"))
  }
}
