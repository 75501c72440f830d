package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming front door of the media pHash near-dup family
  * (SURVEY.md §2.7) — m5's verdicts at INGESTION time: each arriving
  * asset is checked for near-duplicate re-uploads against the indexed
  * corpus BEFORE it enters, completing the media lifecycle
  * (batch sweep m5 → incremental merge `IncrementalMedia` → this).
  *
  * Shape:
  *   - the STATIC side is `IncrementalMedia.servableIndex` — the
  *     (asset, band) postings the incremental path maintains, minus
  *     the maintained hot-bucket census (a degenerate all-zero-pHash
  *     bucket would fan every trivial arriving asset out to the whole
  *     bucket); re-resolved per micro-batch, so assets admitted and
  *     appended by this very pipeline are probed by the next one —
  *     and a mid-stream takedown is picked up by running
  *     `IncrementalMedia.refreshHotBucketsIfStale` at micro-batch
  *     cadence;
  *   - the STREAM side hashes each arriving asset with the
  *     EXPRESSION-FOLD pHash (`simhashHex` over char shingles) — a
  *     pure per-row map, no explode/aggregation, hence no state. The
  *     fold form is the measured anti-pattern for corpus sweeps
  *     (re-evaluates md5 per shingle with no CSE) but is exactly
  *     right per arriving asset, and it is bit-identical to the batch
  *     kernel by KernelPropertySpec's pinned equivalence;
  *   - each asset explodes into its 4 (band, chunk) keys, the
  *     stream-static equi-join matches agreeing bands (pigeonhole: a
  *     Hamming-≤3 pair agrees on ≥1), exact Hamming verifies from the
  *     parsed band ints. A pair agreeing on several bands arrives
  *     once per band; `dropDuplicatesWithinWatermark` on the pair key
  *     collapses them with watermark-bounded state — the gate's only
  *     stateful step.
  */
object StreamingMedia {

  /** Flag arriving assets within `maxHamming` of any indexed corpus
    * asset. `index` must have (bkey, `idCol`, b0..b3) columns —
    * `IncrementalMedia.servableIndex`. The STREAM side's schema is
    * (`streamIdCol`, `tsCol`, text): its id column is named
    * independently of the index's (`idCol` applies to the INDEX side
    * only — a media stream keyed `asset_id` probing an index keyed
    * `media_id` passes both). Output: one row per (arriving asset,
    * corpus asset) with the Hamming distance.
    */
  def flagAgainstCorpus(stream: DataFrame, index: DataFrame,
      tsCol: String, idCol: String = "media_id",
      watermark: String = "10 minutes", maxHamming: Int = 3,
      streamIdCol: String = "doc_id"): DataFrame = {
    import graft.functions.HashFunctions.simhashHex
    import graft.functions.TextFunctions.charShingleSeq
    val hashed = stream
      .withWatermark(tsCol, watermark)
      .withColumn("phash", simhashHex(charShingleSeq(col("text"), 4)))
      .filter(col("phash").isNotNull)
      .select(Seq(col(tsCol), col(streamIdCol).as("arriving_id")) ++
        (0 until 4).map(b =>
          conv(col("phash").substr(b * 4 + 1, 4), 16, 10)
            .cast("long").as(s"a$b")): _*)
    val banded = hashed.select(
      col(tsCol) +: col("arriving_id") +: (0 until 4).map(b => col(s"a$b")) :+
        posexplode(array((0 until 4).map(b => col(s"a$b")): _*)): _*)
      .withColumn("bkey", concat_ws("|", col("pos"), col("col")))
    val hamming = (0 until 4)
      .map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"b$b"))))
      .reduce(_ + _)
    banded
      .join(index.select(col("bkey"), col(idCol).as("corpus_id"),
        col("b0"), col("b1"), col("b2"), col("b3")), "bkey")
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col(tsCol), col("arriving_id"), col("corpus_id"), col("hamming"))
      .dropDuplicatesWithinWatermark("arriving_id", "corpus_id")
      .select(col("arriving_id"), col("corpus_id"), col("hamming"))
  }
}
