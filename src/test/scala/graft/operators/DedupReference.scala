package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dedup kernels only the specs run: the per-doc signature array
  * (a view of the fused signature kernel the band and d17 paths use)
  * and the LSH band self-join candidate generator the verification
  * and hash-family specs draw their pairs from.
  */
object DedupReference {
  import Dedup._

  /** Per-doc minhash signature as an array column (id, sig) — the
    * raw estimator d17 calibrates: P(component match) = Jaccard.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 16,
      baseHash: Column => Column = HashFunctions.minhashBase): DataFrame =
    minhashSigWide(df, idCol, textCol, shingleK, numHashes, baseHash)
      .select(col(idCol),
        array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))

  /** Candidate near-dup pairs: docs sharing any LSH band bucket.
    * The self-join shuffles only (band, band_hash) — the LSH scale
    * trick. Buckets larger than `maxBucket` are dropped (skew guard).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 1000,
      baseHash: Column => Column = HashFunctions.minhashBase): DataFrame = {
    val b = minhashBands(df, idCol, textCol, shingleK, numHashes, bands, baseHash)
    // Skew cap without a window pass: a `count over (band, band_hash)`
    // window sorts ALL (doc, band) rows; oversized buckets are instead
    // found with a partial-agg groupBy (tiny result — pathological
    // buckets only) and removed via a broadcast anti-join. No sort.
    val oversized = b.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("band_hash"))
    val capped = b.join(broadcast(oversized), Seq("band", "band_hash"), "left_anti")
    val l = capped.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val r = capped.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }
}
