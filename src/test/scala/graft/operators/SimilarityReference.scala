package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference kernels the similarity specs compare the shipped
  * (governed) kernels against: the quadratic exact-cosine pair set,
  * the brute-force inner-product top-k, the scalar width arithmetic
  * the in-plan `nBitsCol` mirrors, the pinned-width cross-pair
  * kernel, and the MIPS width-rule census. None of them runs in a
  * bench entry or on the CLI path.
  */
object SimilarityReference {
  import Similarity._

  /** Exact cosine near-dup pairs above a threshold — the all-pairs
    * truth. Deliberately quadratic: a cross join, fit for spec-sized
    * corpora only.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), toDouble(col(vecCol)).as("va"))
    val b = df.select(col(idCol).as("id_b"), toDouble(col(vecCol)).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Data-driven SRP hash width: the smallest `nBits` whose 2^nBits
    * buckets hold ≤ `targetOccupancy` vectors each on average,
    * clamped to [minBits, maxBits]. Integer arithmetic only
    * (⌈n/occ⌉ buckets → bit length of buckets−1) so every engine —
    * and the SQL oracles via floor/bin/length — derives the same
    * width from the same count — the scalar form of the in-plan
    * `Similarity.nBitsCol`.
    */
  def chooseNBits(n: Long, targetOccupancy: Int = 16, minBits: Int = 4,
      maxBits: Int = 24): Int = {
    require(targetOccupancy > 0 && minBits >= 1 && maxBits >= minBits)
    val bucketsNeeded = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(bucketsNeeded - 1, 1L))
    val raw = if (bucketsNeeded <= 1) 1 else bits
    math.max(minBits, math.min(maxBits, raw))
  }

  /** Hamming-≤2 probe buckets: the home bucket, all single-bit flips,
    * and all double-bit flips — 1 + n + n(n−1)/2 probes (37 for 8
    * bits). Affordable only for a side that is SMALL (d21's held-out
    * panel); the corpus side never explodes.
    */
  private def probeSet2(bucket: Column, nBits: Int): Column = {
    def flip(b: Column, i: Int): Column = concat(
      b.substr(lit(1), lit(i)),
      when(b.substr(i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
      b.substr(lit(i + 2), lit(nBits - i - 1)))
    val singles = (0 until nBits).map(i => flip(bucket, i))
    val doubles = for (i <- 0 until nBits; j <- i + 1 until nBits)
      yield flip(flip(bucket, i), j)
    array_distinct(array((Seq(bucket) ++ singles ++ doubles): _*))
  }

  /** The (bench_id, qv) vector side of the cross-pair kernel — the
    * panel-sized frame that re-attaches query vectors after the
    * bucket-string probe match.
    */
  def panelVectors(panel: DataFrame, idCol: String, vecCol: String): DataFrame =
    panel.select(col(idCol).as("bench_id"), toDouble(col(vecCol)).as("qv"))

  /** The panel exploded into its probe buckets at the width-scaled
    * radius, over an already-normalized (bench_id, qv) frame.
    */
  private def probeIndexFrom(p0: DataFrame, nBits: Int, dims: Int,
      radius: Int): DataFrame = {
    val r = if (radius > 0) radius else if (nBits >= RadiusWideBits) 3 else 2
    require(r == 2 || r == 3, s"probe radius must be 2 or 3, got $r")
    val probes =
      if (r == 3) array_distinct(concat(array(col("bucket")),
        probeSinglesDyn(col("bucket"), lit(nBits), nBits),
        probeDoublesDyn(col("bucket"), lit(nBits), nBits),
        probeTriplesDyn(col("bucket"), lit(nBits), nBits)))
      else probeSet2(col("bucket"), nBits)
    p0.withColumn("bucket", srpBucket(col("qv"), nBits, dims))
      .select(col("bench_id"), explode(probes).as("bucket"))
  }

  /** Cross-SET multi-probe pairs: corpus × panel candidates whose SRP
    * buckets are within the width-scaled Hamming radius
    * ([[RadiusWideBits]]: ≤ 2 below 14 bits, ≤ 3 at and above),
    * exact-cosine verified — the embedding-space contamination kernel
    * (d21): the PANEL (held-out benchmark, small) explodes into its
    * probe buckets, the corpus keeps its home bucket, so candidate
    * cardinality is ∝ bucket collisions and pairwise cosine runs only
    * inside matched buckets — never corpus×panel. A pair
    * within the radius matches on exactly one probe row, so no
    * distinct pass.
    *
    * Why this kernel keeps a FIXED width while the corpus-sweep and
    * serving kernels are occupancy-governed: the width at a given
    * radius IS the angular net the gate promises to cover, and the
    * candidate count is corpus × panel-collision-rate — LINEAR in
    * the corpus with no within-bucket quadratic term, because the
    * corpus side only ever joins the broadcast panel, never itself.
    * The governed form (`Similarity.governedCrossPairs`) derives the
    * width from the corpus count and scales the radius with it; this
    * pinned form is its reference at a given width. `radius`
    * overrides the rule (2 or 3) for the planted-recall spec that
    * measures what the fixed radius misses.
    */
  def multiProbeCrossPairs(corpus: DataFrame, panel: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nBits: Int = 8, dims: Int = 64, radius: Int = -1): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("bucket", srpBucket(col("cv"), nBits, dims))
    // the panel is small BY CONTRACT (a benchmark suite), so while
    // panel × probe-multiplier rows fit [[ProbeBroadcastLimitKey]]
    // the probe index is force-broadcast and the corpus side never
    // exchanges AT ALL — one narrow map (bucket) + two broadcast
    // hash joins (bucket strings, then the panel-sized vector
    // attach), zero shuffles over 100 TB of vectors
    // (plan-spec-pinned). Past the limit both hints DROP and the
    // join degrades to a shuffle on `bucket` — the Tombstones
    // count-and-degrade discipline (the count is panel-sized: one
    // lineage cut + a tiny count job, cheap next to any corpus
    // read).
    val p0 = Checkpoints.cut(panelVectors(panel, idCol, vecCol))
    val limit = probeBroadcastLimit(corpus)
    val panelN = p0.count()
    val probes = probeIndexFrom(p0, nBits, dims, radius)
    c.join(maybeBroadcast(probes, panelN * probeMultiplier(nBits, radius),
        limit), Seq("bucket"))
      .join(maybeBroadcast(p0, panelN, limit), Seq("bench_id"))
      .withColumn("sim", cosine(col("cv"), col("qv")))
      .filter(col("sim") > threshold)
      .select(col("corpus_id"), col("bench_id"), col("sim"))
  }

  /** Brute-force MAXIMUM-INNER-PRODUCT top-k: `bruteKnn` with the
    * inner product as the score. Inner product is the serving-time
    * objective when embeddings encode popularity/quality in their
    * NORM (recommender two-tower models, unnormalized retrieval
    * heads) — cosine deliberately erases exactly that signal. Same
    * broadcast-queries/no-corpus-shuffle shape as bruteKnn.
    */
  def bruteMips(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("ip").desc, col("nid"))
    c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("ip", dot(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("ip"))
  }

  /** The MIPS serving-geometry census — `Similarity.mipsWidthRow`
    * surfaced as one row: (n, nbits_count, reach_p2, nbits, cap, narrowed). A
    * `narrowed = true` row is the DETECTION of the pole/equator
    * collapse the r17 round measured (norm concentration, e.g. one
    * high-norm outlier inflating M²) — the build already adapted by
    * narrowing, and the census prices what that costs (average
    * occupancy ⌈n/2^nbits⌉ candidates per probed bucket at rerank).
    */
  def mipsGeometryCensus(corpus: DataFrame, idCol: String, vecCol: String,
      targetOccupancy: Int = 16, capFactor: Int = 8, minBits: Int = 4,
      maxBits: Int = 24, dims: Int = 64): DataFrame =
    mipsWidthRow(
      corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv")),
      targetOccupancy, capFactor, minBits, maxBits, dims)
      .select(col("n"), col("nbits_count"), col("reach_p2"), col("nbits"),
        col("cap"), (col("nbits") < col("nbits_count")).as("narrowed"))
}
