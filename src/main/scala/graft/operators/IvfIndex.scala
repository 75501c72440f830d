package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** True IVF (inverted-file) ANN: k-means-learned centroids partition
  * the corpus into cells; queries probe only the `nprobe` nearest
  * cells and rerank exactly inside them (SURVEY.md §2.4 s3).
  *
  * Learning is deterministic AND engine-portable, so the whole index
  * — seeding, Lloyd iterations, assignment, probe, rerank — replays
  * in the DuckDB oracle from first principles:
  *   - seeds = the k vectors with the smallest (md5(id), id) — a
  *     deterministic pseudo-random draw both engines compute
  *     identically;
  *   - distance = sequential-order Σ(v_i−c_i)² in doubles, the same
  *     arithmetic DuckDB's `list_distance` performs (modulo its final
  *     monotone sqrt), so argmin assignment agrees bit-for-bit;
  *   - new centroids = per-dimension means ROUNDED to 6 decimals —
  *     the rounding absorbs summation-order float drift between
  *     engines (and between cluster topologies, so local[32] and a
  *     1000-executor run learn the same index).
  *
  * Scale design: each Lloyd iteration is ONE distributed aggregation
  * pass (partial map-side combine; shuffle carries k rows); the
  * driver holds only the k×dims centroid matrix, which re-enters the
  * next pass as plan literals — no per-row driver work, no O(n)
  * collect. Search shuffles the corpus once on the learned cell id;
  * queries broadcast (queries ≪ corpus); rerank is the codegen'd
  * dot-product top-k inside probed cells only.
  */
object IvfIndex {

  /** Historical tree-size ceiling of the literal centroid-expression
    * forms. Since r20 every assignment/probe path runs the compact
    * codegen'd expressions (NearestCell / ProbeCells / CentroidErr2)
    * at any k, so this no longer switches anything — it survives as
    * the PQ code-width sanity bound (`learnCodebooks` requires
    * k ≤ LiteralKMax: a PQ "byte" code wider than this is a misuse).
    */
  val LiteralKMax = 256

  /** The nearest centroid id (ties by cid) — the codegen'd
    * [[graft.functions.NearestCell]] loop, spec-pinned bit-identical
    * to the literal `array_min(struct(d, cid))` form at any k (r20:
    * the literal form was the default below LiteralKMax; its
    * interpreted zip_withs and per-use k×dims literal tree made it
    * strictly worse at every k — see NearestCell's scaladoc).
    */
  def nearestCid(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    graft.functions.NearestCell(v, cents)

  /** The `nprobe` nearest centroid ids, nearest first — the codegen'd
    * [[graft.functions.ProbeCells]] selection, spec-pinned
    * bit-identical to the literal sort-and-slice form.
    */
  def probeCids(v: Column, cents: Seq[(Int, Seq[Double])], nprobe: Int): Column =
    graft.functions.ProbeCells(v, cents, nprobe)

  /** Learning-set governance (r16) — the sample RATE for centroid /
    * codebook learning, derived from the corpus count by integer
    * arithmetic both engines replay exactly: below `base` vectors the
    * learning set is the corpus (rate 1.0 — driver-scale results
    * never move); above it the rate halves per count doubling
    * (rate = 2^−j, j = bitlength(⌊n/base⌋), clamped to 24), so the
    * learning set stays in [base/2, base) at ANY corpus size. The
    * rates are exact powers of two, so `Sampling.hexThreshold` is an
    * exact hex literal and the DuckDB mirror
    * (`printf('%08x', 4294967296 >> j)`) is byte-identical. Centroid
    * QUALITY needs a bounded sample, not every vector — only the
    * final assignment is a full pass (the standard k-means-at-scale
    * shape); without this, d13's adaptive-k learning alone was 1,362 s
    * of the sf10 spot-sweep.
    */
  def governedLearnRate(n: Long, base: Long = 32768L): Double =
    if (n < base) 1.0
    else {
      val j = math.min(24,
        64 - java.lang.Long.numberOfLeadingZeros(n / base))
      1.0 / (1L << j)
    }

  /** The k-AWARE sample base: a fixed 32,768-row sample silently caps
    * the number of seedable centroids — an adaptive k = n/cellSize
    * outgrows it (k ≈ sample at n ≈ 8.4 M, k > sample past 16.7 M),
    * collapsing centroid quality and, past the cap, cell COUNT, which
    * reverts the within-cell pairwise work the cell-size bound
    * promises is linear. The base therefore also scales with k:
    * max(32768, 32·k) keeps ≥ 16 sample points per requested cell at
    * any corpus size (integer arithmetic, oracle-mirrored as
    * GREATEST(32768, 32·k)).
    */
  def governedLearnBase(k: Int): Long = math.max(32768L, 32L * k)

  /** Deterministic seeded k-means (Lloyd). Returns (cid → centroid)
    * sorted by cid; a cell that loses all members drops out (both
    * engines drop it identically). `iters` distributed agg passes.
    *
    * `sampleRate < 1` learns on a deterministic md5 hash-sample — the
    * standard practice at corpus scale (centroid quality needs a
    * sample, not every vector; only the final ASSIGNMENT is a full
    * pass). The sample is engine-portable (same md5 rule as
    * `Sampling.hashSample`), so a sampled index stays SQL-replayable.
    * A NEGATIVE `sampleRate` asks for the governed rate
    * ([[governedLearnRate]] over this frame's count). `learnBase`
    * overrides the governed rate's base (≤ 0 = the k-aware
    * [[governedLearnBase]] default) — the production value is always
    * the default; the override exists so the SAMPLED branch (j ≥ 1,
    * otherwise reachable only past 32,768 vectors) is exercised by
    * the driver-scale oracle gate (r16 ADVICE: CI never ran it).
    */
  def learnCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 2, dims: Int = 64,
      sampleRate: Double = 1.0, learnBase: Long = 0L): Seq[(Int, Seq[Double])] = {
    val all = df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
    // negative rate = GOVERNED: resolve from the corpus count (one
    // count-pushdown pass, learn-time only) at the k-aware base, so
    // the sample always holds ≥ 16 points per requested cell
    val rate =
      if (sampleRate < 0) governedLearnRate(all.count(),
        if (learnBase > 0) learnBase else governedLearnBase(k))
      else sampleRate
    val e =
      if (rate >= 1.0) all
      else all.filter(substring(md5(col("id").cast("string")), 1, 8) <
        Sampling.hexThreshold(rate))
    val seeds = e.orderBy(md5(col("id").cast("string")), col("id")).limit(k)
      .select(col("v")).collect()
    var cents: Seq[(Int, Seq[Double])] = seeds.toSeq.zipWithIndex.map {
      case (r, i) => (i + 1) -> r.getSeq[Double](0)
    }
    for (_ <- 0 until iters) {
      // every k runs the same NearestCell loop now (r20) — the
      // literal-vs-NearestCell switch was only a tree-size escape
      val assigned = e.withColumn("cid", nearestCid(col("v"), cents))
      // per-dimension means via posexplode + (cid, pos) groupBy: a
      // 3-column agg instead of `dims` generated aggregate columns —
      // far smaller codegen, same partial-agg shuffle shape (k·dims
      // result rows), identical math
      val rows = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("x")), 6).as("m"))
        .collect()
      cents = rows.toSeq
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
        .toSeq.sortBy(_._1)
    }
    cents
  }

  /** IVF top-k search: corpus shuffled ONCE on its learned cell id;
    * each query explodes into its `nprobe` probe cells; exact cosine
    * rerank + two-phase top-k inside probed cells.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Seq[(Int, Seq[Double])],
      nprobe: Int = 2): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cid", nearestCid(col("cv"), cents))
    val q = queries.select(col(idCol).as("qid"), toDouble(col(vecCol)).as("qv"))
      .withColumn("cid", explode(probeCids(col("qv"), cents, nprobe)))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    c.join(q, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))
  }
}
