package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (SURVEY.md §2.2 q_pagerank) — the
  * crawl-authority score web-corpus pipelines use for seed/quality
  * weighting (a page linked by well-linked pages is a better training
  * source than an orphan). d9's connected components is an iterative
  * LABEL fixpoint; this is the iterative NUMERIC one — together they
  * cover the two graph-compute shapes a corpus pipeline needs.
  *
  * Determinism/portability: ranks live in integer MICRO-UNITS
  * (1.0 → 1,000,000), so the per-iteration neighbor sum is EXACT
  * integer arithmetic — no float summation-order drift at all. The
  * only float op per iteration is `round(base + damping·S/outDeg)`
  * on a bit-identical input, so both engines round the same number
  * (6dp rounding of a drifted sum was measured to flip ±1 micro-unit
  * on round-half boundaries — hub nodes sum ~100 grid values, which
  * lands on .5 boundaries constantly). The DuckDB oracle unrolls the
  * same iterations as chained CTEs (aggregates are not allowed in a
  * recursive CTE term, so unrolling IS the replay).
  *
  * Scale: each iteration is ONE equi-join (edges ⋈ ranks on src) +
  * one partial-agg shuffle on dst + a LEFT join to keep in-degree-0
  * nodes; lineage cut per iteration with Checkpoints.cut (d9's
  * pattern; reliable checkpoint when `spark.graft.checkpointDir` is
  * set). Driver holds nothing but the loop counter.
  */
object PageRank {

  val Damping = 0.85
  val Iters = 5
  val Unit = 1000000L

  /** `edges`: (src, dst) rows; `nodes`: one `node` column. Returns
    * (node, rank6) with Σrank ≈ n (node-count scaling). Per-node
    * out-degrees come from a precomputed degree table (one extra agg
    * up front + one narrow join per iteration).
    *
    * Exactness: each src's contribution is `round(u / deg)` — ONE
    * IEEE division of exactly-representable integers, rounded
    * half-up (u ≥ 0), identical in any engine — computed once per
    * SRC (not per edge), then summed per dst in exact integer
    * arithmetic. Dangling nodes (no out-edges) are absent from the
    * degree table and contribute nothing — the standard
    * simplification; their own rank still receives the base term.
    */
  def ranksByDegree(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = Checkpoints.cut(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // the rank frame CARRIES its node's out-degree: one left join at
    // init instead of a node×node degree join every iteration
    var r = Checkpoints.cut(
      nodes.join(deg, nodes("node") === deg("src"), "left")
        .select(nodes("node"), lit(Unit).as("u"), col("d")))
    val base = (1 - Damping) * Unit
    for (_ <- 1 to Iters) {
      val perSrc = r.filter(col("d").isNotNull)
        .select(col("node").as("src"),
          round(col("u") / col("d")).cast("long").as("c"))
      val contrib = e.join(perSrc, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      val prev = r
      r = Checkpoints.cut(
        prev.join(contrib, prev("node") === contrib("dst"), "left")
          .select(prev("node"),
            round(lit(base) + lit(Damping) * coalesce(col("in_sum"), lit(0L)))
              .cast("long").as("u"), prev("d")))
    }
    r.select(col("node"), (col("u") / (Unit.toDouble)).as("rank6"))
  }
}
