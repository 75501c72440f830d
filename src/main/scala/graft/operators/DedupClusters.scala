package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-components cluster assignment over near-duplicate
  * candidate pairs (SURVEY.md §2.3 `d9_dedup_clusters`).
  *
  * Pairwise near-dup verdicts (d2/d4/d5 outputs) are not enough to
  * deduplicate a corpus: near-duplication is not transitive, but the
  * retention policy must be — if A≈B and B≈C, keeping "one of each
  * pair" can keep two of {A,B,C}. The standard fix (used by every
  * production fuzzy-dedup pipeline) is to treat verified pairs as
  * edges, compute connected components, and keep one representative
  * per component. This operator is that missing step: edges in,
  * `(node, cluster_id)` out, cluster_id = min doc id reachable.
  *
  * Algorithm: distributed min-label propagation with pointer jumping,
  * run to the unique fixpoint.
  *   - neighbor step: a node's label shrinks to the min label among
  *     its neighbors (one equi-join on node id + one partial-agg min);
  *   - pointer jump: a node's label shrinks to its LABEL's label
  *     (labels self-join) — this halves chain depth every round, so
  *     convergence is O(log diameter) instead of O(diameter). A
  *     duplicate cluster from gap-windowed candidates is chain-shaped
  *     (consecutive ids), so plain propagation would need
  *     diameter ≈ cluster-size rounds; jumping needs ~log₂ of that.
  * Each round is a constant number of shuffles on the node id; the
  * driver holds only the changed-row count. Lineage is cut per round
  * with `Checkpoints.cut` (eager; reliable checkpoint when
  * `spark.graft.checkpointDir` is set) so the plan stays constant-size
  * (iterative DataFrame loops otherwise stack O(rounds) joins into
  * one plan and the optimizer re-walks it all every round).
  *
  * Determinism: the fixpoint (min reachable id per node) is unique
  * whatever the execution/iteration order, so results are
  * engine-portable — the DuckDB oracle replays it with a recursive
  * CTE and must agree hash-exactly.
  */
object DedupClusters {

  /** Connected components of the undirected graph given by
    * (`srcCol`, `dstCol`) edge rows. Returns one row per distinct
    * node: (`node`, `cluster_id`).
    *
    * `maxRounds` is a safety valve only — with pointer jumping the
    * fixpoint arrives in O(log diameter) rounds (a 2^50-long chain
    * would converge in ~50).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // undirected: materialize both directions once, reused every round
    // (Checkpoints.cut — reliable checkpoint when configured)
    val adj = Checkpoints.cut(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))), eager = true)
    var labels = Checkpoints.cut(
      adj.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), eager = true)
    // convergence check: labels only ever DECREASE, so Σlabel strictly
    // decreases every round until the fixpoint — one cheap agg over the
    // materialized round result instead of a join+count. decimal(38,0)
    // so the sum cannot overflow at any node-count × id-range.
    // sum() over zero rows is null — an EMPTY edge set (no verified
    // pairs) must yield an empty result, not an NPE
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // min label among neighbors
      val viaEdge = adj.join(labels, adj("src") === labels("node"))
        .select(adj("dst").as("node"), col("label"))
      // pointer jump: label of my label
      val lab2 = labels.select(col("node").as("l_node"), col("label").as("l_label"))
      val viaJump = labels.join(lab2, labels("label") === lab2("l_node"))
        .select(labels("node"), col("l_label").as("label"))
      // (a second jump per round was tried and measured SLOWER at
      // sf0.1 — the extra self-join's recompute outweighs the saved
      // rounds; one jump per round is the sweet spot)
      val next = Checkpoints.cut(
        labels.select("node", "label")
          .union(viaEdge).union(viaJump)
          .groupBy("node").agg(min(col("label")).as("label")), eager = true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Fold a BATCH of newly verified pairs into an EXISTING cluster
    * assignment without re-running the corpus pipeline — the
    * incremental companion to the materialized cluster artifact
    * (d10 keeps the corpus indexes incremental; this keeps the
    * cluster table incremental).
    *
    * Existing clusters re-enter as STAR edges (node → its cluster
    * id, depth 1 by construction), unioned with the batch edges, and
    * the min-label fixpoint re-runs. Because every old component is
    * already a star, propagation work is O(log) of the NEW bridge
    * structure — a batch that merges two million-doc clusters costs
    * rounds proportional to the batch's chain depth, never the
    * corpus diameter, and the corpus text/candidate pipeline is
    * never touched. The fixpoint is the same unique min-reachable-id
    * labeling, so merging incrementally or recomputing from all
    * edges yields IDENTICAL clusters (spec-pinned).
    *
    * `labels`: (node, cluster_id) — the current artifact;
    * `newEdges`: (srcCol, dstCol) verified pairs, which may
    * reference brand-new nodes. Returns the updated (node,
    * cluster_id) table.
    */
  def mergeBatch(labels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val star = labels.select(col("node").cast("long").as("s"),
      col("cluster_id").cast("long").as("d"))
    val e = newEdges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    connectedComponents(star.unionByName(e), "s", "d")
  }
}
