package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.{Row, SparkSession}

/** The learned IVF centroid set as a MATERIALIZED index artifact —
  * the `documentClusters` pattern (LlmQueries) applied to ANN: a
  * serving index learns its centroids ONCE per corpus and every
  * consumer (s3 search, s6 append, d13 SemDeDup cells) reads the
  * artifact instead of re-running Lloyd. That is what makes s6's
  * "append without relearning" true in the EXECUTED plan, not just
  * per-batch asymptotics: the append path fetches the artifact (a
  * k×dims table, driver-bounded by the same argument as IvfIndex's
  * centroid literals) and runs one argmin pass — zero learning jobs
  * (spec-pinned via `Artifacts.buildCount`).
  *
  * Every model here goes through the store's one learned-model loader
  * ([[Artifacts.learned]]) under the store's one key (scope, corpus
  * version, full learning config): a rewritten corpus relearns, a new
  * session relearns under the default `app` scope, and `shared` scope
  * serves a fleet one learning per corpus version and config. The
  * parquet table under `spark.graft.artifactDir` is the durable form
  * a production index serves from between relearns.
  */
object CentroidArtifact {

  /** Centroids for the embeddings corpus at `dir`, learned at most
    * once per (scope, corpus version, config). The default
    * NEGATIVE `sampleRate` is the GOVERNED learning set
    * (`IvfIndex.governedLearnRate`): full-corpus Lloyd below 32,768
    * vectors (driver scales — results unchanged), a bounded
    * power-of-two hash-sample above it; the oracles replay the same
    * rule from `count(*)`.
    */
  def embeddingCentroids(spark: SparkSession, dir: String, k: Int,
      iters: Int = 2, dims: Int = 64,
      sampleRate: Double = -1.0,
      learnBase: Long = 0L): Seq[(Int, Seq[Double])] =
    Artifacts.learned(spark, "ivf", dir, "embeddings.parquet",
        s"k=$k|it=$iters|d=$dims|sr=$sampleRate|lb=$learnBase") {
      import spark.implicits._
      IvfIndex.learnCentroids(table(spark, dir, "embeddings"), "vec_id", "embedding",
        k = k, iters = iters, dims = dims, sampleRate = sampleRate,
        learnBase = learnBase).toDF("cid", "v")
    }(_.map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1))

  /** PQ codebooks for the embeddings corpus at `dir`, learned at most
    * once per (scope, corpus version, config) — the same artifact
    * contract for the OTHER learned half of the serving index (s7
    * encodes with it, s8 scores ADC against it). Persisted as one
    * (sub, cid, v) parquet table; sub-learnings only run on a miss.
    */
  def pqCodebooks(spark: SparkSession, dir: String, m: Int, k: Int,
      iters: Int = 2, dims: Int = 64,
      sampleRate: Double = -1.0): Seq[Seq[(Int, Seq[Double])]] =
    Artifacts.learned(spark, "pq", dir, "embeddings.parquet",
        s"m=$m|k=$k|it=$iters|d=$dims|sr=$sampleRate") {
      import spark.implicits._
      ProductQuantizer.learnCodebooks(table(spark, dir, "embeddings"), "vec_id",
        "embedding", m = m, dims = dims, k = k, iters = iters, sampleRate = sampleRate)
        .zipWithIndex.flatMap { case (book, j) => book.map { case (cid, v) => (j, cid, v) } }
        .toDF("sub", "cid", "v")
    } { rows =>
      rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_._2).map(t => t._2 -> t._3).toSeq }
    }

  /** A two-level model as (ccid, fid, v) rows, the coarse rows under
    * fid = 0 (fine cids are ≥ 1 by the stride construction, so 0 is
    * collision-free).
    */
  private def hierRows(model: HierarchicalIvf.HierModel): Seq[(Int, Int, Seq[Double])] =
    model.coarse.map { case (c, v) => (c, 0, v) } ++
      model.fine.flatMap { case (c, cells) => cells.map { case (fid, v) => (c, fid, v) } }

  /** [[hierRows]] read back; rows with a negative fid are skipped. */
  private def hierOf(rows: Array[Row], kFinePerCell: Int): HierarchicalIvf.HierModel = {
    val t = rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val coarse = t.filter(_._2 == 0).map(x => x._1 -> x._3).toSeq.sortBy(_._1)
    val fine = t.filter(_._2 > 0).groupBy(_._1).map { case (c, rs) =>
      c -> rs.sortBy(_._2).map(x => x._2 -> x._3).toSeq
    }.toSeq.sortBy(_._1)
    HierarchicalIvf.HierModel(coarse, fine, kFinePerCell)
  }

  /** The hierarchical (two-level) model for the embeddings corpus at
    * `dir`, learned at most once per (scope, corpus version, config)
    * — the same artifact contract as the flat centroids and PQ
    * codebooks, for the >LiteralKMax cell counts the two-level index
    * exists for. Persisted as the [[hierRows]] table.
    */
  def hierModel(spark: SparkSession, dir: String, kCoarse: Int,
      kFinePerCell: Int, iters: Int = 2,
      dims: Int = 64): HierarchicalIvf.HierModel =
    Artifacts.learned(spark, "hier", dir, "embeddings.parquet",
        s"kc=$kCoarse|kf=$kFinePerCell|it=$iters|d=$dims") {
      import spark.implicits._
      hierRows(HierarchicalIvf.learn(table(spark, dir, "embeddings"), "vec_id",
        "embedding", kCoarse = kCoarse, kFinePerCell = kFinePerCell, iters = iters,
        dims = dims)).toDF("ccid", "fid", "v")
    }(hierOf(_, kFinePerCell))

  /** Adaptive-kf two-level model over a DERIVED corpus (d26's planted
    * contamination universe), learned at most once per (scope,
    * corpus version) — the same artifact contract as [[hierModel]]
    * for the handoff kernel whose fine-cell count is CORPUS-DERIVED
    * (kf = kfOf(n)), so the corpus count and the model must age
    * together. Only the learning (coarse Lloyd + seeding + joint
    * routed passes, ~10 corpus jobs) memoizes — the pair sweep still
    * computes from the parquet inputs per run. Persisted as the
    * [[hierRows]] table plus ONE meta row (ccid = -1, fid = -1,
    * v = [n]) carrying the governed count — n ≤ 2^53 is exact in a
    * double, and the negative ids are collision-free.
    */
  def adaptiveHierModel(spark: SparkSession, dir: String, tag: String,
      corpus: => org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, kCoarse: Int, kfOf: Long => Int, iters: Int = 2,
      dims: Int = 64): (Long, HierarchicalIvf.HierModel) =
    Artifacts.learned(spark, "hierad", dir, "embeddings.parquet",
        s"$tag|kc=$kCoarse|it=$iters|d=$dims") {
      val c = corpus
      val n = c.count()
      val kf = kfOf(n)
      val model = HierarchicalIvf.learn(c, idCol, vecCol,
        kCoarse = kCoarse, kFinePerCell = kf, iters = iters, dims = dims,
        sampleRate = IvfIndex.governedLearnRate(n,
          IvfIndex.governedLearnBase(kCoarse * kf)))
      import spark.implicits._
      ((-1, -1, Seq(n.toDouble)) +: hierRows(model)).toDF("ccid", "fid", "v")
    } { rows =>
      val n = rows.find(_.getInt(0) == -1).map(_.getSeq[Double](2).head.toLong)
        .getOrElse(sys.error(s"adaptive hier artifact for $dir lost its meta row"))
      (n, hierOf(rows, kfOf(n)))
    }
}
