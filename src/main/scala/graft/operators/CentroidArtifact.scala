package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.SparkSession

/** The learned IVF centroid set as a MATERIALIZED index artifact —
  * the `documentClusters` pattern (LlmQueries) applied to ANN: a
  * serving index learns its centroids ONCE per corpus and every
  * consumer (s3 search, s6 append, d13 SemDeDup cells) reads the
  * artifact instead of re-running Lloyd. That is what makes s6's
  * "append without relearning" true in the EXECUTED plan, not just
  * per-batch asymptotics: the append path fetches the artifact (a
  * k×dims table, driver-bounded by the same argument as IvfIndex's
  * centroid literals) and runs one argmin pass — zero learning jobs
  * (spec-pinned via `learnCount`).
  *
  * Staleness: keyed by (application, corpus path, Hadoop-FS mtime +
  * content summary, full learning config) — a new session or a
  * rewritten corpus relearns; within a session the learning runs at
  * most once per config. The artifact lands under
  * `spark.graft.artifactDir` as a (cid, v) parquet table — the
  * durable form a production index serves from between relearns —
  * and is read back from THAT table (the parquet is the source of
  * truth, not a driver-memory side channel; centroids are 6-decimal
  * rounded, so the roundtrip is exact).
  */
object CentroidArtifact {

  private val loaded =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]
  private val pqLoaded =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[(Int, Seq[Double])]]]
  private val hierLoaded =
    scala.collection.concurrent.TrieMap.empty[String, HierarchicalIvf.HierModel]
  private val learns = new java.util.concurrent.atomic.AtomicLong
  private val pqLearns = new java.util.concurrent.atomic.AtomicLong
  private val hierLearns = new java.util.concurrent.atomic.AtomicLong

  /** How many actual Lloyd learnings have run (artifact misses) —
    * the spec hook pinning "append path relearns nothing".
    */
  def learnCount: Long = learns.get

  /** How many PQ codebook learnings (one = all m sub-learnings) have
    * run — the spec hook pinning that warm s7/s8 calls relearn
    * nothing.
    */
  def pqLearnCount: Long = pqLearns.get

  /** How many hierarchical (two-level) learnings have run — the spec
    * hook pinning that a warm hier consumer relearns nothing.
    */
  def hierLearnCount: Long = hierLearns.get

  /** Centroids for the embeddings corpus at `dir`, learned at most
    * once per (session, corpus version, config). The default
    * NEGATIVE `sampleRate` is the GOVERNED learning set
    * (`IvfIndex.governedLearnRate`): full-corpus Lloyd below 32,768
    * vectors (driver scales — results unchanged), a bounded
    * power-of-two hash-sample above it; the oracles replay the same
    * rule from `count(*)`.
    */
  def embeddingCentroids(spark: SparkSession, dir: String, k: Int,
      iters: Int = 2, dims: Int = 64,
      sampleRate: Double = -1.0,
      learnBase: Long = 0L): Seq[(Int, Seq[Double])] = {
    val src = s"$dir/embeddings.parquet"
    val srKey = if (sampleRate < 0) "gov" else sampleRate.toString
    val key = s"${spark.sparkContext.applicationId}|$src|${Artifacts.corpusStamp(spark, src)}" +
      s"|k=$k|it=$iters|d=$dims|sr=$srKey|lb=$learnBase"
    val path = Artifacts.materialize(spark, "ivf", key) { out =>
      val e = table(spark, dir, "embeddings")
      val cents = IvfIndex.learnCentroids(e, "vec_id", "embedding",
        k = k, iters = iters, dims = dims, sampleRate = sampleRate,
        learnBase = learnBase)
      learns.incrementAndGet()
      import spark.implicits._
      cents.toDF("cid", "v").coalesce(1).write.parquet(out)
    }
    loaded.getOrElseUpdate(path,
      spark.read.parquet(path).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1))
  }

  /** PQ codebooks for the embeddings corpus at `dir`, learned at most
    * once per (session, corpus version, config) — the same artifact
    * contract for the OTHER learned half of the serving index (s7
    * encodes with it, s8 scores ADC against it). Persisted as one
    * (sub, cid, v) parquet table; sub-learnings only run on a miss.
    */
  def pqCodebooks(spark: SparkSession, dir: String, m: Int, k: Int,
      iters: Int = 2, dims: Int = 64,
      sampleRate: Double = -1.0): Seq[Seq[(Int, Seq[Double])]] = {
    val src = s"$dir/embeddings.parquet"
    val srKey = if (sampleRate < 0) "gov" else sampleRate.toString
    val key = s"${spark.sparkContext.applicationId}|$src|${Artifacts.corpusStamp(spark, src)}" +
      s"|pq|m=$m|k=$k|it=$iters|d=$dims|sr=$srKey"
    val path = Artifacts.materialize(spark, "pq", key) { out =>
      val e = table(spark, dir, "embeddings")
      val books = ProductQuantizer.learnCodebooks(e, "vec_id", "embedding",
        m = m, dims = dims, k = k, iters = iters, sampleRate = sampleRate)
      pqLearns.incrementAndGet()
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, j) =>
        book.map { case (cid, v) => (j, cid, v) }
      }.toDF("sub", "cid", "v").coalesce(1).write.parquet(out)
    }
    pqLoaded.getOrElseUpdate(path, {
      val rows = spark.read.parquet(path).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_._2).map(t => t._2 -> t._3).toSeq
      }
    })
  }

  /** The hierarchical (two-level) model for the embeddings corpus at
    * `dir`, learned at most once per (session, corpus version,
    * config) — the same artifact contract as the flat centroids and
    * PQ codebooks, for the >LiteralKMax cell counts the two-level
    * index exists for. Persisted as one (ccid, fid, v) parquet table
    * plus the coarse rows under fid = 0 (fine cids are ≥ 1 by the
    * stride construction, so 0 is collision-free); reloaded from the
    * parquet (6-decimal rounding makes the roundtrip exact).
    */
  def hierModel(spark: SparkSession, dir: String, kCoarse: Int,
      kFinePerCell: Int, iters: Int = 2,
      dims: Int = 64): HierarchicalIvf.HierModel = {
    val src = s"$dir/embeddings.parquet"
    val key = s"${spark.sparkContext.applicationId}|$src|${Artifacts.corpusStamp(spark, src)}" +
      s"|hier|kc=$kCoarse|kf=$kFinePerCell|it=$iters|d=$dims"
    val path = Artifacts.materialize(spark, "hier", key) { out =>
      val e = table(spark, dir, "embeddings")
      val model = HierarchicalIvf.learn(e, "vec_id", "embedding",
        kCoarse = kCoarse, kFinePerCell = kFinePerCell, iters = iters,
        dims = dims)
      hierLearns.incrementAndGet()
      import spark.implicits._
      (model.coarse.map { case (c, v) => (c, 0, v) } ++
        model.fine.flatMap { case (c, cells) =>
          cells.map { case (fid, v) => (c, fid, v) } })
        .toDF("ccid", "fid", "v").coalesce(1).write.parquet(out)
    }
    hierLoaded.getOrElseUpdate(path, {
      val rows = spark.read.parquet(path).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      val coarse = rows.filter(_._2 == 0).map(t => t._1 -> t._3).toSeq.sortBy(_._1)
      val fine = rows.filter(_._2 > 0).groupBy(_._1).map { case (c, rs) =>
        c -> rs.sortBy(_._2).map(t => t._2 -> t._3).toSeq
      }.toSeq.sortBy(_._1)
      HierarchicalIvf.HierModel(coarse, fine, kFinePerCell)
    })
  }

  private val adaptiveLoaded = scala.collection.concurrent.TrieMap
    .empty[String, (Long, HierarchicalIvf.HierModel)]

  /** Adaptive-kf two-level model over a DERIVED corpus (d26's planted
    * contamination universe), learned at most once per (session,
    * corpus version) — the same artifact contract as [[hierModel]]
    * for the handoff kernel whose fine-cell count is CORPUS-DERIVED
    * (kf = kfOf(n)), so the corpus count and the model must age
    * together. r19 optimization: d26 re-ran the full two-level
    * learning (coarse Lloyd + seeding + joint routed passes, ~10
    * corpus jobs) on EVERY call while its family twin s13 served the
    * memoized artifact; only the learning memoizes — the pair sweep
    * still computes from the parquet inputs per run. Persisted as the
    * (ccid, fid, v) table (coarse under fid = 0) plus ONE meta row
    * (ccid = -1, fid = -1, v = [n]) carrying the governed count —
    * n ≤ 2^53 is exact in a double, and the negative ids are
    * collision-free (real ccids/fids are ≥ 1 by construction). Both
    * cold and warm calls serve the PARQUET roundtrip (6-decimal
    * rounding makes it exact), so every run reads the identical
    * model.
    */
  def adaptiveHierModel(spark: SparkSession, dir: String, tag: String,
      corpus: => org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, kCoarse: Int, kfOf: Long => Int, iters: Int = 2,
      dims: Int = 64): (Long, HierarchicalIvf.HierModel) = {
    val src = s"$dir/embeddings.parquet"
    val key = s"${spark.sparkContext.applicationId}|$src|${Artifacts.corpusStamp(spark, src)}" +
      s"|hier-ad|$tag|kc=$kCoarse|it=$iters|d=$dims"
    val path = Artifacts.materialize(spark, "hierad", key) { out =>
      val c = corpus
      val n = c.count()
      val kf = kfOf(n)
      val model = HierarchicalIvf.learn(c, idCol, vecCol,
        kCoarse = kCoarse, kFinePerCell = kf, iters = iters, dims = dims,
        sampleRate = IvfIndex.governedLearnRate(n,
          IvfIndex.governedLearnBase(kCoarse * kf)))
      hierLearns.incrementAndGet()
      import spark.implicits._
      ((-1, -1, Seq(n.toDouble)) +:
        (model.coarse.map { case (cc, v) => (cc, 0, v) } ++
          model.fine.flatMap { case (cc, cells) =>
            cells.map { case (fid, v) => (cc, fid, v) }
          }))
        .toDF("ccid", "fid", "v").coalesce(1).write.parquet(out)
    }
    adaptiveLoaded.getOrElseUpdate(path, {
      val rows = spark.read.parquet(path).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      val n = rows.find(_._1 == -1).map(_._3.head.toLong)
        .getOrElse(sys.error(s"adaptive hier artifact at $path lost its meta row"))
      val coarse = rows.filter(t => t._1 > 0 && t._2 == 0)
        .map(t => t._1 -> t._3).toSeq.sortBy(_._1)
      val fine = rows.filter(_._2 > 0).groupBy(_._1).map { case (c, rs) =>
        c -> rs.sortBy(_._2).map(t => t._2 -> t._3).toSeq
      }.toSeq.sortBy(_._1)
      (n, HierarchicalIvf.HierModel(coarse, fine, kfOf(n)))
    })
  }
}
