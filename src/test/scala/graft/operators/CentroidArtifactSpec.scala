package graft.operators

import graft.{GraftSession, SparkSpec}

/** CentroidArtifact: the learned IVF index materializes once per
  * corpus version and every consumer serves from it — in particular
  * s6's "append WITHOUT relearning" headline holds in the executed
  * plan (zero Lloyd learnings on a warm artifact).
  */
class CentroidArtifactSpec extends SparkSpec {

  test("learning runs at most once per corpus version; the parquet roundtrip is exact") {
    val a = CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    val once = CentroidArtifact.learnCount
    val b = CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    assert(CentroidArtifact.learnCount === once,
      "second fetch must serve the artifact, not relearn")
    assert(a === b)
    // the artifact equals a fresh deterministic learning bit-for-bit:
    // 6-decimal rounded centroids survive the parquet roundtrip exactly
    val fresh = IvfIndex.learnCentroids(
      GraftSession.table(spark, sf0, "embeddings"), "vec_id", "embedding",
      k = 16, iters = 2, dims = 64)
    assert(a === fresh)
    // and it really is a durable table on disk, not a driver cache
    val base = new java.io.File(Artifacts.artifactBase(spark))
    assert(base.listFiles() != null &&
      base.listFiles().exists(_.getName.startsWith("ivf_")),
      "the (cid, v) parquet artifact must land under the artifact dir")
  }

  test("warm append path (s6) and search path (s3) run ZERO Lloyd learnings") {
    CentroidArtifact.embeddingCentroids(spark, sf0, k = 16) // prime the index
    val warm = CentroidArtifact.learnCount
    assert(LlmQueries.s6IvfAppend(spark, sf0).collect().nonEmpty)
    assert(CentroidArtifact.learnCount === warm,
      "append-without-relearning must hold in the executed plan")
    assert(LlmQueries.s3KnnIvf(spark, sf0).collect().nonEmpty)
    assert(CentroidArtifact.learnCount === warm,
      "search must serve from the same artifact")
  }

  test("PQ codebooks learn once and roundtrip exactly; warm s7/s8 relearn nothing") {
    val a = CentroidArtifact.pqCodebooks(spark, sf0, m = 4, k = 16)
    val once = CentroidArtifact.pqLearnCount
    val b = CentroidArtifact.pqCodebooks(spark, sf0, m = 4, k = 16)
    assert(CentroidArtifact.pqLearnCount === once,
      "second fetch must serve the artifact, not relearn")
    assert(a === b)
    val fresh = ProductQuantizer.learnCodebooks(
      GraftSession.table(spark, sf0, "embeddings"), "vec_id", "embedding",
      m = 4, dims = 64, k = 16, iters = 2)
    assert(a === fresh,
      "the (sub, cid, v) parquet roundtrip must be exact (6-decimal centroids)")
    // both serving entries run warm without any learning
    CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    val warmIvf = CentroidArtifact.learnCount
    assert(LlmQueries.s7PqEncode(spark, sf0).collect().nonEmpty)
    assert(LlmQueries.s8IvfPq(spark, sf0).collect().nonEmpty)
    assert(CentroidArtifact.pqLearnCount === once &&
      CentroidArtifact.learnCount === warmIvf,
      "warm s7/s8 must serve both learned artifacts, relearning neither")
  }

  test("hier model learns once, roundtrips exactly, and warm consumers relearn nothing") {
    val a = CentroidArtifact.hierModel(spark, sf0, kCoarse = 4, kFinePerCell = 4)
    val once = CentroidArtifact.hierLearnCount
    val b = CentroidArtifact.hierModel(spark, sf0, kCoarse = 4, kFinePerCell = 4)
    assert(CentroidArtifact.hierLearnCount === once,
      "second fetch must serve the artifact, not relearn")
    assert(a === b)
    // the parquet roundtrip is exact (6-decimal rounding both sides)
    val fresh = HierarchicalIvf.learn(
      GraftSession.table(spark, sf0, "embeddings"), "vec_id", "embedding",
      kCoarse = 4, kFinePerCell = 4, iters = 2)
    assert(a === fresh)
    // a warm ASSIGNMENT pass — the consumer path — runs zero learnings
    import org.apache.spark.sql.functions._
    val e = GraftSession.table(spark, sf0, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    assert(HierarchicalIvf.assignCells(e, "vec_id", "v", a).count() > 0)
    assert(CentroidArtifact.hierLearnCount === once,
      "warm two-level assignment must not relearn")
  }

  test("a rewritten corpus changes the staleness stamp and relearns") {
    val dir = tmpDir(s"centroid_stale_${System.nanoTime()}")
    val e = spark.read.parquet(s"$sf0/embeddings.parquet")
    def stage(df: org.apache.spark.sql.DataFrame): Unit = {
      val scratch = s"$dir/stage"
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(dir, "embeddings.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    import org.apache.spark.sql.functions.col
    stage(e)
    val first = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    val n1 = CentroidArtifact.learnCount
    // in-place rewrite with different content: stamp (mtime + content
    // summary) changes, so the artifact is stale and must relearn
    stage(e.filter(col("vec_id") % 2 === 0))
    val second = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    assert(CentroidArtifact.learnCount === n1 + 1,
      "a rewritten corpus must trigger exactly one relearning")
    assert(first !== second, "half the corpus learns different centroids")
  }
}
