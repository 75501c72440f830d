package graft.operators

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** CentroidArtifact: the learned IVF index materializes once per
  * corpus version and every consumer serves from it — in particular
  * s6's "append WITHOUT relearning" headline holds in the executed
  * plan (zero Lloyd learnings on a warm artifact).
  */
class CentroidArtifactSpec extends SparkSpec {

  /** `df` landed as the single-file corpus `dir/embeddings.parquet`,
    * replacing it in place.
    */
  private def stage(dir: String, df: DataFrame): Unit = {
    val scratch = s"$dir/stage"
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Runs `body` with `conf` set, restoring the previous values. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("learning runs at most once per corpus version; the parquet roundtrip is exact") {
    val a = CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    val once = Artifacts.buildCount("ivf")
    val b = CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    assert(Artifacts.buildCount("ivf") === once,
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
    val warm = Artifacts.buildCount("ivf")
    assert(LlmQueries.s6IvfAppend(spark, sf0).collect().nonEmpty)
    assert(Artifacts.buildCount("ivf") === warm,
      "append-without-relearning must hold in the executed plan")
    assert(LlmQueries.s3KnnIvf(spark, sf0).collect().nonEmpty)
    assert(Artifacts.buildCount("ivf") === warm,
      "search must serve from the same artifact")
  }

  test("PQ codebooks learn once and roundtrip exactly; warm s7/s8 relearn nothing") {
    val a = CentroidArtifact.pqCodebooks(spark, sf0, m = 4, k = 16)
    val once = Artifacts.buildCount("pq")
    val b = CentroidArtifact.pqCodebooks(spark, sf0, m = 4, k = 16)
    assert(Artifacts.buildCount("pq") === once,
      "second fetch must serve the artifact, not relearn")
    assert(a === b)
    val fresh = ProductQuantizer.learnCodebooks(
      GraftSession.table(spark, sf0, "embeddings"), "vec_id", "embedding",
      m = 4, dims = 64, k = 16, iters = 2)
    assert(a === fresh,
      "the (sub, cid, v) parquet roundtrip must be exact (6-decimal centroids)")
    // both serving entries run warm without any learning
    CentroidArtifact.embeddingCentroids(spark, sf0, k = 16)
    val warmIvf = Artifacts.buildCount("ivf")
    assert(LlmQueries.s7PqEncode(spark, sf0).collect().nonEmpty)
    assert(LlmQueries.s8IvfPq(spark, sf0).collect().nonEmpty)
    assert(Artifacts.buildCount("pq") === once &&
      Artifacts.buildCount("ivf") === warmIvf,
      "warm s7/s8 must serve both learned artifacts, relearning neither")
  }

  test("hier model learns once, roundtrips exactly, and warm consumers relearn nothing") {
    val a = CentroidArtifact.hierModel(spark, sf0, kCoarse = 4, kFinePerCell = 4)
    val once = Artifacts.buildCount("hier")
    val b = CentroidArtifact.hierModel(spark, sf0, kCoarse = 4, kFinePerCell = 4)
    assert(Artifacts.buildCount("hier") === once,
      "second fetch must serve the artifact, not relearn")
    assert(a === b)
    // the parquet roundtrip is exact (6-decimal rounding both sides)
    val fresh = HierarchicalIvf.learn(
      GraftSession.table(spark, sf0, "embeddings"), "vec_id", "embedding",
      kCoarse = 4, kFinePerCell = 4, iters = 2)
    assert(a === fresh)
    // a warm ASSIGNMENT pass — the consumer path — runs zero learnings
    val e = GraftSession.table(spark, sf0, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    assert(HierarchicalIvf.assignCells(e, "vec_id", "v", a).count() > 0)
    assert(Artifacts.buildCount("hier") === once,
      "warm two-level assignment must not relearn")
  }

  test("a rewritten corpus changes the staleness stamp and relearns") {
    val dir = tmpDir(s"centroid_stale_${System.nanoTime()}")
    val e = spark.read.parquet(s"$sf0/embeddings.parquet")
    stage(dir, e)
    val first = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    val n1 = Artifacts.buildCount("ivf")
    // in-place rewrite with different content: stamp (mtime + content
    // summary) changes, so the artifact is stale and must relearn
    stage(dir, e.filter(col("vec_id") % 2 === 0))
    val second = CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
    assert(Artifacts.buildCount("ivf") === n1 + 1,
      "a rewritten corpus must trigger exactly one relearning")
    assert(first !== second, "half the corpus learns different centroids")
  }

  test("shared scope: a learned model another driver committed is served with zero builds") {
    val dir = tmpDir(s"centroid_shared_${System.nanoTime()}")
    stage(dir, spark.read.parquet(s"$sf0/embeddings.parquet"))
    withConf(Artifacts.ScopeKey -> "shared",
        "spark.graft.artifactDir" -> tmpDir(s"centroid_shared_art_${System.nanoTime()}")) {
      // the other driver's commit of the default k=16 learning, under
      // the store's key for it; a planted one-cell model as content,
      // so only a served foreign artifact can produce it
      val stamp = Artifacts.corpusStamp(spark, s"$dir/embeddings.parquet")
      val key = s"ivf|shared|$dir|$stamp|k=16|it=2|d=64|sr=-1.0|lb=0"
      val planted = Seq(7 -> Seq.fill(64)(0.5))
      import spark.implicits._
      Artifacts.commitManifest(spark, Artifacts.path(spark, "ivf", key), key)(
        planted.toDF("cid", "v").coalesce(1).write.parquet(_))
      val before = Artifacts.buildCount("ivf")
      assert(CentroidArtifact.embeddingCentroids(spark, dir, k = 16) === planted,
        "shared scope must serve the fleet's committed model")
      assert(Artifacts.buildCount("ivf") === before, "and must not relearn it")
    }
  }

  test("gc keeps every config of the current learned-model stamp and prunes a stale stamp") {
    val dir = tmpDir(s"centroid_gc_${System.nanoTime()}")
    val art = tmpDir(s"centroid_gc_art_${System.nanoTime()}")
    val e = spark.read.parquet(s"$sf0/embeddings.parquet")
    // this corpus's centroid manifests: file name -> (version dir, key)
    def manifests(): Map[String, (String, String)] =
      new java.io.File(art).listFiles().toSeq
        .filter(f => f.getName.startsWith("ivf_") && f.getName.endsWith(".manifest"))
        .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split('\n'))
        .collect { case (n, Array(v, k, _*)) if k.contains(dir) => n -> (v, k) }.toMap
    withConf("spark.graft.artifactDir" -> art) {
      stage(dir, e)
      CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
      val stale = manifests()
      stage(dir, e.filter(col("vec_id") % 2 === 0))
      CentroidArtifact.embeddingCentroids(spark, dir, k = 16)
      CentroidArtifact.embeddingCentroids(spark, dir, k = 32)
      val current = manifests() -- stale.keys
      assert(stale.size === 1 && current.size === 2, s"stale $stale, current $current")
      val deleted = Artifacts.gc(spark, live = Seq(("ivf", dir, "embeddings.parquet")),
        keepStamps = 0, graceMs = 60000L)
      assert(manifests() === current,
        s"both configs of the current stamp survive, the stale one goes (deleted: $deleted)")
      assert(!new java.io.File(art, stale.head._2._1).exists(),
        "the stale stamp's version dir goes with its manifest")
      assert(current.values.forall(t => new java.io.File(art, t._1).exists()))
      // the current models still serve from their memo, unrebuilt
      val n = Artifacts.buildCount("ivf")
      CentroidArtifact.embeddingCentroids(spark, dir, k = 32)
      assert(Artifacts.buildCount("ivf") === n)
    }
  }
}
