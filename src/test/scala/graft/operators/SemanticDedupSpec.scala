package graft.operators

import graft.SparkSpec

class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  test("adaptiveK: floor of 16, then grows with corpus size") {
    assert(SemanticDedup.adaptiveK(0) === 16)
    assert(SemanticDedup.adaptiveK(500) === 16)
    assert(SemanticDedup.adaptiveK(8192) === 16)
    assert(SemanticDedup.adaptiveK(8193) === 17)
    assert(SemanticDedup.adaptiveK(100000) === 196) // ceil(100000/512)
    assert(SemanticDedup.adaptiveK(1000, targetCellSize = 50) === 20)
  }

  test("planted oversized cell is split: per-cell pairwise work stays bounded") {
    // 1600 of 2000 vectors form one dense blob — under a FIXED k=16
    // they would land in one cell and cost C(1600,2) ≈ 1.28M cosine
    // pairs; adaptive k (=40 at targetCellSize 50) must split the
    // blob so no cell's pairwise work explodes.
    val dims = 16
    val blob = (0 until 1600).map { id =>
      (id.toLong, (0 until dims).map(j =>
        (5.0 + 0.4 * math.sin(id * 0.37 + j * 1.3)).toFloat))
    }
    val spread = (1600 until 2000).map { id =>
      (id.toLong, (0 until dims).map(j =>
        (3.0 * math.cos(id * 1.1 + j * 0.7)).toFloat))
    }
    val df = (blob ++ spread).toDF("vec_id", "embedding")
    val out = SemanticDedup.census(df, "vec_id", "embedding",
        tau = 0.9, targetCellSize = 50)
      .select($"cid", $"n_vecs").as[(Long, Long)].collect()
    assert(out.map(_._2).sum === 2000L, "every vector assigned to a cell")
    // k derived, not the floor: enough cells survive to split the blob
    assert(out.length > 16, s"expected >16 surviving cells, got ${out.length}")
    val maxCell = out.map(_._2).max
    assert(maxCell < 1600, s"oversized blob cell must be split, got $maxCell")
    val totalPairs = out.map(n => n._2 * (n._2 - 1) / 2).sum
    val unsplit = 1600L * 1599 / 2
    assert(totalPairs < unsplit / 2,
      s"per-cell pairwise work must be bounded: $totalPairs vs $unsplit unsplit")
  }

  test("large-k codegen’d assignment equals the literal argmin, cell by cell") {
    import org.apache.spark.sql.functions._
    val dims = 8
    val df = (0 until 1200).map { id =>
      (id.toLong, (0 until dims).map(j => (2.0 * math.sin(id * 0.91 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    // k = 300 > LiteralKMax: learning + census take the join path
    val cents = IvfIndex.learnCentroids(df, "vec_id", "embedding", k = 300, iters = 1)
    assert(cents.size > IvfIndex.LiteralKMax)
    val vecs = df.select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val viaLiteral = vecs
      .withColumn("cid", IvfIndex.nearestCid(col("v"), cents))
      .select($"vec_id", $"cid").as[(Long, Int)].collect().toMap
    val viaJoin = vecs
      .select($"vec_id", graft.functions.NearestCell(col("v"), cents).as("cid")).as[(Long, Int)].collect().toMap
    assert(viaJoin === viaLiteral)
    // and the whole census still runs on the join path (k = 1200/4 = 300)
    val out = SemanticDedup.census(df, "vec_id", "embedding",
      tau = 0.9, targetCellSize = 4)
    assert(out.agg(sum($"n_vecs")).head().getLong(0) === 1200L)
  }

  test("census is deterministic and k-derivation matches the entry's oracle formula") {
    val e = graft.GraftSession.table(spark, sf0, "embeddings")
    val n = e.count()
    // the d13 oracle SQL derives greatest(16, ceil(n/512)) — the
    // Scala side must agree for every n (floor regime and growth)
    assert(SemanticDedup.adaptiveK(n) ===
      math.max(16L, math.ceil(n / 512.0).toLong).toInt)
    val a = SemanticDedup.census(e, "vec_id", "embedding", 0.42).collect()
    val b = SemanticDedup.census(e, "vec_id", "embedding", 0.42).collect()
    assert(a.toSeq === b.toSeq)
  }
}
