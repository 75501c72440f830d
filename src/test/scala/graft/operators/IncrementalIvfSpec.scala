package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The vector index's forward + reverse lifecycle (r16): persisted
  * IVF cell lists with append (zero-relearn, replay-idempotent),
  * retract (tombstoned — dead vectors stop being served as
  * neighbors), resurrection, and compaction. Closes the r15 gap where
  * a takedown left dead vectors in cell lists until a full rebuild.
  */
class IncrementalIvfSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.GraftSession.table(spark, sf0, "embeddings")

  private lazy val cents =
    IvfIndex.learnCentroids(emb, "vec_id", "embedding", k = 8, iters = 2)

  // a deterministic "new vectors" batch: negated sample, offset ids
  // (s6's convention — the cosine-opposite region)
  private def batch: DataFrame =
    emb.filter($"vec_id" % 10 === 3)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => -x).as("embedding"))

  private def served(prefix: String): Set[Long] =
    IncrementalIvf.servedCells(spark, prefix)
      .select($"vec_id").as[Long].collect().toSet

  test("append∘retract round-trips; retract∘append ≡ rebuild") {
    val prefix = "ivfspec_a"
    IncrementalIvf.buildIndex(emb, "vec_id", "embedding", cents, prefix)
    val base = served(prefix)
    IncrementalIvf.appendBatch(spark, batch, "vec_id", "embedding", cents, prefix)
    val withBatch = served(prefix)
    // rebuild-from-scratch over corpus ∪ batch must equal the append
    val rebuilt = "ivfspec_rebuild"
    IncrementalIvf.buildIndex(
      emb.select($"vec_id", $"embedding")
        .unionByName(batch.select($"vec_id", $"embedding")),
      "vec_id", "embedding", cents, rebuilt)
    assert(withBatch === served(rebuilt))
    // cell assignments agree row-for-row, not just id sets
    val a = IncrementalIvf.servedCells(spark, prefix)
      .select($"vec_id", $"cid").as[(Long, Int)].collect().toSet
    val b = IncrementalIvf.servedCells(spark, rebuilt)
      .select($"vec_id", $"cid").as[(Long, Int)].collect().toSet
    assert(a === b)
    // retract the batch → back to the original index
    IncrementalIvf.retractBatch(spark, batch.select($"vec_id"), prefix)
    assert(served(prefix) === base)
    // re-append resurrects WITHOUT duplicate rows (absentOnly + flip)
    IncrementalIvf.appendBatch(spark, batch, "vec_id", "embedding", cents, prefix)
    assert(served(prefix) === withBatch)
    val dupes = IncrementalIvf.servedCells(spark, prefix)
      .groupBy($"vec_id").count().filter($"count" > 1).count()
    assert(dupes === 0L)
  }

  test("a replayed appendBatch is idempotent") {
    val prefix = "ivfspec_b"
    IncrementalIvf.buildIndex(emb, "vec_id", "embedding", cents, prefix)
    IncrementalIvf.appendBatch(spark, batch, "vec_id", "embedding", cents, prefix)
    val once = served(prefix)
    IncrementalIvf.appendBatch(spark, batch, "vec_id", "embedding", cents, prefix)
    assert(served(prefix) === once)
    assert(IncrementalIvf.servedCells(spark, prefix).count() === once.size.toLong)
  }

  test("retracted vectors stop being served as neighbors; others unchanged") {
    val prefix = "ivfspec_c"
    IncrementalIvf.buildIndex(emb, "vec_id", "embedding", cents, prefix)
    val queries = emb.filter($"vec_id" < 8)
    val pre = IncrementalIvf.knnFromIndex(spark, queries, "vec_id",
        "embedding", k = 5, cents, nprobe = 2, prefix = prefix)
      .select($"qid", $"nid").as[(Long, Long)].collect()
    // take down every neighbor the first query currently sees
    val deadIds = pre.filter(_._1 == 0L).map(_._2).toSet
    assert(deadIds.nonEmpty)
    IncrementalIvf.retractBatch(spark,
      deadIds.toSeq.toDF("vec_id"), prefix)
    val post = IncrementalIvf.knnFromIndex(spark, queries, "vec_id",
        "embedding", k = 5, cents, nprobe = 2, prefix = prefix)
      .select($"qid", $"nid").as[(Long, Long)].collect()
    assert(!post.exists(p => deadIds.contains(p._2)),
      "tombstoned vectors must never be served as neighbors")
    // queries whose neighborhood never contained a dead vector are
    // untouched
    val preOk = pre.filter(p => !deadIds.contains(p._2) &&
      pre.filter(_._1 == p._1).forall(q => !deadIds.contains(q._2))).toSet
    assert(preOk.subsetOf(post.toSet))
  }

  test("compact folds the dead set into the physical lists") {
    val prefix = "ivfspec_d"
    IncrementalIvf.buildIndex(emb, "vec_id", "embedding", cents, prefix)
    IncrementalIvf.retractBatch(spark,
      emb.filter($"vec_id" % 7 === 0).select($"vec_id"), prefix)
    val before = served(prefix)
    IncrementalIvf.compact(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"))
    assert(spark.table(s"${prefix}_cells").select($"vec_id")
      .as[Long].collect().toSet === before)
    assert(served(prefix) === before)
  }

  // ---------------------------------------------------------------
  // Policy triggers (r17): the drift census exact on a planted
  // shift; relearn and compact fire at their thresholds, no-op below
  // ---------------------------------------------------------------

  // hand-built 4-dim universe: two cells whose members sit in exact
  // ± pairs around their centroid, so the census is computable by
  // hand — drift 0 before any takedown, exactly 1.0 for cell 1 after
  // its +1 members retract (live mean (−1,0,0,0) vs centroid origin)
  private val planted = Seq(
    (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(-1f, 0f, 0f, 0f)),
    (3L, Seq(1f, 0f, 0f, 0f)), (4L, Seq(-1f, 0f, 0f, 0f)),
    (5L, Seq(11f, 10f, 10f, 10f)), (6L, Seq(9f, 10f, 10f, 10f)))
  private val plantedCents: Seq[(Int, Seq[Double])] = Seq(
    1 -> Seq(0.0, 0.0, 0.0, 0.0), 2 -> Seq(10.0, 10.0, 10.0, 10.0))

  test("drift census exact on a planted shift; relearn trigger fires at threshold") {
    val prefix = "ivfspec_t"
    IncrementalIvf.buildIndex(planted.toDF("vec_id", "embedding"),
      "vec_id", "embedding", plantedCents, prefix, buckets = 2)
    val before = IncrementalIvf.driftCensus(spark, plantedCents, prefix)
      .as[(Int, Long, Double)].collect().map { case (c, n, d) => c -> ((n, d)) }.toMap
    assert(before(1) === ((4L, 0.0)) && before(2) === ((2L, 0.0)),
      s"fresh index must read drift 0 exactly: $before")
    assert(!IncrementalIvf.needsRelearn(spark, plantedCents, 0.5, prefix))
    // takedown of cell 1's +1 members: live mean (−1,0,0,0), drift 1
    IncrementalIvf.retractBatch(spark, Seq(1L, 3L).toDF("vec_id"), prefix)
    val after = IncrementalIvf.driftCensus(spark, plantedCents, prefix)
      .as[(Int, Long, Double)].collect().map { case (c, n, d) => c -> ((n, d)) }.toMap
    assert(after(1) === ((2L, 1.0)), s"planted shift must read exactly 1.0: $after")
    assert(after(2) === ((2L, 0.0)), "untouched cell must not drift")
    assert(IncrementalIvf.needsRelearn(spark, plantedCents, 0.5, prefix))
    assert(!IncrementalIvf.needsRelearn(spark, plantedCents, 1.5, prefix))
    // below threshold: no-op — nothing relearned, history intact
    assert(IncrementalIvf.relearnIfDrifted(spark, plantedCents, 1.5,
      k = 2, prefix = prefix, buckets = 2).isEmpty)
    assert(spark.catalog.tableExists(s"${prefix}_gone"))
    // at threshold: relearn over LIVE rows, rebuild, history folded
    val next = IncrementalIvf.relearnIfDrifted(spark, plantedCents, 0.5,
      k = 2, prefix = prefix, buckets = 2)
    assert(next.nonEmpty)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"),
      "a rebuild from live rows makes the history redundant")
    assert(served(prefix) === Set(2L, 4L, 5L, 6L))
    // the relearned index reads drift 0 against its own centroids
    val fresh = IncrementalIvf.driftCensus(spark, next.get, prefix)
      .as[(Int, Long, Double)].collect()
    assert(fresh.forall(_._3 === 0.0), s"relearned index must not drift: ${fresh.toSeq}")
  }

  test("needsRelearn after a FULL takedown: empty census reads as no drift, not an NPE") {
    val prefix = "ivfspec_v"
    IncrementalIvf.buildIndex(planted.toDF("vec_id", "embedding"),
      "vec_id", "embedding", plantedCents, prefix, buckets = 2)
    IncrementalIvf.retractBatch(spark,
      planted.map(_._1).toDF("vec_id"), prefix)
    assert(IncrementalIvf.servedCells(spark, prefix).count() === 0L)
    // max over an empty census is null — must coalesce to "no drift"
    assert(!IncrementalIvf.needsRelearn(spark, plantedCents, 0.1, prefix))
    assert(IncrementalIvf.relearnIfDrifted(spark, plantedCents, 0.1,
      k = 2, prefix = prefix, buckets = 2).isEmpty)
  }

  test("compactIfDue: no-op below the pressure threshold, compacts at it") {
    val prefix = "ivfspec_u"
    IncrementalIvf.buildIndex(planted.toDF("vec_id", "embedding"),
      "vec_id", "embedding", plantedCents, prefix, buckets = 2)
    IncrementalIvf.retractBatch(spark, Seq(1L, 3L).toDF("vec_id"), prefix)
    val old = spark.conf.getOption(Tombstones.BroadcastLimitKey)
    try {
      // dead = 2; limit 100 → 2 < 50: not due
      spark.conf.set(Tombstones.BroadcastLimitKey, "100")
      assert(!IncrementalIvf.compactIfDue(spark, prefix))
      assert(spark.catalog.tableExists(s"${prefix}_gone"))
      // limit 4 → 2 ≥ 2: due — compacts and truncates the history
      spark.conf.set(Tombstones.BroadcastLimitKey, "4")
      assert(IncrementalIvf.compactIfDue(spark, prefix))
      assert(!spark.catalog.tableExists(s"${prefix}_gone"))
      assert(served(prefix) === Set(2L, 4L, 5L, 6L))
    } finally {
      old match {
        case Some(v) => spark.conf.set(Tombstones.BroadcastLimitKey, v)
        case None => spark.conf.unset(Tombstones.BroadcastLimitKey)
      }
    }
  }
}
