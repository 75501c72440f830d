package graft.operators

import graft.{GraftSession, SparkSpec}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = GraftSession.table(spark, sf0, "documents")

  test("binary plumbing: schema, byte counts, deterministic features") {
    val media = Multimodal.fromText(spark, docs, "doc_id", "text", "image")
    val feats = Multimodal.decodeAll(media, targetPartitionBytes = 64 << 10)
    assert(feats.schema.fieldNames.toSeq ===
      Seq("id", "kind", "nBytes", "magicHex", "width", "height", "nFrames", "feature"))
    val rows = feats.collect()
    assert(rows.length === docs.count())
    assert(rows.forall(r => r.nBytes > 0 && r.width >= 64 && r.height >= 64))
    assert(rows.forall(_.feature.length === 8))
    // deterministic: second run bit-identical (field-wise — case
    // classes with Array members compare by reference)
    val again = Multimodal.decodeAll(media, targetPartitionBytes = 64 << 10).collect()
    assert(rows.sortBy(_.id).zip(again.sortBy(_.id)).forall { case (a, b) =>
      a.id == b.id && a.kind == b.kind && a.nBytes == b.nBytes &&
        a.magicHex == b.magicHex && a.width == b.width && a.height == b.height &&
        a.nFrames == b.nFrames && a.feature.sameElements(b.feature)
    })
  }

  test("byte-budget partition sizing responds to the budget") {
    val media = Multimodal.fromText(spark, docs, "doc_id", "text", "video")
    // sizing is estimate-based (plan statistics), so assert the
    // monotone behavior rather than an exact byte count: a tighter
    // budget gives at least as many partitions, a huge one collapses
    val tight = Multimodal.decodeAll(media, 4L << 10).rdd.getNumPartitions
    val loose = Multimodal.decodeAll(media, 1L << 30).rdd.getNumPartitions
    assert(tight >= loose)
    assert(loose === 1)
    assert(tight > 1, "stats-based sizing should split a multi-KB corpus at a 4KB budget")
  }

  test("pipeline construction launches NO job — sizing reads plan stats, not content") {
    val media = Multimodal.fromText(spark, docs, "doc_id", "text", "image")
    val group = "mm_sizing"
    spark.sparkContext.setJobGroup(group, "decode sizing")
    // the old implementation ran a sum(octet_length(content)) ACTION
    // here — a full extra pass over the payload bytes at 100 TB
    val feats =
      try Multimodal.decodeAll(media, 16L << 10)
      finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500) // statusTracker is fed asynchronously — settle
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(ids.isEmpty, s"sizing launched jobs ${ids.toSeq} — content pre-scan?")
    assert(feats.count() === docs.count()) // content scanned only now
  }

  test("frame sampling fans each object out to ceil(nFrames/stride) references") {
    val media = Multimodal.fromText(spark, docs.limit(100), "doc_id", "text", "video")
    val feats = Multimodal.decodeAll(media, targetPartitionBytes = 64 << 10)
    val nFrames = feats.collect().map(f => f.id -> f.nFrames).toMap
    val refs = Multimodal.frameSample(feats, 25).collect()
    val byId = refs.groupBy(_.id)
    assert(byId.keySet === nFrames.keySet)
    byId.foreach { case (id, rs) =>
      assert(rs.length === (nFrames(id) + 24) / 25)
      assert(rs.map(_.frameIdx).sorted.toSeq === (0 until nFrames(id) by 25))
    }
    intercept[IllegalArgumentException](Multimodal.frameSample(feats, 0))
  }

  test("m4 shard plan: per-source shards are contiguous and conserve bytes") {
    import org.apache.spark.sql.functions._
    val plan = LlmQueries.m4ShardPlan(spark, sf0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(plan.nonEmpty)
    val totals = GraftSession.table(spark, sf0, "documents")
      .groupBy($"source").agg(sum(octet_length($"text")).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.groupBy(_._1).foreach { case (src, shards) =>
      val sorted = shards.sortBy(_._2)
      // shard ids are dense from 0
      assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong))
      // contiguity: each shard starts where the previous ended
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6 === b._5,
          s"$src: shard ${a._2} ends at ${a._6}, next starts at ${b._5}")
        case _ =>
      }
      assert(sorted.head._5 === 0L)
      // conservation: shard bytes sum to the source's total bytes
      assert(sorted.map(_._4).sum === totals(src))
      // every shard except the last holds >= the budget boundary rule:
      // its end crosses its own block boundary (it closed because full)
      sorted.init.foreach { s =>
        assert(s._6 > (s._2 + 1) * LlmQueries.ShardBudgetBytes - LlmQueries.ShardBudgetBytes,
          s"$src shard ${s._2} closed early")
      }
    }
  }
}
