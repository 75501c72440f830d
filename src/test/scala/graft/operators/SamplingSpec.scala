package graft.operators

import graft.{GraftSession, SparkSpec}
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = GraftSession.table(spark, sf0, "documents")

  test("hash sample is deterministic and ~fraction sized") {
    val a = Sampling.hashSample(docs, "doc_id", 0.25).select($"doc_id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.25).select($"doc_id")
      .as[Long].collect().toSet
    assert(a === b, "same rows every run")
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.15 && frac < 0.35, s"got $frac")
    // monotone: a smaller fraction is a subset of a larger one
    val small = Sampling.hashSample(docs, "doc_id", 0.1).select($"doc_id")
      .as[Long].collect().toSet
    assert(small.subsetOf(a))
  }

  test("split assignment is disjoint, exhaustive, and roughly weighted") {
    val splits = Sampling.assignSplit(docs, "doc_id")
    assert(splits.count() === docs.count())
    val byrow = splits.groupBy($"doc_id").agg(countDistinct($"split").as("n"))
      .filter($"n" > 1).count()
    assert(byrow === 0)
    val counts = splits.groupBy($"split").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.7)
    assert(counts.keySet === Set("train", "val", "test"))
  }

  test("train order: every row placed once, positions contiguous per shard, order reproducible") {
    val out = Sampling.trainOrder(docs.select($"doc_id"), "doc_id", shardChars = 1)
    assert(out.count() === docs.count(), "a permutation loses nothing")
    // per-shard positions are exactly 1..n
    val bad = out.groupBy($"shard")
      .agg(count(lit(1)).as("n"), max($"pos").as("mx"), min($"pos").as("mn"),
        countDistinct($"pos").as("d"))
      .filter($"mx" =!= $"n" || $"mn" =!= 1 || $"d" =!= $"n")
    assert(bad.count() === 0, "positions must be a contiguous 1..n per shard")
    // reproducible across runs AND input partitionings (the property
    // rand()-based shuffling cannot give)
    val a = out.select($"doc_id", $"shard", $"pos")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val b = Sampling.trainOrder(
        docs.select($"doc_id").repartition(13), "doc_id", shardChars = 1)
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(a === b)
    // the order is actually shuffled: within a shard, consecutive
    // positions are not consecutive doc_ids (md5 decorrelates)
    val byShard = a.groupBy(_._2).mapValues(_.sortBy(_._3).map(_._1))
    val monotoneShards = byShard.values.count(ids => ids == ids.sorted)
    assert(monotoneShards < byShard.size,
      "at least one shard must not be in doc_id order")
  }
}
