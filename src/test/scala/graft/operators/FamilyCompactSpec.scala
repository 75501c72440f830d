package graft.operators

import graft.SparkSpec

/** Per-family compaction wrappers (r16): every tombstoned family can
  * fold its net-dead set into its physical index tables and truncate
  * the history — [[Tombstones.compact]] wired with each family's
  * (table, bucketKey) layout, format markers carried through the
  * swap.
  */
class FamilyCompactSpec extends SparkSpec {
  import spark.implicits._

  private def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")

  test("trigram compact: live reads identical, history truncated, panel untouched") {
    val prefix = "fcomp_tri"
    val train = Seq((1L, toks("a", 9)), (2L, toks("b", 9)), (3L, toks("c", 9)))
      .toDF("doc_id", "text")
    val panel = Seq((100L, toks("z", 9))).toDF("doc_id", "text")
    IncrementalTrigram.buildIndex(PipelineQueries.trigramRows(train),
      PipelineQueries.trigramRows(panel).withColumnRenamed("doc_id", "bench_id"),
      prefix = prefix, buckets = 4)
    Tombstones.retract(spark, prefix, Seq(2L).toDF("doc_id"), "doc_id")
    val before = IncrementalTrigram.Index.live(spark, prefix)
      .as[(Long, Long)].collect().toSet
    val panelBefore = spark.table(s"${prefix}_panel").count()
    IncrementalTrigram.compact(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"))
    assert(spark.table(s"${prefix}_tri").as[(Long, Long)].collect().toSet
      === before)
    assert(!before.exists(_._1 == 2L))
    assert(spark.table(s"${prefix}_panel").count() === panelBefore)
  }

  test("exact-substr compact: both window layouts fold identically") {
    val prefix = "fcomp_sub"
    val docs = Seq((1L, toks("p", 40)), (2L, toks("p", 40)), (3L, toks("q", 40)))
      .toDF("doc_id", "text")
    val wins = ExactSubstr.windowPositions(
      docs.select($"doc_id", graft.functions.TextFunctions.wsTokens($"text").as("tk")))
    IncrementalExactSubstr.buildIndexes(wins, prefix = prefix, buckets = 4)
    // tombstone-only takedown (the retract-merge path has its own specs)
    Tombstones.retract(spark, prefix, Seq(2L).toDF("doc_id"), "doc_id")
    val posBefore = Tombstones.live(spark, spark.table(s"${prefix}_wpos"),
      prefix, "doc_id").count()
    val docBefore = Tombstones.live(spark, spark.table(s"${prefix}_wdoc"),
      prefix, "doc_id").count()
    IncrementalExactSubstr.compact(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"))
    assert(spark.table(s"${prefix}_wpos").count() === posBefore)
    assert(spark.table(s"${prefix}_wdoc").count() === docBefore)
    assert(spark.table(s"${prefix}_wdoc").filter($"doc_id" === 2L).isEmpty)
  }

  test("media compact: per-claim rows fold, a graft.* stamp survives the swap") {
    val prefix = "fcomp_med"
    // assets 1 and 2 share one pHash: the same band keys, one row set each
    val hashed = Seq((1L, "aaaabbbb00000000"), (2L, "aaaabbbb00000000"),
      (3L, "eeee000000000000")).toDF("media_id", "phash")
    IncrementalMedia.buildPhashIndex(hashed, prefix = prefix, buckets = 4)
    spark.sql(s"ALTER TABLE ${prefix}_band SET TBLPROPERTIES ('graft.test.stamp' = '4')")
    Tombstones.retract(spark, prefix, Seq(1L).toDF("media_id"), "media_id")
    IncrementalMedia.compact(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"))
    // asset 1's claims are physically gone; asset 2 (same pHash)
    // keeps its own rows — per-claim removal
    assert(spark.table(s"${prefix}_band").filter($"media_id" === 1L).isEmpty)
    assert(spark.table(s"${prefix}_band").filter($"media_id" === 2L).count() === 4L)
    // the family's table properties carried through the staging swap
    val props = spark.sql(s"SHOW TBLPROPERTIES ${prefix}_band").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.test.stamp").contains("4"))
    // and a re-upload still matches the surviving claim, only it
    val merged = IncrementalMedia.mergeBatch(spark,
      Seq((9L, "aaaabbbb00000000")).toDF("media_id", "phash"),
      Dedup.hexHashPairs(hashed.filter($"media_id" =!= 1L), "media_id", "phash"),
      prefix = prefix)
    assert(merged.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      === Set((2L, 9L)))
  }
}
