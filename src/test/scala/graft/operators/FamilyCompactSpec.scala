package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
      StreamingTrigramFixtures.panelOf(panel), prefix = prefix, buckets = 4)
    Tombstones.retract(spark, prefix, Seq(2L).toDF("doc_id"), "doc_id")
    val before = IncrementalTrigram.liveTri(spark, prefix)
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

  test("dedup compact: per-claim rows fold, the banding stamp survives the swap") {
    val prefix = "fcomp_ded"
    val corpus = Seq((1L, toks("m", 12)), (2L, toks("m", 12)), (3L, toks("n", 12)))
      .toDF("doc_id", "text")
    IncrementalDedup.buildIndexes(corpus, buckets = 4, prefix = prefix)
    IncrementalDedup.retractBatch(spark, Seq(1L).toDF("doc_id"), prefix)
    IncrementalDedup.compact(spark, prefix)
    assert(!spark.catalog.tableExists(s"${prefix}_gone"))
    // doc 1's claims are physically gone; doc 2 (same fingerprint)
    // keeps its own row — per-claim removal
    assert(spark.table(s"${prefix}_fp").filter($"id_b" === 1L).isEmpty)
    assert(spark.table(s"${prefix}_fp").filter($"id_b" === 2L).count() === 1L)
    // the banding stamp carried through the staging swap: a probe at
    // the WRONG banding must still fail loudly after a compact
    val bad = intercept[IllegalArgumentException] {
      IncrementalDedup.probeBatch(spark, corpus,
        Seq((9L, toks("m", 12))).toDF("doc_id", "text"),
        prefix = prefix, numHashes = 16, bands = 8)
    }
    assert(bad.getMessage.contains("banding"))
    // and a correct-banding probe still matches the surviving claim
    val verdicts = IncrementalDedup.probeBatch(spark, corpus,
      Seq((9L, toks("m", 12))).toDF("doc_id", "text"), prefix = prefix)
    assert(verdicts.filter($"status" === "exact_dup").count() === 1L)
  }
}
