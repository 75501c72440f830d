package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {

  test("planted batch: exact copies flagged exact, near copies near, fresh kept") {
    import spark.implicits._
    val out = IncrementalDedup.d10IncrementalDedup(spark, sf0)
      .as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (id, status) =>
      val srcId = id - 1000000L
      (srcId % 30) match {
        case 0L => assert(status == "exact_dup", s"doc $id (exact copy): $status")
        // a near copy may legitimately miss every LSH band (short docs
        // dilute the tail's jaccard) — but must never be flagged exact
        case 10L => assert(status != "exact_dup", s"doc $id (near copy): $status")
        case _ => assert(status == "kept", s"doc $id (fresh text): $status")
      }
    }
    // non-vacuous: all three verdicts occur, and LSH catches most near copies
    assert(out.values.toSet == Set("exact_dup", "near_dup", "kept"))
    val nearCopies = out.filter { case (id, _) => (id - 1000000L) % 30 == 10 }
    val caught = nearCopies.values.count(_ == "near_dup")
    assert(caught * 2 >= nearCopies.size,
      s"LSH caught only $caught of ${nearCopies.size} planted near copies")
  }

  test("plan: candidate generation is equi-join shaped, no cartesian") {
    val plan = IncrementalDedup.d10IncrementalDedup(spark, sf0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "batch-vs-corpus candidates must come from the band-bucket equi-join")
  }

  test("persisted bucketed indexes: probe verdicts match the in-plan entry") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    IncrementalDedup.buildIndexes(docs, buckets = 8, prefix = "d10_idx")
    val batch = IncrementalDedup.plantBatch(docs)
    val probed = IncrementalDedup.probeBatch(spark, docs, batch, prefix = "d10_idx")
      .as[(Long, String)].collect().toSeq
    val entry = IncrementalDedup.d10IncrementalDedup(spark, sf0)
      .as[(Long, String)].collect().toSeq
    assert(probed === entry)
  }

  test("admitBatch: kept docs join the indexes; their re-uploads then dedup against them") {
    import spark.implicits._
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    IncrementalDedup.buildIndexes(docs, buckets = 8, prefix = "d10_idx4")
    val batch = IncrementalDedup.plantBatch(docs)
    val verdicts = IncrementalDedup.probeBatch(spark, docs, batch, prefix = "d10_idx4")
    val keptIds = verdicts.filter(col("status") === "kept")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(keptIds.nonEmpty)
    IncrementalDedup.admitBatch(spark, batch, verdicts,
      prefix = "d10_idx4")
    // a second batch re-uploading the ADMITTED docs byte-for-byte
    // must now come back exact_dup — the loop closes without any
    // corpus rewrite
    val reupload = batch.filter(col("doc_id").isin(keptIds.toSeq: _*))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val universe = docs.unionByName(batch)
    val second = IncrementalDedup.probeBatch(spark, universe, reupload,
        prefix = "d10_idx4")
      .as[(Long, String)].collect()
    assert(second.nonEmpty && second.forall(_._2 == "exact_dup"),
      s"re-uploads of admitted docs must be exact dups: ${second.filter(_._2 != "exact_dup").take(5).toSeq}")
  }

  test("probe with a different banding than the index was built with fails loudly") {
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    IncrementalDedup.buildIndexes(docs, buckets = 8, prefix = "d10_idx3",
      numHashes = 24, bands = 8)
    val batch = IncrementalDedup.plantBatch(docs)
    // mismatched banding would compute band keys over different
    // signature slices — the bucket join silently matches nothing and
    // every near-dup reads "kept"; the stamp must turn that into an
    // error instead
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.probeBatch(spark, docs, batch, prefix = "d10_idx3")
    }
    assert(e.getMessage.contains("banding"))
    // the stamped operating point still probes fine
    val ok = IncrementalDedup.probeBatch(spark, docs, batch, prefix = "d10_idx3",
      numHashes = 24, bands = 8)
    assert(ok.count() > 0)
  }

  test("retractBatch: dead docs stop matching; shared fps survive via live holders; re-admit resurrects") {
    import spark.implicits._
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val shared = words("dup", 40)
    val corpus = Seq(
      (1L, shared), (2L, shared), // two holders of one fingerprint
      (3L, words("aa", 40)), (4L, words("bb", 40))).toDF("doc_id", "text")
    IncrementalDedup.buildIndexes(corpus, buckets = 4, prefix = "d10_ret")
    def verdictOf(): String = IncrementalDedup.probeBatch(spark, corpus,
        Seq((100L, shared)).toDF("doc_id", "text"), prefix = "d10_ret")
      .select($"status").as[String].head()
    assert(verdictOf() === "exact_dup")
    // retract doc 1: doc 2 still holds the fingerprint → still exact
    IncrementalDedup.retractBatch(spark, Seq(1L).toDF("doc_id"), prefix = "d10_ret")
    assert(verdictOf() === "exact_dup",
      "a shared fingerprint must survive while any holder is live")
    // retract doc 2 too: no live holder left → the upload is kept
    IncrementalDedup.retractBatch(spark, Seq(2L).toDF("doc_id"), prefix = "d10_ret")
    assert(verdictOf() === "kept",
      "retracting the last holder must stop the match")
    // re-admit doc 1 (same id, same immutable text): resurrection, no
    // duplicate physical rows, and the match returns
    val fpN = spark.table("d10_ret_fp").count()
    val bandN = spark.table("d10_ret_bands").count()
    val readmit = Seq((1L, shared)).toDF("doc_id", "text")
    val v = IncrementalDedup.probeBatch(spark, corpus, readmit, prefix = "d10_ret")
    IncrementalDedup.admitBatch(spark, readmit, v, prefix = "d10_ret")
    assert(verdictOf() === "exact_dup", "re-admit must restore the match")
    assert(spark.table("d10_ret_fp").count() === fpN &&
      spark.table("d10_ret_bands").count() === bandN,
      "resurrection must not duplicate physical index rows")
  }

  test("persisted indexes: corpus side of each probe join reads buckets, zero exchange") {
    val docs = graft.GraftSession.table(spark, sf0, "documents")
      .select(col("doc_id"), col("text"))
    IncrementalDedup.buildIndexes(docs, buckets = 8, prefix = "d10_idx2")
    val batch = IncrementalDedup.plantBatch(docs)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // fingerprint probe: ONE hash exchange total (the batch side
      // shuffling into the index's 8-bucket layout) — the corpus side
      // is its bucketed scan, unshuffled
      val fpProbe = batch
        .select(graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .join(spark.table("d10_idx2_fp"), "fp")
      val fpPlan = fpProbe.queryExecution.executedPlan.toString
      assert(fpPlan.contains("Bucketed: true"), fpPlan)
      assert(fpPlan.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
        s"only the batch side may shuffle:\n$fpPlan")
      // band probe: same contract on the single combined bucket key
      val bB = Dedup.minhashBands(batch, "doc_id", "text")
        .select(col("doc_id").as("id_a"),
          concat_ws("|", col("band"), col("band_hash")).as("bkey"))
      val bandProbe = bB.join(spark.table("d10_idx2_bands"), Seq("bkey"))
      val bandPlan = bandProbe.queryExecution.executedPlan.toString
      assert(bandPlan.contains("Bucketed: true"), bandPlan)
      // the batch side shuffles on the bucket key once (its minhash
      // signature agg shuffles on doc_id — also batch-side, also fine);
      // the corpus side must contribute NO bkey exchange
      assert(bandPlan.linesIterator.count(_.contains("Exchange hashpartitioning(bkey")) === 1,
        s"only the batch side may shuffle on the bucket key:\n$bandPlan")
      // the hot-bucket census aggregates ON the bucket key: bucketed
      // scan satisfies the grouping, zero exchange
      val hotPlan = spark.table("d10_idx2_bands").groupBy(col("bkey"))
        .agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(!hotPlan.contains("Exchange hashpartitioning"),
        s"bucket-key aggregation must reuse the bucket layout:\n$hotPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
