package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** m5_phash_neardup (banded perceptual-hash media dedup), s12_ndcg
  * (graded ranking eval), p12_gini (per-source concentration).
  */
class MediaRankingSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(name: String, rows: Seq[(Long, String, String)]): String = {
    val dir = tmpDir(name)
    rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }

  // -------------------------------------------------------------- m5

  test("phash near-dup: planted re-uploads surface at hamming 0; unrelated assets don't pair") {
    // doc 25 and 50 get planted copies under +1e6 (25 % 25 == 0)
    val dir = writeDocs("phash_fixture", Seq(
      (25L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (50L, "entirely different content about database engines and shuffles", "A"),
      (7L, "a third unrelated document mentioning vectors and columns", "A")))
    val out = LlmQueries.m5PhashNeardup(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((25L, 1000025L)) && pairs.contains((50L, 1000050L)))
    out.filter(t => (t._1, t._2) == (25L, 1000025L) || (t._1, t._2) == (50L, 1000050L))
      .foreach(t => assert(t._3 === 0L, "identical bytes must hash identically"))
    // doc 7 has no copy and is unlike the others: it never pairs
    assert(!out.exists(t => t._1 == 7L || t._2 == 7L))
  }

  test("phash near-dup: a small byte mutation stays within the radius") {
    // same base text, one word substituted — most 4-gram votes agree
    val base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 4)
    val dir = writeDocs("phash_mut", Seq(
      (1L, base + "ending one", "A"),
      (2L, base + "ending two", "A")))
    val out = LlmQueries.m5PhashNeardup(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.exists(t => t._1 == 1L && t._2 == 2L && t._3 <= 3L),
      s"near-identical blobs must pair within hamming 3, got $out")
  }

  test("phash agg kernel is bit-identical to the expression-fold simhash") {
    // Dedup.phashChar (explode + one-md5 + 64 partial-agg bit votes)
    // must reproduce HashFunctions.simhashHex(charShingleSeq(text, 4))
    // EXACTLY — that identity is what lets the rewrite keep the m5
    // DuckDB oracle unchanged. Checked over the whole sf0.001 corpus,
    // plus a sub-k-length doc (both sides must emit the all-zero hash).
    import graft.functions.HashFunctions.simhashHex
    import graft.functions.TextFunctions.charShingleSeq
    // repartition: the corpus is one parquet split, and the fold side
    // is an interpreted 64-wide higher-order aggregate — on one task
    // this test alone ran 4-6 MINUTES of the suite wall; spread, the
    // same full-corpus compare runs on every core
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, "ab")).toDF("doc_id", "text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val fold = docs.select(col("doc_id"),
      simhashHex(charShingleSeq(col("text"), 4)).as("expect"))
    val agg = Dedup.phashChar(docs, "doc_id", "text", k = 4)
    // one action for both assertions: a second count() would re-run
    // the fold+agg subtrees end to end (they are the test's cost)
    val joined = fold.join(agg, "doc_id")
    val row = joined.agg(
      count(lit(1)).as("n"),
      sum(when(col("expect") =!= col("phash"), 1L).otherwise(0L)).as("diff"))
      .head()
    assert(row.getLong(0) === docs.count())
    assert(row.getLong(1) === 0L, "agg kernel diverged from the fold on some doc")
    val shortHash = agg.filter(col("doc_id") === 900001L)
      .select(col("phash")).as[String].head()
    assert(shortHash === "0000000000000000")
  }

  test("phash xxhash production family finds the planted re-uploads the md5 family finds") {
    val dir = writeDocs("phash_xx", Seq(
      (25L, "the quick brown fox jumps over the lazy dog again and again", "A"),
      (50L, "entirely different content about database engines and shuffles", "A"),
      (7L, "a third unrelated document mentioning vectors and columns", "A")))
    val out = LlmQueries.m5xPhashXxhash(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val pairs = out.map(t => (t._1, t._2)).toSet
    // identical bytes hash identically under ANY family: the planted
    // re-uploads must surface at hamming 0, exactly as md5's m5 does
    assert(pairs.contains((25L, 1000025L)) && pairs.contains((50L, 1000050L)))
    out.filter(t => t._2 - t._1 == 1000000L).foreach(t => assert(t._3 === 0L))
    assert(!out.exists(t => t._1 == 7L || t._2 == 7L))
  }

  test("phash banding: oversized buckets are dropped by the skew cap, healthy pairs survive") {
    // five identical assets make every band bucket size 5 — over a
    // cap of 3 they must pair ZERO times, while a separate healthy
    // duplicate pair (bucket size 2) still surfaces
    val degenerate = (1L to 5L).map(i => (i, "template template template template"))
    val healthy = Seq((100L, "a genuinely unique document body here"),
      (101L, "a genuinely unique document body here"))
    val df = (degenerate ++ healthy).toDF("doc_id", "text")
    val hashed = Dedup.phashChar(df, "doc_id", "text", 4)
    val capped = Dedup.hexHashPairs(hashed, "doc_id", "phash",
        maxHamming = 3, maxBucket = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(capped.map(t => (t._1, t._2)).toSet === Set((100L, 101L)),
      s"cap must drop the degenerate bucket only, got $capped")
    // and with the default cap the degenerate pairs are all present
    val uncapped = Dedup.hexHashPairs(hashed, "doc_id", "phash")
      .as[(Long, Long, Int)].collect()
    assert(uncapped.count(t => t._1 <= 5 && t._2 <= 5) === 10)
  }

  test("phash NULL/empty text contract: NULL emits no hash row, empty emits all-zero") {
    // NULL text must be EXCLUDED from hashing (the expression-fold
    // simhash propagated NULL, so NULL-text docs never paired; the
    // explode kernel keeps that contract by filtering) — otherwise
    // every NULL-text doc pairs with every other one, and with every
    // genuinely short doc, at hamming 0. Short-but-non-null text
    // keeps the all-zero-hash lane.
    val df = Seq((1L, null: String), (2L, ""), (3L, "ab"),
      (4L, "a real document body with enough shingles to vote"))
      .toDF("doc_id", "text")
    Seq(Dedup.phashChar(df, "doc_id", "text", 4) -> "md5",
        Dedup.phashCharXx(df, "doc_id", "text", 4) -> "xx").foreach {
      case (hashed, fam) =>
        val rows = hashed.as[(Long, String)].collect().toMap
        assert(!rows.contains(1L), s"$fam: NULL text must emit no hash row")
        assert(rows(2L) === "0000000000000000", fam)
        assert(rows(3L) === "0000000000000000", fam)
        assert(rows(4L) !== "0000000000000000", fam)
    }
  }

  test("phash banding: no cartesian in the plan — candidates come from a band equi-join") {
    val plan = LlmQueries.m5PhashNeardup(spark, sf0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"banded pairing must never plan a cartesian:\n$plan")
  }

  // -------------------------------------------------------------- e2e_media

  test("e2e_media conservation: every asset kept or attributed to a kept representative") {
    val docs = spark.read.parquet(s"$sf0/documents.parquet")
    // the media universe the pipeline runs on: corpus + every-25th plants
    val assets = docs.select($"doc_id".as("media_id"),
        octet_length($"text").cast("long").as("n_bytes"))
      .unionByName(docs.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 1000000L).as("media_id"),
          octet_length($"text").cast("long").as("n_bytes")))
      .as[(Long, Long)].collect().toMap
    // clusters from the ORACLED m5 pair table + the spec-tested
    // component operator; retention = largest bytes, ties min id
    val pairs = LlmQueries.m5PhashNeardup(spark, sf0)
      .select($"id_a", $"id_b")
    val clusters = DedupClusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2).map { case (cid, ms) => cid -> ms.map(_._1) }
    val inCluster = clusters.map(_._1).toSet
    val expectedKept = assets.keySet.filterNot(inCluster.contains) ++
      byCluster.values.map(ms => ms.maxBy(m => (assets(m), -m)))
    val manifest = LlmQueries.e2eMedia(spark, sf0)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // conservation: manifest item count = kept assets; bytes conserved
    assert(manifest.map(_._3).sum === expectedKept.size.toLong)
    assert(manifest.map(_._4).sum === expectedKept.toSeq.map(assets).sum)
    // every dropped asset's cluster keeps a DIFFERENT representative
    val dropped = assets.keySet -- expectedKept
    dropped.foreach { m =>
      val cid = clusters.find(_._1 == m).get._2
      val rep = byCluster(cid).maxBy(x => (assets(x), -x))
      assert(rep != m && expectedKept.contains(rep), s"asset $m has no kept rep")
    }
    // plants are exact copies: they always lose the (bytes, id) tie to
    // their original, so the shipped manifest is plant-free
    assert(manifest.forall(_._6 < 1000000L),
      "a planted re-upload survived retention")
    assert(dropped.exists(_ >= 1000000L), "plants must be exercised")
    // shard contiguity per source: ids ordered with shard ids
    manifest.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2) === (0L until sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._6 < b._5, s"$src: shard id ranges overlap")
        case _ =>
      }
    }
  }

  test("e2e_media serves from the materialized cluster artifact: no re-hashing in the plan") {
    // the entry's plan must contain NO Generate (the shingle explode
    // lives only in the artifact build, which runs once per corpus
    // version) — serving the shard manifest is joins + windows over
    // the artifact scan, the d9/d14 artifact contract
    val plan = LlmQueries.e2eMedia(spark, sf0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"manifest serving must not re-run the hash pipeline:\n$plan")
    // and the artifact is stable: two reads agree exactly
    val a = LlmQueries.mediaClusters(spark, sf0)
      .as[(Long, Long)].collect().toSet
    val b = LlmQueries.mediaClusters(spark, sf0)
      .as[(Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  // -------------------------------------------------------------- s12

  test("ndcg: perfect ranking scores exactly 1, worse rankings strictly less") {
    val out = LlmQueries.s12Ndcg(spark, sf0)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length === 64)
    out.foreach { case (qid, hits, dcg, ndcg) =>
      assert(hits >= 0 && hits <= 5, s"q$qid")
      assert(dcg >= 0.0 && ndcg >= 0.0 && ndcg <= 1.0, s"q$qid ndcg=$ndcg")
      // gain only accrues from true-top-5 members: zero hits ⇒ zero
      // ndcg, any hit ⇒ positive ndcg, and 1.0 needs the full set
      assert((ndcg > 0.0) === (hits > 0L), s"q$qid hits=$hits ndcg=$ndcg")
      if (ndcg == 1.0) assert(hits === 5L, s"q$qid perfect score without full hits")
    }
    // the eval must DISCRIMINATE on this corpus — not all queries equal
    assert(out.map(_._4).distinct.length > 1)
  }

  test("ndcg: idcg constant matches the closed form") {
    val expect = (1 to 5).map(i => (6.0 - i) / math.log(i + 1.0)).sum
    assert(math.abs(LlmQueries.IdcgAt5 - expect) < 1e-12)
    // dcg/idcg consistency on the corpus rows (up to 6dp double rounding)
    LlmQueries.s12Ndcg(spark, sf0)
      .as[(Long, Long, Double, Double)].collect().foreach {
        case (q, _, dcg, ndcg) =>
          assert(math.abs(ndcg - dcg / LlmQueries.IdcgAt5) < 2e-6, s"q$q")
      }
  }

  // -------------------------------------------------------------- p12

  test("gini: uniform source scores ~0, concentrated source scores high") {
    val uniform = (1L to 10L).map(i => (i, "x" * 100, "uni"))
    // one giant doc + nine tiny ones
    val skewed = (11L to 19L).map(i => (i, "x", "skew")) :+ (20L, "x" * 9991, "skew")
    val dir = writeDocs("gini_fixture", uniform ++ skewed)
    val rows = PipelineQueries.p12Gini(spark, dir)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val (_, nU, totU, gU) = rows("uni")
    val (_, nS, totS, gS) = rows("skew")
    assert((nU, totU) === (10L, 1000L))
    assert(gU === 0L, "identical docs ⇒ zero inequality")
    assert((nS, totS) === (10L, 10000L))
    // hand-computed: Σi·x = 45 + 10·9991 = 99955 →
    // 2·99955·1e6 div (10·10000) − 11·1e6 div 10 = 1999100 − 1100000
    assert(gS === 899100L)
  }

  test("gini: corpus — micro value within [0, 1e6), totals conserved") {
    val out = PipelineQueries.p12Gini(spark, sf0)
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (s, n, tot, g) =>
      assert(n >= 1 && tot >= n, s)
      assert(g >= 0L && g < 1000000L, s"$s gini=$g")
    }
    val totalChars = graft.GraftSession.table(spark, sf0, "documents")
      .agg(sum(col("n_chars"))).as[Long].head()
    assert(out.map(_._3).sum === totalChars)
  }

  test("gini plan: rank comes from the bucketed prefix-count, never a per-source sort") {
    // the r13 shape shared ONE source exchange between the rank
    // window and the rollup — which also meant one reducer sorted a
    // whole source; the r14 re-shape trades that for the distributed
    // prefix-count (census + bounded offsets + per-(source, bucket)
    // scan), so the pin is now the PlanShape guard plus the bucket
    // column driving the heavy window (PlanSpec covers the family;
    // this keeps the entry-local regression signal)
    val plan = PipelineQueries.p12Gini(spark, sf0)
      .queryExecution.executedPlan.toString
    val bad = graft.PlanShape.unboundedWindowsOn(plan, "source")
    assert(bad.isEmpty, s"unbounded per-source window(s):\n${bad.mkString("\n")}")
    assert(plan.contains("__psb"), "the prefix-count bucket must drive the heavy window")
  }
}
