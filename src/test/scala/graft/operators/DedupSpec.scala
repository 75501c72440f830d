package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pair-finding behavior on planted duplicates — the synthetic corpus
  * has none, so the oracle queries only pin signatures; these specs
  * pin detection.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // genuinely distinct docs: per-doc token draws from a 5000-word
  // synthetic vocabulary, so cross-doc shingle overlap is negligible
  private def base: Seq[(Long, String)] =
    (0L until 40L).map { i =>
      val toks = (0 until 60).map(j => s"w${(i * 611 + j * 97 + (i * j) % 13) % 5000}")
      i -> toks.mkString(" ")
    }

  /** 40 distinct docs + exact copy of #3 + near-copy of #5 (one word
    * changed) + unrelated doc.
    */
  private lazy val docs: DataFrame = {
    val nearCopy = base(5)._2.split(" ").updated(30, "zzzqqq").mkString(" ")
    val extra = Seq(
      100L -> base(3)._2,
      101L -> nearCopy,
      102L -> "completely unrelated text that matches nothing else here")
    (base ++ extra).toDF("doc_id", "text")
  }

  test("exact dedup groups exact copies only") {
    val groups = Dedup.exact(docs, "doc_id", "text")
    val dup = groups.filter($"n_copies" > 1).collect()
    assert(dup.length === 1)
    assert(dup.head.getAs[Seq[Long]]("ids") === Seq(3L, 100L))
    assert(groups.count() === 42) // 43 docs, one merged pair
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = DedupReference.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 100L)), "exact copy must share all bands")
    assert(pairs.contains((5L, 101L)), "near copy should share >=1 band")
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L), "unrelated doc")
  }

  test("xxhash64 production family finds the same planted duplicates as md5") {
    import graft.functions.HashFunctions
    val md5Pairs = DedupReference.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val xxPairs = DedupReference.minhashCandidates(docs, "doc_id", "text",
        baseHash = HashFunctions.minhashBaseXx)
      .as[(Long, Long)].collect().toSet
    assert(xxPairs.contains((3L, 100L)), "exact copy must share all bands")
    assert(xxPairs.contains((5L, 101L)), "near copy should share >=1 band")
    assert(!xxPairs.exists(p => p._1 == 102L || p._2 == 102L), "unrelated doc")
    // both families agree on the planted set (chance collisions may
    // differ — that's the nature of distinct hash families)
    assert(md5Pairs.intersect(xxPairs).contains((3L, 100L)))
  }

  test("jaccard verification separates near-dup from chance collisions") {
    val cand = DedupReference.minhashCandidates(docs, "doc_id", "text")
    val verified = Dedup.jaccardVerify(docs, cand, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    val byPair = verified.map(v => (v._1, v._2) -> v._3).toMap
    assert(byPair((3L, 100L)) === 1.0)
    assert(byPair((5L, 101L)) > 0.8 && byPair((5L, 101L)) < 1.0)
  }

  test("containment flags a short doc embedded in a long one that jaccard misses") {
    val short = "the quick brown fox jumps over the lazy dog again and again"
    val long = short + " " + Seq.tabulate(40)(i => s"filler$i word$i").mkString(" ")
    val embedded = Seq((1L, short), (2L, long), (3L, "entirely different content here"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val cont = Dedup.containmentVerify(embedded, cand, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(v => (v._1, v._2) -> v._3).toMap
    // short is a PREFIX of long: every shingle of A is in B → exactly 1.0
    assert(cont((1L, 2L)) === 1.0)
    assert(cont((1L, 3L)) < 0.2)
    // the same pair under jaccard is diluted below any workable
    // threshold by the union denominator — the case d15 exists for
    val jac = Dedup.jaccardVerify(embedded, cand, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(v => (v._1, v._2) -> v._3).toMap
    assert(jac((1L, 2L)) < 0.5)
  }

  test("simhash of identical text is identical; different text differs") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sh(3L) === sh(100L))
    assert(sh(3L) !== sh(102L))
    assert(sh.values.forall(_.matches("[0-9a-f]{16}")))
  }

  test("weighted simhash: a dominant token drives the hash; unweighted ignores frequency") {
    val df = Seq(
      (1L, (Seq.fill(30)("spam") :+ "zzz").mkString(" ")),
      (2L, "spam")).toDF("doc_id", "text")
    val weighted = Dedup.simhashWeighted(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // 30 'spam' votes outvote one 'zzz' on every bit → identical hash
    assert(weighted(1L) === weighted(2L))
    val unweighted = Dedup.simhash(df, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // distinct-token form sees {spam, zzz}: ties broken by the second
    // token, so it differs from pure 'spam' with near-certainty
    assert(unweighted(1L) !== unweighted(2L))
  }

  test("minhash signatures: identical docs match on every component, distinct docs on few") {
    val sig = DedupReference.minhashSignatures(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig.values.forall(_.length === 16))
    // exact copy: all 16 components equal — estimate 1.0, error 0
    assert(sig(3L) === sig(100L))
    // near copy (1 of 60 words changed): most components still match
    val nearMatches = sig(5L).zip(sig(101L)).count { case (a, b) => a == b }
    assert(nearMatches >= 10, s"only $nearMatches/16 components for a near-dup")
    // unrelated docs: component agreement is chance-level
    val unrelated = sig(0L).zip(sig(102L)).count { case (a, b) => a == b }
    assert(unrelated <= 4, s"$unrelated/16 components match for unrelated docs")
  }

  test("d17 calibration: estimator is near-exact at jaccard 1, bounded error overall") {
    val dir = tmpDir("d17_fixture")
    // candidate panel needs (source, n_chars) and ids within the
    // 60-id gap window — plant the copies CLOSE to their sources
    // (the shared `docs` fixture's 100+ ids fall outside the panel)
    val nearCopy = base(5)._2.split(" ").updated(30, "zzzqqq").mkString(" ")
    val d17docs = (base ++ Seq(
      43L -> base(3)._2, // exact copy of #3, jaccard 1.0
      45L -> nearCopy, // near copy of #5
      49L -> "completely unrelated text that matches nothing else here"))
      .toDF("doc_id", "text")
    d17docs.withColumn("source", lit("s0"))
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val out = LlmQueries.d17MinhashError(spark, dir)
      .as[(Int, Long, Long)].collect()
    assert(out.nonEmpty)
    val byBucket = out.map(r => r._1 -> r).toMap
    // the exact-copy pair lands in bucket 10 (jaccard = 1.0): a
    // matching signature estimates exactly 1e6 — zero error
    assert(byBucket.contains(10), "exact-copy pair missing from the panel")
    assert(byBucket(10)._3 === 0L, "estimator must be exact at jaccard 1.0")
    // every bucket's mean error is bounded by the 16-component
    // resolution: one component is 62500 micro; chance-level
    // agreement on disjoint sets keeps errors low overall
    out.foreach { case (b, n, err) =>
      assert(n >= 1 && err <= 312500L, // 5 components of slack
        s"bucket $b: mean error $err beyond estimator resolution")
    }
  }

  test("winnowing fingerprints overlap heavily for near-dups") {
    import graft.functions.TextFunctions
    val fp = docs.select($"doc_id",
      TextFunctions.winnowing($"text").as("fp")).as[(Long, Seq[Long])].collect().toMap
    val a = fp(5L).toSet; val b = fp(101L).toSet
    val overlap = a.intersect(b).size.toDouble / a.union(b).size
    assert(overlap > 0.7, s"winnowing overlap $overlap")
    val u = fp(102L).toSet
    assert(a.intersect(u).isEmpty)
  }
}
