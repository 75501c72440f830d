package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeMergesSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory reference BPE learner (the textbook algorithm, no
    * Spark): word counts → repeated (count-max, lexicographic-tie)
    * pair merge with greedy left-to-right application.
    */
  private def referenceBpe(words: Map[String, Long],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    def mergeGreedy(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toList, c) }
    (1 to rounds).flatMap { round =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + c)
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        vocab = vocab.map { case (syms, cnt) => (mergeGreedy(syms, l, r), cnt) }
        Some((round, l, r, c))
      }
    }
  }

  private def docsOf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("greedy overlap: 'aaa' merges left-to-right into [aa, a], then [aaa]") {
    val docs = docsOf(Seq("aaa"))
    val ms = BpeMerges.learn(docs, "text", 2)
    assert(ms.map(m => (m.round, m.lhs, m.rhs, m.count)) ===
      Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("classic example: most frequent pair wins, ties break lexicographically") {
    // 'ab' appears 3×4=12 times via "abab" words plus 2 via "ab";
    // every other pair is rarer
    val docs = docsOf(Seq("abab abab abab abab", "ab ab", "cd"))
    val ms = BpeMerges.learn(docs, "text", 1)
    assert(ms.head.lhs === "a" && ms.head.rhs === "b")
    // count: each "abab" has 2 (a,b) pairs ×4 occurrences, "ab" has 1 ×2
    assert(ms.head.count === 10L)
  }

  test("property: random corpora agree with the in-memory reference learner") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val alphabet = "abc"
      val words = Seq.fill(30 + rnd.nextInt(30)) {
        (1 to (1 + rnd.nextInt(5)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val texts = words.grouped(8).map(_.mkString(" ")).toSeq
      val docs = docsOf(texts)
      val wordCounts = words.groupBy(identity)
        .map { case (w, ws) => w -> ws.length.toLong }
      val expected = referenceBpe(wordCounts, 4)
      val got = BpeMerges.learn(docs, "text", 4)
        .map(m => (m.round, m.lhs, m.rhs, m.count))
      assert(got === expected, s"trial $trial diverged from reference")
    }
  }

  test("merged symbols participate in later rounds (multi-char pairs)") {
    val out = ModelQueries.t18BpeMerges(spark, sf0)
      .as[(Int, String, String, String, Long)].collect()
    assert(out.length === ModelQueries.BpeRounds)
    assert(out.map(_._1).toSeq === (1 to ModelQueries.BpeRounds))
    // counts are non-increasing is NOT guaranteed by BPE in general,
    // but merged = lhs+rhs always, and at least one later round must
    // consume an earlier round's merged symbol on a natural corpus
    out.foreach { case (_, l, r, m, c) =>
      assert(m === l + r && c >= 1L)
    }
    val merged = out.map(_._4).toSet
    assert(out.exists { case (round, l, r, _, _) =>
      round > 1 && (merged.contains(l) || merged.contains(r))
    }, "no learned rule built on an earlier merge — corpus too trivial?")
  }

  test("one-symbol and empty-pair words contribute nothing and do not crash") {
    val docs = docsOf(Seq("a b c d", "a b"))
    val ms = BpeMerges.learn(docs, "text", 2)
    // all words are single letters: exactly zero adjacent pairs exist
    assert(ms.isEmpty)
  }

  test("t19 tokenize: per-word subword counts agree with the reference greedy encoder") {
    def mergeGreedy(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val texts = Seq("banana bandana cabana", "ban dan nab anab", "a ab aba abab")
    val docs = docsOf(texts)
    val merges = BpeMerges.learn(docs, "text", 3)
    assert(merges.length === 3)
    // reference: tokenize each word with the learned rules
    def encode(w: String): List[String] =
      merges.foldLeft(w.map(_.toString).toList)((syms, m) =>
        mergeGreedy(syms, m.lhs, m.rhs))
    val expected = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ").toSeq
      val subs = ws.map(w => encode(w).length.toLong).sum
      (i.toLong, ws.length.toLong, subs, 1000000L * subs / ws.length)
    }
    // same pipeline as the entry, at the spec's round count
    val vocab0 = BpeMerges.wordVocab(docs, "text")
      .select($"word", BpeMerges.symInit($"word").as("s"))
    val fin = merges.foldLeft(vocab0)((v, m) => BpeMerges.applyMerge(v, m.lhs, m.rhs))
    val wlen = fin.select($"word",
      size(split(trim($"s"), "  ")).cast("long").as("n_sub"))
    val occ = docs.select($"doc_id",
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    val got = occ.join(wlen, "word").groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum($"n_sub").cast("long").as("n_subwords"))
      .withColumn("fertility_micro", expr("(1000000 * n_subwords) div n_words"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === expected)
  }

  test("t19 entry: subword counts bounded by letters below and words above") {
    val out = ModelQueries.t19BpeTokenize(spark, sf0)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (doc, nw, ns, fert) =>
      assert(ns >= nw, s"doc $doc: fewer subwords than words")
      assert(fert === 1000000L * ns / nw)
      assert(fert >= 1000000L, s"doc $doc: fertility below 1 word")
    }
    // merging must actually compress: mean fertility strictly below
    // the char-level upper bound (chars per word on any real corpus
    // is > 3; eight merges bring subwords well under that)
    val meanFert = out.map(_._4).sum / out.length
    assert(meanFert < 4000000L, s"mean fertility $meanFert looks unmerged")
  }

  test("tokenizer artifact: learned once per corpus, warm t18/t19 calls learn nothing") {
    // cold or warm from earlier tests — force materialization once
    ModelQueries.t18BpeMerges(spark, sf0).count()
    val before = Artifacts.buildCount("bpe")
    // warm paths: the report AND the encode side must both serve the
    // artifact instead of re-running the merge rounds
    ModelQueries.t18BpeMerges(spark, sf0).count()
    ModelQueries.t19BpeTokenize(spark, sf0).count()
    assert(Artifacts.buildCount("bpe") === before,
      "warm t18/t19 must not relearn the merge table")
    // and the artifact roundtrip is exact: the served merges equal a
    // direct learning on the same corpus
    val direct = BpeMerges.learn(
      graft.GraftSession.table(spark, sf0, "documents"), "text",
      ModelQueries.BpeRounds)
    assert(BpeMerges.materialized(spark, sf0, ModelQueries.BpeRounds)
      === direct)
  }

  test("learning is deterministic run to run") {
    val docs = docsOf(Seq("banana bandana banana", "cabana banana"))
    val a = BpeMerges.learn(docs, "text", 3)
    val b = BpeMerges.learn(docs, "text", 3)
    assert(a === b && a.length === 3)
  }
}
