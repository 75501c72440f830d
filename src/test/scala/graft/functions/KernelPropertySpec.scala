package graft.functions

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based hardening for the dedup/ratio kernels: the
  * explode/partial-agg pHash must match the expression-fold simhash
  * on ARBITRARY strings (the corpus-wide bit-identity spec can only
  * cover text the corpus contains — unicode, repeats, and
  * whitespace-pathological inputs live here), DecimalMath's
  * remainder-repaired floor division must equal BigInt floor
  * division across random wide operands, and (round 12) the
  * minhash/shingle/jaccard family must match a plain-JVM oracle
  * built from the same constants on the same arbitrary-string space
  * — the Spark ≡ oracle-constant contract the DuckDB gate checks on
  * corpus text, extended to the degenerate inputs the corpus never
  * contains.
  */
class KernelPropertySpec extends SparkSpec {
  import spark.implicits._

  // arbitrary-ish text: printable ASCII (Spark lower ≡ Locale.ROOT),
  // BMP unicode words (substr counts agree with Java), whitespace
  // pathologies, empties, and sub-shingle-length shorts
  private val textGen = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf("wort", "léo", "去了", " ", "\t", "\n", "ab"))
      .map(_.mkString(" ")),
    Gen.stringOf(Gen.oneOf('a', 'b', ' ', '\n', '\t')),
    Gen.const(""), Gen.const("   \t  "), Gen.const("abcd"))

  test("phashChar ≡ simhashHex fold on arbitrary strings (one batched compare)") {
    import graft.functions.HashFunctions.simhashHex
    import graft.functions.TextFunctions.charShingleSeq
    val gen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf("wort", "léo", "去了", " ", "\t", "ab"))
        .map(_.mkString(" ")),
      Gen.stringOf(Gen.oneOf('a', 'b', ' ', '\n')))
    // collect one sample batch, then ONE Spark job for all rows —
    // per-sample jobs would make the property test minutes-slow
    val samples = Gen.listOfN(200, gen).sample.get.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    // repartition: the local seq is one partition and the fold side is
    // an interpreted 64-wide aggregate — spread it over the cores;
    // cut so the compare's two actions don't re-run both subtrees
    val df = samples.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val fold = df.select(col("doc_id"),
      simhashHex(charShingleSeq(col("text"), 4)).as("expect"))
    val agg = Dedup.phashChar(df, "doc_id", "text", 4)
    val joined = graft.operators.Checkpoints.cut(fold.join(agg, "doc_id"))
    assert(joined.count() === samples.length.toLong)
    val mismatch = joined.filter(col("expect") =!= col("phash"))
      .collect()
    assert(mismatch.isEmpty,
      s"kernel diverged on: ${mismatch.take(3).mkString(", ")}")
  }

  test("minhash signatures ≡ JVM oracle on arbitrary strings (one batched compare)") {
    import graft.TestOracles.jvmSignature
    val samples = Gen.listOfN(150, textGen).sample.get.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = samples.toDF("doc_id", "text")
    val got = graft.operators.DedupReference.minhashSignatures(df, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    samples.foreach { case (id, text) =>
      jvmSignature(text, 16) match {
        case Some(sig) => assert(got.get(id).contains(sig),
          s"signature diverged on ${text.take(40).toList}")
        case None => assert(!got.contains(id),
          s"shingle-less doc $id must emit no signature: ${text.take(40).toList}")
      }
    }
  }

  test("minhash signatures are whitespace-normalization invariant on arbitrary strings") {
    // normText collapses \s+ runs and trims, so inflating whitespace
    // (doubling every space, padding the ends) must never move a
    // single signature component — the property that makes crawl
    // re-serialization (CRLF rewrites, indentation churn) a dedup
    // no-op instead of a near-miss
    val samples = Gen.listOfN(120, textGen).sample.get.zipWithIndex
    val base = samples.map { case (s, i) => (i.toLong, s) }
    val inflated = samples.map { case (s, i) =>
      (i.toLong, "  \t" + s.replace(" ", "  ").replace("\n", " \n ") + " \n ") }
    def sigs(rows: Seq[(Long, String)]) =
      graft.operators.DedupReference.minhashSignatures(rows.toDF("doc_id", "text"),
          "doc_id", "text")
        .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(base) === sigs(inflated))
  }

  test("jaccard/containment kernels ≡ JVM set oracle with the containment ≥ jaccard law") {
    import graft.TestOracles.jvmShingleSet
    // pair each arbitrary string with itself-plus-tail: the tail-side
    // shingle set is a SUPERSET (every k-gram of norm(s) survives in
    // norm(s + " tail")), so containment must hit exactly 1.0 where
    // jaccard dilutes — d15's reason to exist, as a law over the
    // whole string space rather than one planted fixture
    val texts = Gen.listOfN(80, textGen).sample.get
    val docs = texts.zipWithIndex.flatMap { case (s, i) =>
      Seq((2L * i, s), (2L * i + 1, s + " zz appended tail qq")) }
    val df = docs.toDF("doc_id", "text")
    val pairs = texts.indices.map(i => (2L * i, 2L * i + 1))
      .toDF("id_a", "id_b")
    val jac = graft.operators.Dedup.jaccardVerify(df, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    val con = graft.operators.Dedup.containmentVerify(df, pairs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    texts.zipWithIndex.foreach { case (s, i) =>
      val (a, b) = (jvmShingleSet(s), jvmShingleSet(s + " zz appended tail qq"))
      if (a.isEmpty || b.isEmpty) {
        // a side with no shingles emits no set row — the pair drops
        assert(!jac.contains(2L * i) && !con.contains(2L * i), s.take(40).toList)
      } else {
        val inter = (a & b).size.toDouble
        assert(jac(2L * i) === inter / (a | b).size, s"jaccard ${s.take(40).toList}")
        assert(con(2L * i) === inter / math.min(a.size, b.size),
          s"containment ${s.take(40).toList}")
        assert(con(2L * i) >= jac(2L * i), "containment must dominate jaccard")
        assert(a.subsetOf(b), "tail construction must preserve the shingle set")
        assert(con(2L * i) === 1.0, "embedded doc must score containment 1.0")
      }
    }
  }

  test("window hashes ≡ JVM oracle on arbitrary strings (the passage family's kernel)") {
    import graft.TestOracles.jvmWindowHashes
    // the shared textGen rarely clears 8 tokens, so mix in token-list
    // docs long enough to produce windows — including tab/newline-
    // bearing tokens (wsTokens splits on SPACES only; the oracle must
    // agree on exactly that)
    val wordGen = Gen.oneOf("alpha", "Beta", "γάμμα", "x1", "a\tb", "c\nd", "wort")
    val docGen = Gen.oneOf(
      textGen,
      Gen.chooseNum(6, 20).flatMap(n =>
        Gen.listOfN(n, wordGen).map(_.mkString(" "))))
    val samples = Gen.listOfN(120, docGen).sample.get.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val got = graft.operators.IncrementalPassages
      .windowHashes(samples.toDF("doc_id", "text"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, rows) => id -> rows.map(_._2).toSet }
    var windowed = 0
    samples.foreach { case (id, text) =>
      val expect = jvmWindowHashes(text)
      assert(got.getOrElse(id, Set.empty[Long]) === expect,
        s"window kernel diverged on ${text.take(60).toList}")
      if (expect.nonEmpty) windowed += 1
    }
    assert(windowed > 20, s"fixture must exercise real windows (got $windowed)")
  }

  test("floorDivExact ≡ BigInt floor division on random wide operands") {
    val genA = Gen.chooseNum(0L, Long.MaxValue)
      .flatMap(hi => Gen.chooseNum(0L, 999999999L).map(lo =>
        BigInt(hi) * 1000000000L + lo)) // up to ~9.2e27, past int64
    val genB = Gen.chooseNum(1L, Long.MaxValue).map(BigInt(_))
    val cases = Gen.listOfN(120, Gen.zip(genA, genB)).sample.get
      // include the adversarial boundary: a = q·b − 1 and a = q·b
      .++(Seq((BigInt("77777777777777777777") * 12345 - 1, BigInt("77777777777777777777")),
        (BigInt("77777777777777777777") * 12345, BigInt("77777777777777777777"))))
    val df = cases.map { case (a, b) => (a.toString, b.toString) }
      .toDF("a", "b")
      .select(DecimalMath.floorDivExact(
        DecimalMath.dec(col("a")), DecimalMath.dec(col("b"))).cast("string"))
    val got = df.as[String].collect().toSeq.map(BigDecimal(_).toBigInt)
    val expect = cases.map { case (a, b) => a / b }
    assert(got === expect)
  }
}
