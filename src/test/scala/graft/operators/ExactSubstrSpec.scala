package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed maximal-repeat checks for d24's window-chaining
  * kernel: runs of consecutive shared windows must invert back to
  * the EXACT planted substring — true token length and exact start
  * offsets in both docs — and sub-`minTok` coincidences must not
  * report.
  */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  private def toks(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  // S: a 12-token repeat; T: a 20-token repeat; disjoint vocabularies
  private val S = toks("s", 12)
  private val T = toks("t", 20)

  private def fixture = Seq(
    (1L, toks("u", 5) ++ S),           // S at positions 6..17
    (2L, toks("v", 9) ++ S),           // S at positions 10..21
    (3L, toks("w", 4) ++ S.take(8)),   // ONLY S's first window: 8 < minTok
    (4L, T ++ toks("z", 3)),           // T at positions 1..20
    (5L, toks("y", 2) ++ T)            // T at positions 3..22
  ).toDF("doc_id", "tk")

  test("planted repeats report their TRUE extent and exact offsets; single windows don't") {
    val out = ExactSubstr.maximalRepeats(fixture)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2): the 12-token S = 5 chained windows → len 5 + 7 = 12,
    // starting at token 6 in doc 1 and token 10 in doc 2;
    // (4,5): the 20-token T = 13 chained windows → len 20;
    // (1,3)/(2,3): exactly ONE shared window (s1..s8) → len 8 < 10 →
    // excluded — the filter that separates exact-substring from
    // window-coincidence
    assert(out === Set(
      (1L, 2L, 6L, 10L, 12L),
      (4L, 5L, 1L, 3L, 20L)), s"unexpected repeats: $out")
  }

  test("a hot window splits or drops the repeat (the pair-forming cap trade)") {
    // 5 docs all carrying S: at cap 3 every S window is in > 3
    // distinct docs → all dropped, nothing reports; at the default
    // cap the same fixture reports every pair
    val crowd = (1 to 5).map(i => (i.toLong, toks(s"u$i", 4) ++ S))
      .toDF("doc_id", "tk")
    assert(ExactSubstr.maximalRepeats(crowd, cap = 3).isEmpty)
    val full = ExactSubstr.maximalRepeats(crowd)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(full.length === 10 && full.forall(_._5 == 12L),
      s"all 10 pairs share the 12-token S: ${full.toSeq}")
  }

  test("two distinct repeats between one pair report as separate runs") {
    val pairDocs = Seq(
      (6L, S ++ toks("q", 5) ++ T),   // S at 1..12, T at 18..37
      (7L, toks("r", 8) ++ S ++ toks("rr", 2) ++ T) // S at 9..20, T at 23..42
    ).toDF("doc_id", "tk")
    val out = ExactSubstr.maximalRepeats(pairDocs)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (6L, 7L, 1L, 9L, 12L),
      (6L, 7L, 18L, 23L, 20L)), s"unexpected: $out")
  }

  test("matches plan: hash self-join, hot cap broadcast, no cartesian") {
    val plan = ExactSubstr.maximalRepeats(fixture)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"window matching must be equi-join shaped:\n$plan")
  }
}
