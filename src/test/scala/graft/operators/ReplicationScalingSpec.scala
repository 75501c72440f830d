package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structure that must scale EXACTLY with a disjoint replication of the
  * corpus: N copies whose ids, sources and vocabularies cannot meet
  * hold N× the planted repeats, re-uploads and shards of one copy, and
  * never more than linear organic pairs. A quadratic blow-up or a lost
  * cross-copy boundary shows up here at sf0.001, before any timed
  * scale sweep.
  */
class ReplicationScalingSpec extends SparkSpec {

  private def docs = graft.GraftSession.table(spark, sf0, "documents")

  test("d24 maximal repeats scale exactly with disjoint-vocabulary copies") {
    // the d11/d24 decade-head plant: every doc repeats the first 12
    // tokens of its decade's head doc
    val toksD = docs.select(col("doc_id"),
      graft.functions.TextFunctions.wsTokens(col("text")).as("toks"))
    val heads = toksD.select(col("doc_id").as("head_id"),
      slice(col("toks"), 1, 12).as("ptoks"))
    val tk0 = toksD.withColumn("head_id", col("doc_id") - pmod(col("doc_id"), lit(10)))
      .join(heads, "head_id")
      .select(col("doc_id"), concat(col("toks"), col("ptoks")).as("tk"))
    // copy c: ids offset by c·10⁷, every token prefixed `c<c>_` — each
    // copy's windows are a bijective image of copy 0's, and no window
    // is shared across copies
    def copies(n: Int): DataFrame = (0 until n).map(c =>
        tk0.select((col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          transform(col("tk"), t => concat(lit(s"c${c}_"), t)).as("tk")))
      .reduce(_ unionByName _)
    val base = ExactSubstr.maximalRepeats(copies(1)).count()
    assert(base > 0, "the decade plant must yield repeats")
    for (n <- Seq(2, 3))
      assert(ExactSubstr.maximalRepeats(copies(n)).count() === base * n,
        s"$n copies must hold exactly $n× the repeats")
  }

  test("m5 planted re-uploads and m4 shards scale exactly; pairs stay linear") {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    def rotated(k: Int): String = {
      val r = lower.drop(k % 26) + lower.take(k % 26)
      r + r.toUpperCase
    }
    val cols = docs.select("doc_id", "text", "lang", "source", "n_chars")
    // copy c: ids shifted by a multiple of 25 (keeps m5's doc_id % 25
    // re-upload plant per copy), sources suffixed (shard windows never
    // span copies), a fixed-width marker plus a per-copy alphabet
    // rotation (no cross-copy text can be byte-identical)
    def stats(n: Int): (Long, Long, Long) = {
      val dir = tmpDir(s"replication_media_$n")
      (0 until n).map(c => cols
          .withColumn("doc_id", col("doc_id") + lit(c.toLong * 10000000L))
          .withColumn("source", concat(col("source"), lit(s"_$c")))
          .withColumn("text", translate(concat(col("text"), lit(f" mark$c%02d")),
            lower + lower.toUpperCase, rotated(c))))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val pairs = LlmQueries.m5PhashNeardup(spark, dir).cache()
      val planted = pairs.filter(col("hamming") === 0 &&
        (col("id_b") - col("id_a")) === 1000000L).count()
      val out = (pairs.count(), planted, LlmQueries.m4ShardPlan(spark, dir).count())
      pairs.unpersist()
      out
    }
    val (pairs1, planted1, shards1) = stats(1)
    assert(planted1 > 0 && shards1 > 0)
    for (n <- Seq(2, 4)) {
      val (pairs, planted, shards) = stats(n)
      assert(planted === planted1 * n, s"planted re-uploads at $n copies")
      assert(shards === shards1 * n, s"shards at $n copies")
      assert(pairs <= 2L * pairs1 * n, s"pairs at $n copies: $pairs vs base $pairs1")
    }
  }
}
