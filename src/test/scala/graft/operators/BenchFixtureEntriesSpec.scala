package graft.operators

import graft.{Bench, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fixture-backed incremental bench entries: each timed entry's
  * output equals its family's full-recompute kernel (over the union
  * for an ingest entry, over corpus-minus-slice for a takedown entry),
  * and once the entry's registered warm-up ran, the timed body builds
  * no fixture of its own (the fixture-pricing rule: timed runs pay
  * only per-batch work).
  */
class BenchFixtureEntriesSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).toSeq.sorted

  /** Warm `name`, run it, and compare with `kernel`. */
  private def check(name: String, kernel: => DataFrame): Unit = {
    val entry = Bench.extraQueries(name)
    entry.warm(spark, sf0)
    val warmed = PostingIndex.fixtureKeys
    assert(warmed.exists(_.endsWith(s"|$sf0")), s"$name: warm-up built no fixture")
    val got = rows(entry(spark, sf0))
    assert(PostingIndex.fixtureKeys === warmed,
      s"$name: the timed body built a fixture the warm-up did not")
    val want = rows(kernel)
    assert(got.nonEmpty || want.isEmpty)
    assert(got === want, s"$name != full recompute")
  }

  private val batch7 = col("doc_id") % 7 === 0
  private val slice7x5 = col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0

  private def docs = graft.GraftSession.table(spark, sf0, "documents")
    .select(col("doc_id"), col("text"))

  test("d11x / d11r ≡ pairsFromWindows on the union / corpus minus slice") {
    val wins = IncrementalPassages.windowHashes(docs)
    check("d11x_incremental_merge", IncrementalPassages.pairsFromWindows(wins))
    check("d11r_retract_merge", IncrementalPassages.pairsFromWindows(
      wins.filter(!batch7 && !slice7x5)))
  }

  test("d8x / d8r ≡ pairsFromTrigramRows on the union / corpus minus slice") {
    val train = PipelineQueries.trainTrigramRows(spark, sf0)
    val panel = PipelineQueries.benchPanelRows(spark, sf0)
    def kernel(rows: DataFrame) = PipelineQueries.pairsFromTrigramRows(rows,
      panel, PipelineQueries.ContamMaxDf, PipelineQueries.ContamMinShared)
    check("d8x_incremental_merge", kernel(train))
    check("d8r_retract_merge", kernel(train.filter(!batch7 && !slice7x5)))
  }

  test("d24x / d24r ≡ maximalRepeats on the union / corpus minus slice") {
    val toks = PipelineQueries.plantedSpanToks(spark, sf0)
    check("d24x_incremental_merge", ExactSubstr.maximalRepeats(toks))
    check("d24r_retract_merge", ExactSubstr.maximalRepeats(
      toks.filter(!batch7 && !slice7x5)))
  }

  test("m5y / m5r ≡ hexHashPairs on the union / corpus minus slice") {
    val id = col("media_id")
    def kernel(keep: org.apache.spark.sql.Column) = Dedup.hexHashPairs(
      Dedup.phashChar(docs.select(col("doc_id").as("media_id"), col("text"))
        .filter(keep), "media_id", "text", k = 4), "media_id", "phash")
    check("m5y_incremental_merge", kernel(lit(true)))
    check("m5r_retract_merge", kernel(id % 9 =!= 0 && id % 5 =!= 0))
  }
}
