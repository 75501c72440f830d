package graft.operators

import graft.GraftSession.table
import org.apache.spark.sql.SparkSession

/** The learned BPE merge table as a MATERIALIZED artifact — the
  * CentroidArtifact contract applied to the tokenizer: a corpus
  * learns its merge sequence ONCE per version, the table lands as
  * (round, lhs, rhs, count) parquet (the durable form a tokenizer
  * ships as — this IS the `merges.txt` of a production tokenizer),
  * and every consumer (t18's report, t19's corpus encode, ad-hoc
  * tokenization) reads the artifact instead of re-running the
  * learning rounds. Keyed by (application, corpus version, rounds);
  * `learnCount` is the spec hook pinning that warm calls learn
  * nothing.
  */
object TokenizerArtifact {

  private val loaded =
    scala.collection.concurrent.TrieMap.empty[String, Seq[BpeMerges.Merge]]
  private val learns = new java.util.concurrent.atomic.AtomicLong

  /** How many actual BPE learnings have run (artifact misses). */
  def learnCount: Long = learns.get

  /** The merge sequence for the documents corpus at `dir`, learned at
    * most once per (session, corpus version, rounds).
    */
  def bpeMerges(spark: SparkSession, dir: String,
      rounds: Int): Seq[BpeMerges.Merge] = {
    val src = s"$dir/documents.parquet"
    val key = s"${spark.sparkContext.applicationId}|$src|" +
      s"${Artifacts.corpusStamp(spark, src)}|bpe|r=$rounds"
    val path = Artifacts.materialize(spark, "bpe", key) { out =>
      val merges = BpeMerges.learn(table(spark, dir, "documents"),
        "text", rounds)
      learns.incrementAndGet()
      import spark.implicits._
      merges.map(m => (m.round, m.lhs, m.rhs, m.count))
        .toDF("round", "lhs", "rhs", "count")
        .coalesce(1).write.parquet(out)
    }
    loaded.getOrElseUpdate(path,
      spark.read.parquet(path).collect()
        .map(r => BpeMerges.Merge(r.getInt(0), r.getString(1),
          r.getString(2), r.getLong(3)))
        .toSeq.sortBy(_.round))
  }
}
