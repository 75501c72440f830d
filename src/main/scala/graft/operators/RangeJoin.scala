package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Band/interval join: pair each left row with the right rows of the
  * same key whose timestamp falls in a fixed trailing window
  * `[l.ts - window, l.ts)`.
  *
  * Scale design: a naive range join is an equi-join on the key alone
  * followed by a range filter — at 100 TB that builds every (left,
  * right) same-key pair first, which explodes on hot keys. Instead,
  * bucket time into `window`-sized buckets: a trailing window of
  * exactly `window` seconds can only intersect TWO consecutive
  * buckets, so the left side explodes into 2 candidate bucket ids and
  * the join runs on `(key, bucket)` — shuffle cardinality is
  * 2·|left| + |right|, never |left|·|right-per-key|. AQE's skew-join
  * splitting handles any residual hot (key, bucket).
  */
object RangeJoin {

  /** Candidate-bucket left-outer join. Each right row lives in exactly
    * one bucket, so every true match surfaces exactly once; a candidate
    * row with no match surfaces with nulls (callers either aggregate
    * with null-skipping `count`, or filter matches).
    */
  private def candidateJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowSec: Long): DataFrame = {
    require(leftTs != rightTs, "leftTs and rightTs must be distinct column names")
    val l = left
      .withColumn("__b0", floor(unix_timestamp(col(leftTs)) / windowSec))
      .withColumn("__bkt", explode(array(col("__b0") - 1, col("__b0"))))
      .drop("__b0")
    val r = right
      .withColumnRenamed(key, "__rkey")
      .withColumn("__rbkt", floor(unix_timestamp(col(rightTs)) / windowSec))
    l.join(r,
        col(key) === col("__rkey") && col("__bkt") === col("__rbkt") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowSec SECONDS") &&
          col(rightTs) < col(leftTs),
        "left_outer")
      .drop("__rkey", "__rbkt", "__bkt")
  }

  /** Count of right-side rows in the trailing window per left row —
    * the common "clicks in the last N minutes before each purchase"
    * shape. Zero-match left rows report 0 (`count` skips the null
    * rows the candidate join emits for them). Per-ROW semantics: fully
    * identical left rows stay distinct output rows (an internal row
    * key — stable within the query, which is all grouping needs —
    * keeps them apart through the aggregation).
    */
  def trailingWindowCount(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowSec: Long,
      countAlias: String = "n_matches"): DataFrame =
    candidateJoin(left.withColumn("__rowid", monotonically_increasing_id()),
        right, key, leftTs, rightTs, windowSec)
      .groupBy((col("__rowid") +: left.columns.map(col)).toIndexedSeq: _*)
      .agg(count(col(rightTs)).as(countAlias))
      .drop("__rowid")
}
