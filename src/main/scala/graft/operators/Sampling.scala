package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and split assignment (SURVEY.md §2.8).
  *
  * Training pipelines need sampling that is REPRODUCIBLE — stable
  * across runs, engines, partitionings, and cluster sizes — which
  * `rand()`-based sampling is not. Keying on md5(id) gives an exact,
  * engine-portable decision per row (the DuckDB oracle recomputes the
  * identical bytes), and it's a narrow map: no shuffle, no state.
  */
object Sampling {

  /** First 8 hex chars of md5(id) — a uniform draw in [0, 16^8). */
  private def hexKey(idCol: Column): Column =
    substring(md5(idCol.cast("string")), 1, 8)

  /** Hex threshold for a keep-fraction — public so oracle SQL can be
    * built from the exact same constant.
    */
  def hexThreshold(fraction: Double): String =
    f"${math.min(0xffffffffL, (fraction * 4294967296.0).toLong)}%08x"

  /** Keep ~`fraction` of rows, deterministically by id. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.filter(hexKey(col(idCol)) < lit(hexThreshold(fraction)))

  /** Assign train/val/test by hash ranges (weights sum to ≤ 1; the
    * remainder goes to the last split). Disjoint and exhaustive.
    */
  def assignSplit(df: DataFrame, idCol: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val k = hexKey(col(idCol))
    df.withColumn("split",
      when(k < lit(hexThreshold(trainFrac)), lit("train"))
        .when(k < lit(hexThreshold(trainFrac + valFrac)), lit("val"))
        .otherwise(lit("test")))
  }

  /** Deterministic training-order materialization: every row gets a
    * (shard, position) in a reproducible pseudo-random global order.
    * Shard = leading `shardChars` hex chars of md5 (16^chars shards —
    * the parallelism knob: pick it so a shard's rows fit one
    * executor's sort), position = rank of the full digest within the
    * shard (ties broken by id; md5 collisions aside, tie-free). A
    * training run reads shards in any order and rows by position —
    * the same order on every engine, partitioning, and restart,
    * which `rand()`-shuffling cannot give. ONE shard-key window
    * shuffle; no global sort.
    */
  def trainOrder(df: DataFrame, idCol: String, shardChars: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardChars >= 1 && shardChars <= 8, "shardChars must be in [1, 8]")
    df.withColumn("ord_h", md5(concat(lit("ord:"), col(idCol).cast("string"))))
      .withColumn("shard", substring(col("ord_h"), 1, shardChars))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("ord_h"), col(idCol)))
        .cast("long"))
      .drop("ord_h")
  }

  /** Stratified hash sampling: keep a different deterministic fraction
    * per stratum (e.g. per language — the standard mixture-reweighting
    * move in corpus curation). Still a narrow map: the per-row decision
    * reads only (id, stratum); no shuffle, no per-stratum pass.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldRight(lit(hexThreshold(defaultRate))) {
      case ((stratum, rate), acc) =>
        when(col(strataCol) === stratum, lit(hexThreshold(rate))).otherwise(acc)
    }
    df.filter(hexKey(col(idCol)) < thr)
  }
}
