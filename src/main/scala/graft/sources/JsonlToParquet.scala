package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL (newline-delimited JSON) → Parquet — the converter surface
  * extended to the dominant training-data interchange format. Not part
  * of the reference (csv2parquet is CSV-only); same shape as
  * CsvToParquet: typed scan (explicit schema or Spark inference) →
  * faithful parquet materialization.
  *
  * Scale notes: uncompressed JSONL splits by newline exactly like CSV
  * (`maxPartitionBytes`), so ingest parallelism is free; with an
  * explicit schema the read is single-pass (no inference scan), which
  * is the 100 TB path — inference is a convenience for exploration.
  */
object JsonlToParquet {

  final case class JsonlResult(rows: DataFrame, schema: StructType)

  /** Read JSONL with an explicit schema (single-pass) or Spark's JSON
    * inference (extra scan), write parquet, return the parquet-backed
    * frame.
    */
  def convert(spark: SparkSession, inPath: String, outPath: String,
      schema: Option[StructType] = None,
      compression: String = "snappy"): JsonlResult = {
    val reader = spark.read
    val df = schema.fold(reader.json(inPath))(s => reader.schema(s).json(inPath))
    // JSONL splits by newline like CSV — fan the read→write leg out by
    // split planning (no exchange; identity at production sizes)
    SplitPlanning.withSmallSplitFloor(spark)(
      df.write.mode("overwrite").option("compression", compression).parquet(outPath))
    val back = spark.read.parquet(outPath)
    JsonlResult(back, back.schema)
  }
}
