package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Continuous CSV → Parquet conversion (the reference's one-shot job
  * as an incremental ingestion pipeline): new CSV files landing in a
  * directory are converted exactly once into a growing parquet
  * dataset.
  *
  * Structured Streaming's file source tracks seen files in the
  * checkpoint, so a crash/restart resumes WITHOUT reconverting; the
  * parquet sink commits atomically per batch. The schema must be
  * explicit — the scale path for conversion anyway (infer once with
  * `SchemaInference`, then stream with the pinned schema so a
  * malformed late file cannot silently flip column types).
  */
object CsvStreamToParquet {

  def start(spark: SparkSession, inDir: String, schema: StructType,
      outDir: String, checkpoint: String, header: Boolean = true,
      delimiter: Char = ','): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter.toString)
      .option("quote", "\"").option("escape", "\"")
      .csv(inDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .start()
}
