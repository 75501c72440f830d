package graft.sources

import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.hadoop.io.AvroSerialization
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file leg of the conversion matrix (SURVEY §2.1 /
  * §2.8) — the remaining interchange format training pipelines
  * actually emit after CSV/JSONL/Parquet/ORC.
  *
  * Spark's `avro` DATASOURCE is an external module
  * (org.apache.spark:spark-avro) that this distribution does not
  * bundle; what it DOES ship is Avro core + avro-mapred
  * (avro-1.12 / avro-mapred-1.12 on the jars classpath). This module
  * therefore drives the conversion through the public Hadoop
  * AvroKeyInput/OutputFormat pair with an explicit StructType ⇄ Avro
  * Schema mapping — the same pattern as the engine's CSV inference
  * path: a real distributed read/write (per-partition container
  * files, splittable input), no driver-side funnel.
  *
  * Type mapping (the scalar types the matrix exercises): long ⇄
  * "long", int ⇄ "int", double ⇄ "double", float ⇄ "float", string ⇄
  * "string", boolean ⇄ "boolean", date ⇄ {"type": "int",
  * "logicalType": "date"} (epoch days), timestamp ⇄ timestamp-micros
  * (instant micros), timestamp_ntz ⇄ local-timestamp-micros — all
  * three temporal encodings are Avro's standard logical types. Every
  * field is written as the nullable union ["null", T]; nulls
  * roundtrip.
  *
  * RDD use is deliberate and minimal: the Hadoop formats speak
  * (AvroKey, NullWritable) pairs, which is genuine per-partition
  * imperative glue — all querying stays DataFrame-side on the
  * converted parquet.
  */
object AvroConversion {

  private def avroType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType => "\"int\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case StringType => "\"string\""
    case BooleanType => "\"boolean\""
    case DateType => "{\"type\": \"int\", \"logicalType\": \"date\"}"
    case TimestampType =>
      "{\"type\": \"long\", \"logicalType\": \"timestamp-micros\"}"
    case TimestampNTZType =>
      "{\"type\": \"long\", \"logicalType\": \"local-timestamp-micros\"}"
    case other => throw new IllegalArgumentException(
      s"unsupported Avro conversion type: $other")
  }

  /** The Avro record schema JSON for a StructType — every field a
    * nullable union, names passed through (Avro name rules are a
    * superset of the engine's table columns).
    */
  def avroSchemaJson(schema: StructType, record: String = "graft_row"): String = {
    val fields = schema.fields.map { f =>
      s"""{"name": "${f.name}", "type": ["null", ${avroType(f.dataType)}], "default": null}"""
    }.mkString(", ")
    s"""{"type": "record", "name": "$record", "fields": [$fields]}"""
  }

  /** Write `df` as Avro container files under `path` (one file per
    * partition — the distributed layout every other sink here uses).
    *
    * r19: reads the query's INTERNAL rows (`queryExecution.toRdd`)
    * instead of `df.rdd` — the external-Row path deserialized every
    * cell into Java objects (java.sql.Date/Timestamp with calendar
    * math, boxed primitives via the encoder) only for this loop to
    * convert them straight back to Avro's physical encodings. Catalyst
    * already stores dates as epoch-day ints and timestamps as micros
    * longs — exactly Avro's `date`/`timestamp-micros`/
    * `local-timestamp-micros` logical encodings — so the record fill
    * is now a direct primitive copy per cell (fields addressed by
    * POSITION, not by a per-cell name lookup). Container bytes are
    * bit-identical to the previous form (AvroConversionSpec pins the
    * roundtrip).
    */
  def write(df: DataFrame, path: String): Unit = {
    val schema = df.schema
    val json = avroSchemaJson(schema)
    val spark = df.sparkSession
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val avroSchema = new org.apache.avro.Schema.Parser().parse(json)
    AvroJob.setOutputKeySchema(job, avroSchema)
    AvroSerialization.addToConfiguration(job.getConfiguration)
    val dts: Array[DataType] = schema.fields.map(_.dataType)
    val pairs = df.queryExecution.toRdd.mapPartitions { rows =>
      // parse once per partition: avro Schema is not serializable
      val sch = new org.apache.avro.Schema.Parser().parse(json)
      rows.map { row =>
        // the record is filled (and its values detached from the
        // possibly-reused UnsafeRow buffer) before the writer sees it
        val rec: GenericRecord = new GenericData.Record(sch)
        var i = 0
        while (i < dts.length) {
          val v: AnyRef =
            if (row.isNullAt(i)) null
            else dts(i) match {
              case LongType | TimestampType | TimestampNTZType =>
                java.lang.Long.valueOf(row.getLong(i))
              case IntegerType | DateType =>
                java.lang.Integer.valueOf(row.getInt(i))
              case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
              case FloatType => java.lang.Float.valueOf(row.getFloat(i))
              case StringType => row.getUTF8String(i).toString
              case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
              case other => throw new IllegalArgumentException(
                s"unsupported Avro conversion type: $other")
            }
          rec.put(i, v)
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }
    // clean overwrite semantics, matching the parquet sinks
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    pairs.saveAsNewAPIHadoopFile(path,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  /** Read Avro container files back into a DataFrame with `schema`
    * (the typed-read contract the CSV/JSONL converters use: the
    * caller states the shape, the read is a single distributed pass —
    * Avro container files are splittable, so big inputs parallelize).
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val json = avroSchemaJson(schema)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job,
      new org.apache.avro.Schema.Parser().parse(json))
    AvroSerialization.addToConfiguration(job.getConfiguration)
    // Container files are splittable at sync markers — that is the
    // format's point — but FileInputFormat only splits at the HDFS
    // block size (128 MB), so a small-corpus conversion decoded on
    // one task per file while the rest of the cluster idled (probe:
    // the whole decode→parquet leg as a 3-task 1.1 s stage on
    // local[32]). Cap the split size so the input fans out to the
    // session's parallelism, clamped to [1 MB, 128 MB]: at
    // production sizes bytes/parallelism exceeds the block size and
    // this is the default behavior — no extra splits, no exchange
    // anywhere (split planning, not a shuffle).
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes =
      if (fs.exists(p))
        fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      else 0L
    val target = math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.max(1L << 20, math.min(128L << 20, totalBytes / target))
    job.getConfiguration.setLong(
      "mapreduce.input.fileinputformat.split.maxsize", maxSplit)
    val dts: Array[DataType] = schema.fields.map(_.dataType)
    // r19: decode straight to INTERNAL rows — Avro's physical values
    // (epoch-day ints, micros longs, UTF-8 byte strings) ARE Catalyst's
    // physical encodings, so the previous Row path (java.sql.Date/
    // Timestamp construction per cell, then a full Catalyst conversion
    // pass inside createDataFrame) did two conversions per cell that
    // both cancel. Strings copy their UTF-8 bytes directly (no
    // decode/encode through java.lang.String); every value is detached
    // from the reader's reused buffers before the row is emitted.
    val rows = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      job.getConfiguration
    ).map { case (k, _) =>
      val rec = k.datum()
      val vals = new Array[Any](dts.length)
      var i = 0
      while (i < dts.length) {
        val v = rec.get(i)
        vals(i) =
          if (v == null) null
          else dts(i) match {
            case StringType => v match {
              case u: org.apache.avro.util.Utf8 =>
                org.apache.spark.unsafe.types.UTF8String.fromBytes(
                  java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
              case s => org.apache.spark.unsafe.types.UTF8String.fromString(s.toString)
            }
            case _ => v // int/long/double/float/boolean physical values
          }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        : org.apache.spark.sql.catalyst.InternalRow
    }
    org.apache.spark.sql.GraftColumnBridge.internalCreateDataFrame(spark, rows, schema)
  }
}
