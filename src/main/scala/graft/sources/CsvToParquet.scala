package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Options mirroring the reference CLI surface (`main.rs:47-119`). */
final case class ConvertOptions(
    schemaFile: Option[String] = None,
    maxReadRecords: Option[Long] = None,
    header: Option[Boolean] = None,
    delimiter: Char = ',',
    compression: Option[String] = None,
    encoding: Option[String] = None,
    dataPagesizeLimit: Option[Long] = None,
    dictionaryPagesizeLimit: Option[Long] = None,
    writeBatchSize: Option[Long] = None,
    maxRowGroupSize: Option[Long] = None,
    createdBy: Option[String] = None,
    dictionary: Boolean = false,
    statistics: Option[String] = None,
    maxStatisticsSize: Option[Long] = None,
    printSchema: Boolean = false,
    dry: Boolean = false,
    // Reference fidelity: arrow's CSV reader FAILS the conversion on a
    // value that doesn't parse under the (explicit) schema; FAILFAST
    // reproduces that. permissive=true is the cluster-pragmatic escape
    // hatch (bad values become nulls) — an explicit divergence, never
    // the default.
    permissive: Boolean = false,
    // Embedded newlines inside quoted fields need multiLine, which
    // makes CSV files NON-SPLITTABLE (one task per file). The
    // reference streams single-threaded so it loses nothing; at scale
    // keep this off unless the data demands it.
    multiLine: Boolean = false,
    // Engine extension (no reference analogue): hive-style partitioned
    // output — `col=value/` directories the reader prunes BEFORE
    // touching any file. The storage-layout half of what makes a
    // 100 TB table queryable; directory form only.
    partitionBy: Seq[String] = Nil) {
  require(compression.forall(ConvertOptions.compressions),
    s"unknown compression '${compression.mkString}'")
  require(encoding.forall(ConvertOptions.encodings),
    s"unknown encoding '${encoding.mkString}'")
  require(statistics.forall(ConvertOptions.statisticsModes),
    s"unknown statistics mode '${statistics.mkString}'")
}

object ConvertOptions {
  val compressions: Set[String] =
    Set("uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd")
  val encodings: Set[String] = Set(
    "plain", "rle", "bit-packed", "delta-binary-packed",
    "delta-length-byte-array", "delta-byte-array", "rle-dictionary")
  val statisticsModes: Set[String] = Set("none", "chunk", "page")
}

/** CSV → Parquet conversion, Spark-native (SURVEY.md §2.1).
  *
  * The reference (`main.rs:121-261`) streams one CSV file through an
  * ArrowWriter into one parquet file. The Spark re-expression reads the
  * CSV as a DataFrame (splittable: a 100 TB input parallelizes by
  * `spark.sql.files.maxPartitionBytes`) and writes a parquet *dataset*
  * (a directory of part files — the cluster-native equivalent of the
  * reference's single file; each part honors the same writer
  * properties).
  *
  * Writer-property mapping onto parquet-mr (per-write options; Spark
  * forwards `parquet.*` write options into the task-side Hadoop conf):
  *   compression          → codec option (lzo/brotli need codec jars,
  *                          absent here — same runtime failure mode as
  *                          a reference build without those features)
  *   data_pagesize_limit  → parquet.page.size
  *   dict_pagesize_limit  → parquet.dictionary.page.size
  *   dictionary           → parquet.enable.dictionary
  *   max_row_group_size   → parquet.block.row.count.limit (rows, same
  *                          unit as parquet-rs) + parquet.block.size
  *                          left at default as the byte-level cap
  *   statistics none      → parquet.column.statistics.enabled=false
  *   statistics chunk/page→ enabled (parquet-mr always keeps both
  *                          chunk- and page-level stats when on; the
  *                          reference's finer distinction is accepted
  *                          and recorded, not an error)
  *   encoding delta-*     → parquet.writer.version=PARQUET_2_0 (v2
  *                          picks the delta encodings; parquet-mr does
  *                          not support forcing one encoding globally)
  *   encoding rle/bit-packed/rle-dictionary → ERROR at write time:
  *                          the reference's writer itself rejects
  *                          these as forced encodings for typical
  *                          (non-boolean) schemas, so failing matches
  *                          its behavior where ignoring would not.
  *                          --dry still prints the schema first.
  *   write_batch_size     → parquet.page.row.count.limit analog is NOT
  *                          set; accepted + logged (parquet-mr batches
  *                          internally)
  *   created_by           → accepted + logged (parquet-mr stamps its
  *                          own created_by; not configurable)
  *   max_statistics_size  → parquet.statistics.truncate.length
  */
object CsvToParquet {

  final case class Conversion(schema: ArrowSchema, schemaJson: String, rows: Option[DataFrame])

  /** Resolve the schema exactly like the reference: schema file wins
    * (`main.rs:126-144`), else inference (`main.rs:146-158`).
    */
  def resolveSchema(spark: SparkSession, csvPath: String, opts: ConvertOptions): ArrowSchema =
    opts.schemaFile match {
      case Some(f) =>
        val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
        ArrowSchemaJson.parse(json)
      case None =>
        SchemaInference.toArrowSchema(
          SchemaInference.infer(spark, csvPath, opts.header.getOrElse(true),
            opts.delimiter, opts.maxReadRecords, opts.multiLine))
    }

  /** Typed CSV read with a known schema. */
  def readTyped(
      spark: SparkSession,
      csvPath: String,
      schema: StructType,
      header: Boolean,
      delimiter: Char,
      multiLine: Boolean = false,
      permissive: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter.toString)
      .option("multiLine", multiLine.toString)
      // RFC4180 doubled-quote escaping (Rust csv crate semantics)
      .option("quote", "\"").option("escape", "\"")
      .option("timestampFormat", "yyyy-MM-dd[['T'][ ]HH:mm:ss]")
      // FAILFAST = the reference's behavior (arrow errors out on an
      // unparseable value); PERMISSIVE nulls it — opt-in only
      .option("mode", if (permissive) "PERMISSIVE" else "FAILFAST")
      .csv(csvPath)

  /** Full conversion. Returns the resolved schema + its reference-format
    * JSON; `rows` is None when `dry` short-circuited before writing.
    */
  def convert(spark: SparkSession, csvPath: String, outPath: String,
      opts: ConvertOptions = ConvertOptions()): Conversion = {
    val schema = resolveSchema(spark, csvPath, opts)
    val json = ArrowSchemaJson.render(schema)
    if (opts.dry) return Conversion(schema, json, None)

    val header = opts.header.getOrElse(true)
    val df = readTyped(spark, csvPath, schema.toSpark, header, opts.delimiter,
      opts.multiLine, opts.permissive)
    opts.writeBatchSize.foreach(v =>
      System.err.println(s"[graft] write_batch_size=$v accepted (parquet-mr batches internally)"))
    opts.createdBy.foreach(v =>
      System.err.println(s"[graft] created_by=$v accepted (parquet-mr stamps its own writer id)"))
    // the typed read is line-splittable (multiLine=false default) —
    // fan the read→write leg out by split planning (no exchange; the
    // identity at production sizes — SplitPlanning scaladoc)
    SplitPlanning.withSmallSplitFloor(spark)(
      convertFrame(df, schema, outPath, opts))
    Conversion(schema, json, Some(spark.read.parquet(outPath)))
  }

  /** Reference-compatible single-FILE output (`csv2parquet in.csv
    * out.parquet` writes one file, `main.rs:178`): convert into a
    * scratch directory with one output partition and move the part
    * file to the exact target path. The CLI uses this; the library
    * API keeps the directory form, which is what scales. `dry`
    * writes nothing.
    *
    * All file operations go through Hadoop's FileSystem resolved
    * from the OUTPUT path, and the scratch directory is staged
    * beside the target — so `out.parquet` may live on hdfs:// or
    * s3a:// and the final move is a same-filesystem rename, never a
    * local-disk round-trip.
    */
  def convertToSingleFile(spark: SparkSession, csvPath: String, outFile: String,
      opts: ConvertOptions = ConvertOptions()): Unit =
    if (!opts.dry) writeSingleFile(spark, csvPath, outFile, opts)(
      resolveSchema(spark, csvPath, opts))

  /** The single-file write for a schema the caller resolved (the CLI
    * resolves once for `--print-schema` and the write); `schema` is
    * evaluated after the option checks.
    */
  private[sources] def writeSingleFile(spark: SparkSession, csvPath: String,
      outFile: String, opts: ConvertOptions)(schema: => ArrowSchema): Unit = {
    require(opts.partitionBy.isEmpty,
      "partitioned output needs the directory form (a single file has no partition dirs)")
    import org.apache.hadoop.fs.Path
    val outP = new Path(outFile)
    val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = Option(outP.getParent).getOrElse(new Path("."))
    val tmpP = new Path(parent, s".graft_c2p_${java.util.UUID.randomUUID()}")
    try {
      val s = schema
      val df = readTyped(spark, csvPath, s.toSpark, opts.header.getOrElse(true),
        opts.delimiter, opts.multiLine, opts.permissive)
        .coalesce(1)
      convertFrame(df, s, tmpP.toString, opts)
      val part = fs.globStatus(new Path(tmpP, "part-*.parquet")).head.getPath
      // atomic overwrite: FileContext.rename(OVERWRITE) replaces the
      // target in ONE metadata op (HDFS and local both implement it),
      // so a pre-existing output file survives any failure up to and
      // including the rename itself — delete-then-rename has a window
      // where a crash loses the old output with no new one in place
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(part), fs.makeQualified(outP),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } finally {
      fs.delete(tmpP, true); ()
    }
  }

  /** Shared writer path for a pre-built frame. */
  private def convertFrame(df: DataFrame, schema: ArrowSchema,
      outPath: String, opts: ConvertOptions): Unit = {
    var w = df.write.mode("overwrite")
      .option("parquet.enable.dictionary", opts.dictionary.toString)
    if (opts.partitionBy.nonEmpty) {
      val missing = opts.partitionBy.filterNot(df.columns.contains)
      require(missing.isEmpty, s"partitionBy columns not in schema: $missing")
      w = w.partitionBy(opts.partitionBy: _*)
    }
    opts.compression.foreach { c =>
      w = w.option("compression", if (c == "uncompressed") "none" else c)
    }
    opts.dataPagesizeLimit.foreach(v => w = w.option("parquet.page.size", v.toString))
    opts.dictionaryPagesizeLimit.foreach(v =>
      w = w.option("parquet.dictionary.page.size", v.toString))
    opts.maxRowGroupSize.foreach(v =>
      w = w.option("parquet.block.row.count.limit", v.toString))
    opts.statistics.foreach { s =>
      w = w.option("parquet.column.statistics.enabled", (s != "none").toString)
    }
    opts.maxStatisticsSize.foreach(v =>
      w = w.option("parquet.statistics.truncate.length", v.toString))
    opts.encoding.foreach {
      case e if e.startsWith("delta-") => w = w.option("parquet.writer.version", "PARQUET_2_0")
      case "plain" => w = w.option("parquet.enable.dictionary", "false")
      // Reference fidelity: forcing RLE/BIT_PACKED globally makes the
      // reference's own writer reject every non-boolean column at
      // write time, and RLE_DICTIONARY is rejected as a fallback
      // encoding outright — so a typical conversion FAILS there.
      // parquet-mr has no global-encoding override at all, so the
      // honest mapping is the same failure, not a silent ignore.
      // (--dry never reaches this point, matching the reference's
      // exit-before-write.)
      case e => throw new IllegalArgumentException(
        s"encoding $e cannot be honored: parquet rejects it as a forced " +
          "global encoding for non-boolean columns (the reference errors at " +
          "write time); use plain or a delta-* encoding")
    }
    w.parquet(outPath)
  }
}
