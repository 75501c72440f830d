package graft.sources

import graft.GraftSession

/** CLI mirroring the reference's argument surface option-for-option
  * (`main.rs:45-119`; usage text in the reference Readme). Behavior
  * parity: `--print-schema`/`--dry` print the Arrow-JSON schema to
  * stdout with a `Schema:` banner on stderr (`main.rs:161-168`), and
  * `--dry` exits before writing.
  */
object Csv2ParquetCli {

  private val usage =
    """Usage: csv2parquet [OPTIONS] <CSV> <PARQUET>
      |
      |Arguments:
      |  <CSV>      Input CSV file
      |  <PARQUET>  Output file
      |
      |Options:
      |  -s, --schema-file <SCHEMA_FILE>                        File with Arrow schema in JSON format
      |      --max-read-records <MAX_READ_RECORDS>              Records to infer the schema from (all if absent; 0 = all string)
      |      --header <HEADER>                                  Whether the CSV file has headers [possible values: true, false]
      |  -d, --delimiter <DELIMITER>                            Column delimiter as a byte character [default: ,]
      |  -c, --compression <COMPRESSION>                        [possible values: uncompressed, snappy, gzip, lzo, brotli, lz4, zstd]
      |  -e, --encoding <ENCODING>                              [possible values: plain, rle, bit-packed, delta-binary-packed, delta-length-byte-array, delta-byte-array, rle-dictionary]
      |      --data-pagesize-limit <DATA_PAGESIZE_LIMIT>        Sets data page size limit
      |      --dictionary-pagesize-limit <DICT_PAGESIZE_LIMIT>  Sets dictionary page size limit
      |      --write-batch-size <WRITE_BATCH_SIZE>              Sets write batch size
      |      --max-row-group-size <MAX_ROW_GROUP_SIZE>          Sets max rows for a row group
      |      --created-by <CREATED_BY>                          Sets "created by" property
      |      --dictionary                                       Enable dictionary encoding
      |      --statistics <STATISTICS>                          [possible values: none, chunk, page]
      |      --max-statistics-size <MAX_STATISTICS_SIZE>        Max statistics size per column
      |      --multiline                                        Handle quoted embedded newlines (graft extension; non-splittable)
      |  -p, --print-schema                                     Print the schema to stderr
      |  -n, --dry                                              Only print the schema
      |  -h, --help                                             Print help information
      |  -V, --version                                          Print version information
      |""".stripMargin

  def parseArgs(args: List[String], opts: ConvertOptions, pos: List[String])
      : (ConvertOptions, List[String]) = args match {
    case Nil => (opts, pos.reverse)
    case ("-h" | "--help") :: _ => println(usage); sys.exit(0)
    case ("-V" | "--version") :: _ => println("csv2parquet-spark 0.1.0"); sys.exit(0)
    case ("-s" | "--schema-file") :: v :: rest =>
      parseArgs(rest, opts.copy(schemaFile = Some(v)), pos)
    case "--max-read-records" :: v :: rest =>
      parseArgs(rest, opts.copy(maxReadRecords = Some(v.toLong)), pos)
    case "--header" :: v :: rest =>
      parseArgs(rest, opts.copy(header = Some(v.toBoolean)), pos)
    case ("-d" | "--delimiter") :: v :: rest =>
      require(v.length == 1, s"delimiter must be one character, got '$v'")
      parseArgs(rest, opts.copy(delimiter = v.head), pos)
    case ("-c" | "--compression") :: v :: rest =>
      parseArgs(rest, opts.copy(compression = Some(v)), pos)
    case ("-e" | "--encoding") :: v :: rest =>
      parseArgs(rest, opts.copy(encoding = Some(v)), pos)
    case "--data-pagesize-limit" :: v :: rest =>
      parseArgs(rest, opts.copy(dataPagesizeLimit = Some(v.toLong)), pos)
    case "--dictionary-pagesize-limit" :: v :: rest =>
      parseArgs(rest, opts.copy(dictionaryPagesizeLimit = Some(v.toLong)), pos)
    case "--write-batch-size" :: v :: rest =>
      parseArgs(rest, opts.copy(writeBatchSize = Some(v.toLong)), pos)
    case "--max-row-group-size" :: v :: rest =>
      parseArgs(rest, opts.copy(maxRowGroupSize = Some(v.toLong)), pos)
    case "--created-by" :: v :: rest =>
      parseArgs(rest, opts.copy(createdBy = Some(v)), pos)
    case "--dictionary" :: rest => parseArgs(rest, opts.copy(dictionary = true), pos)
    case "--statistics" :: v :: rest =>
      parseArgs(rest, opts.copy(statistics = Some(v)), pos)
    case "--max-statistics-size" :: v :: rest =>
      parseArgs(rest, opts.copy(maxStatisticsSize = Some(v.toLong)), pos)
    case ("-p" | "--print-schema") :: rest =>
      parseArgs(rest, opts.copy(printSchema = true), pos)
    case ("-n" | "--dry") :: rest => parseArgs(rest, opts.copy(dry = true), pos)
    // graft extension: quoted embedded newlines (non-splittable read)
    case "--multiline" :: rest => parseArgs(rest, opts.copy(multiLine = true), pos)
    case p :: rest if !p.startsWith("-") => parseArgs(rest, opts, p :: pos)
    case bad :: _ =>
      System.err.println(s"error: unexpected argument '$bad'\n\n$usage"); sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val (opts, pos) =
      try parseArgs(args.toList, ConvertOptions(), Nil)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}\n\n$usage"); sys.exit(2) }
    val (input, output) = pos match {
      case in :: out :: Nil => (in, out)
      case in :: Nil if opts.dry => (in, "")
      case _ =>
        System.err.println(s"error: expected <CSV> <PARQUET>\n\n$usage"); sys.exit(2)
    }
    val preExisting = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.local()
    try {
      // Schema resolution happens once, shared by the print and the
      // write; `dry` exits before any write (`main.rs:161-168` ordering).
      lazy val schema = CsvToParquet.resolveSchema(spark, input, opts)
      if (opts.printSchema || opts.dry) {
        System.err.println("Schema:")
        println(ArrowSchemaJson.render(schema))
      }
      // reference parity: <PARQUET> is a single FILE (`main.rs:178`)
      if (!opts.dry) CsvToParquet.writeSingleFile(spark, input, output, opts)(schema)
    } finally if (!preExisting) spark.stop() // embedded callers keep their session
  }
}
