package graft.sources

import graft.sources.ArrowType._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Arrow-32-compatible CSV schema inference, distributed.
  *
  * Semantics follow `arrow::csv::reader::infer_file_schema` as the
  * reference calls it (`main.rs:146-158`): per value, first match of
  *   boolean `^(?i)(true|false)$` → Boolean
  *   decimal `^-?(\d+\.\d+)$`     → Float64
  *   integer `^-?(\d+)$`          → Int64
  *   `^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}$` → Date64
  *   `^\d{4}-\d{2}-\d{2}$`        → Date32
  *   otherwise                    → Utf8
  * merged per column: one type → itself; {Int64,Float64} → Float64;
  * anything else mixed → Utf8. `maxReadRecords = Some(0)` skips
  * inference entirely → all Utf8 (reference `--max-read-records 0`).
  * Headerless files get 1-indexed `column_1..column_n` names.
  *
  * Scale design: the vote is ONE distributed aggregation pass of
  * codegen'd `rlike` CASE + `bit_or` — no driver-side row loop, no
  * collect of data. A 100 TB CSV infers with a single scan (or a
  * cheap prefix via `limit` when maxReadRecords is set, which Spark
  * satisfies without reading the full input).
  */
object SchemaInference {

  final case class InferredField(name: String, arrowType: ArrowType, nullable: Boolean)

  // bit layout for the type vote
  private val BIT_NULL = 1L
  private val BIT_BOOL = 2L
  private val BIT_FLOAT = 4L
  private val BIT_INT = 8L
  private val BIT_DATE64 = 16L
  private val BIT_DATE32 = 32L

  /** Read a CSV with every column typed Utf8 (the reference's raw
    * record view). Headerless naming matches arrow: `column_1..n`.
    */
  def readRaw(
      spark: SparkSession,
      path: String,
      header: Boolean,
      delimiter: Char,
      multiLine: Boolean = false): DataFrame = {
    val df = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter.toString)
      .option("multiLine", multiLine.toString)
      // RFC4180 doubled-quote escaping, matching the Rust csv crate
      // the reference reads with (not Spark's default backslash)
      .option("quote", "\"").option("escape", "\"")
      .option("inferSchema", "false")
      .csv(path)
    if (header) df
    else df.toDF(df.columns.indices.map(i => s"column_${i + 1}"): _*)
  }

  /** Run the distributed type vote and resolve arrow-32 merge rules. */
  def infer(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      delimiter: Char = ',',
      maxReadRecords: Option[Long] = None,
      multiLine: Boolean = false): Seq[InferredField] = {
    val raw = readRaw(spark, path, header, delimiter, multiLine)
    maxReadRecords match {
      case Some(0L) =>
        raw.columns.toSeq.map(InferredField(_, AUtf8, nullable = true))
      case _ =>
        // maxReadRecords=Some(n): LEADING-n-rows semantics, matching
        // the reference's infer_file_schema (`main.rs:146-158` reads
        // the FIRST n records). A DataFrame `limit(n)` would take n
        // rows from whichever splits answer first — and even
        // `coalesce(1)` doesn't fix it, because the file scan orders
        // splits by SIZE (bin-packing), not byte offset. Instead
        // `leadingRows` takes the first n lines through the RDD text
        // reader, whose partitions are in (file, offset) order — a
        // bounded read of ~n records (only the needed leading splits
        // are touched), never a full scan. Cost and driver memory are
        // O(n) — the reference pays the same, single-threaded.
        // maxReadRecords=None keeps the fully distributed full scan
        // (order-independent, the 100 TB path).
        val sampled = maxReadRecords.fold(raw)(n =>
          leadingRows(spark, path, raw.columns, header, delimiter,
            n.min(Int.MaxValue - 1).toInt))
        val votes = sampled.select(raw.columns.map(c => typeVote(c).as(c)).toIndexedSeq: _*)
          .agg(bit_or(col(raw.columns.head)).as(raw.columns.head),
            raw.columns.tail.map(c => bit_or(col(c)).as(c)).toIndexedSeq: _*)
        // fan the vote scan out by split planning (no exchange; the
        // identity at production sizes — SplitPlanning scaladoc)
        val bits: Row = SplitPlanning.withSmallSplitFloor(spark)(votes.head())
        raw.columns.toSeq.zipWithIndex.map { case (name, i) =>
          val b = if (bits.isNullAt(i)) BIT_NULL else bits.getLong(i)
          InferredField(name, resolve(b), nullable = (b & BIT_NULL) != 0 || b == BIT_NULL)
        }
    }
  }

  /** The input's first `n` data rows as an all-Utf8 frame, in TRUE
    * file order. Files are walked in sorted-path order and each
    * contributes its leading lines via `sc.textFile(file).take(...)`
    * (partitions sit in byte-offset order, so take() is genuinely the
    * file head) — per FILE, so a header=true directory drops every
    * part file's own header line instead of voting it as a Utf8
    * record. Only the needed leading splits of the needed leading
    * files are read. Line-based: a quoted embedded newline (multiLine)
    * counts as two lines here; leading-rows sampling is documented
    * unsupported for multiLine inputs (pass maxReadRecords=None
    * there).
    */
  private def leadingRows(spark: SparkSession, path: String,
      columns: Array[String], header: Boolean, delimiter: Char,
      n: Int): DataFrame = {
    import spark.implicits._
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[String] = {
      val st = fs.globStatus(hPath) match {
        case null => Array.empty[org.apache.hadoop.fs.FileStatus]
        case s => s
      }
      st.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).filter(_.isFile)
        else Array(s)
      }
        // Hadoop's input formats treat _- and .-prefixed files as
        // hidden (committer markers like _SUCCESS, .crc checksums);
        // sampling must skip them like the full-scan read does —
        // textFile on such a path throws, and a marker sorts FIRST
        .filterNot { s =>
          val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
        }
        .map(_.getPath.toString).sorted.toIndexedSeq
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = files.iterator
    while (lines.size < n && it.hasNext) {
      val f = it.next()
      val budget = n - lines.size + (if (header) 1 else 0)
      val head = spark.sparkContext.textFile(f).take(budget)
      lines ++= (if (header) head.drop(1) else head).toIndexedSeq
    }
    if (lines.isEmpty) {
      // no data rows in the sampled prefix → all-Utf8 nullable vote
      val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val parsed = spark.read
      .option("header", "false")
      .option("delimiter", delimiter.toString)
      .option("quote", "\"").option("escape", "\"")
      .option("inferSchema", "false")
      .csv(spark.createDataset(lines.toIndexedSeq))
    parsed.toDF(columns.toIndexedSeq: _*)
  }

  /** Per-value first-match type category. Spark's CSV reader already
    * surfaces empty fields as NULL. The classification runs as ONE
    * byte-scan expression (graft.functions.CsvTypeVote — r19: the
    * previous form ran up to five java.util.regex matchers per cell;
    * the scan is bit-for-bit equivalent to those anchored regexes,
    * see the expression's scaladoc, and SchemaInferenceSpec pins the
    * semantics either way).
    */
  private def typeVote(c: String): org.apache.spark.sql.Column =
    when(col(c).isNull, lit(BIT_NULL))
      .otherwise(org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.CsvTypeVoteExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(col(c)))))

  /** Arrow-32 merge: drop the null bit, then single type → itself,
    * {Int64,Float64} → Float64, empty → Utf8, otherwise Utf8.
    */
  private def resolve(bits: Long): ArrowType = (bits & ~BIT_NULL) match {
    case 0L => AUtf8
    case BIT_BOOL => ABool
    case BIT_FLOAT => AFloat64
    case BIT_INT => AInt64
    case b if b == (BIT_FLOAT | BIT_INT) => AFloat64
    case BIT_DATE64 => ADate64
    case BIT_DATE32 => ADate32
    case _ => AUtf8
  }

  def toArrowSchema(fields: Seq[InferredField]): ArrowSchema =
    ArrowSchema(fields.map(f => ArrowField(f.name, f.arrowType, f.nullable)))
}
