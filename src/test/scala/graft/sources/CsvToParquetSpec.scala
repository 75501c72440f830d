package graft.sources

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.jdk.CollectionConverters._

class CsvToParquetSpec extends SparkSpec {

  private def footer(path: String): ParquetMetadata = {
    val f = new java.io.File(path)
    val part = if (f.isDirectory)
      f.listFiles().filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet")).head
    else f
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try r.getFooter finally r.close()
  }

  private def writeCsv(name: String, rows: Int): String = {
    val p = java.nio.file.Paths.get(tmpDir("conv"), name)
    val sb = new StringBuilder("id,price,flag\n")
    (0 until rows).foreach(i => sb.append(s"$i,${i % 97}.25,${if (i % 2 == 0) "A" else "B"}\n"))
    java.nio.file.Files.writeString(p, sb.toString)
    p.toString
  }

  test("conversion types + values round-trip") {
    val csv = writeCsv("basic.csv", 1000)
    val out = tmpDir("conv") + "/basic_pq"
    val conv = CsvToParquet.convert(spark, csv, out)
    val df = conv.rows.get
    assert(df.schema.map(_.dataType.typeName) === Seq("long", "double", "string"))
    assert(df.count() === 1000)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) === 499500L)
  }

  test("partitioned output: hive dirs, roundtrip, reader prunes partitions") {
    import org.apache.spark.sql.functions.col
    val csv = writeCsv("part.csv", 1000)
    val out = tmpDir("conv") + "/part_pq"
    val conv = CsvToParquet.convert(spark, csv, out,
      ConvertOptions(partitionBy = Seq("flag")))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("flag=A", "flag=B"))
    val back = spark.read.parquet(out)
    assert(back.count() === 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) === 499500L)
    // partition pruning: the flag predicate becomes a PartitionFilter on
    // the scan (directory-level pruning, before any file is opened)
    val pruned = back.filter(col("flag") === "A")
    assert(pruned.count() === 500)
    val scan = pruned.queryExecution.executedPlan.toString
    val pf = scan.linesIterator.find(_.contains("PartitionFilters:"))
    assert(pf.exists(_.contains("flag")),
      s"flag predicate must be a partition filter, plan scan: $pf")
    // unknown partition column fails fast; single-file form refuses
    intercept[IllegalArgumentException] {
      CsvToParquet.convert(spark, csv, out, ConvertOptions(partitionBy = Seq("nope")))
    }
    intercept[IllegalArgumentException] {
      CsvToParquet.convertToSingleFile(spark, csv, out + ".parquet",
        ConvertOptions(partitionBy = Seq("flag")))
    }
    assert(conv.rows.get.count() === 1000)
  }

  test("compression option reaches the parquet footer") {
    val csv = writeCsv("comp.csv", 500)
    for (codec <- Seq("snappy", "gzip", "zstd", "uncompressed")) {
      val out = tmpDir("conv") + s"/comp_$codec"
      CsvToParquet.convert(spark, csv, out, ConvertOptions(compression = Some(codec)))
      val got = footer(out).getBlocks.get(0).getColumns.get(0).getCodec.name().toLowerCase
      assert(got === codec, s"codec $codec")
    }
  }

  test("max-row-group-size limits rows per row group") {
    val csv = writeCsv("rg.csv", 1000)
    val out = tmpDir("conv") + "/rg_pq"
    CsvToParquet.convert(spark, csv, out, ConvertOptions(maxRowGroupSize = Some(100L)))
    val blocks = footer(out).getBlocks.asScala
    assert(blocks.size >= 10)
    assert(blocks.forall(_.getRowCount <= 100))
  }

  test("dictionary flag toggles dictionary encoding") {
    val csv = writeCsv("dict.csv", 1000)
    val on = tmpDir("conv") + "/dict_on"
    val off = tmpDir("conv") + "/dict_off"
    CsvToParquet.convert(spark, csv, on, ConvertOptions(dictionary = true))
    CsvToParquet.convert(spark, csv, off, ConvertOptions(dictionary = false))
    def flagEncodings(dir: String) = footer(dir).getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "flag").get.getEncodings.asScala.map(_.name())
    assert(flagEncodings(on).exists(_.contains("DICTIONARY")))
    assert(!flagEncodings(off).exists(_.contains("DICTIONARY")))
  }

  test("statistics none suppresses min/max") {
    val csv = writeCsv("stats.csv", 500)
    val none = tmpDir("conv") + "/stats_none"
    val page = tmpDir("conv") + "/stats_page"
    CsvToParquet.convert(spark, csv, none, ConvertOptions(statistics = Some("none")))
    CsvToParquet.convert(spark, csv, page, ConvertOptions(statistics = Some("page")))
    def idStats(dir: String) = footer(dir).getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "id").get.getStatistics
    assert(idStats(page).hasNonNullValue)
    val s = idStats(none)
    assert(s == null || s.isEmpty || !s.hasNonNullValue)
  }

  test("encoding fidelity: every reference encoding maps or fails loudly") {
    val csv = writeCsv("enc.csv", 300)
    // plain → dictionary disabled, write succeeds
    val plainOut = tmpDir("conv") + "/enc_plain"
    CsvToParquet.convert(spark, csv, plainOut, ConvertOptions(encoding = Some("plain")))
    val plainEnc = footer(plainOut).getBlocks.get(0).getColumns.asScala
      .flatMap(_.getEncodings.asScala.map(_.name()))
    assert(!plainEnc.exists(_.contains("DICTIONARY")))
    // delta-* → v2 writer (delta encodings appear on the int column)
    for (e <- Seq("delta-binary-packed", "delta-length-byte-array", "delta-byte-array")) {
      val out = tmpDir("conv") + s"/enc_$e"
      CsvToParquet.convert(spark, csv, out, ConvertOptions(encoding = Some(e)))
      val encs = footer(out).getBlocks.get(0).getColumns.asScala
        .flatMap(_.getEncodings.asScala.map(_.name())).toSet
      assert(encs.exists(_.startsWith("DELTA")), s"$e: v2 writer must pick delta, got $encs")
    }
    // rle / bit-packed / rle-dictionary: the reference's own writer
    // rejects these as forced encodings on typical schemas — we fail
    // the same way instead of silently ignoring
    for (e <- Seq("rle", "bit-packed", "rle-dictionary")) {
      intercept[IllegalArgumentException] {
        CsvToParquet.convert(spark, csv, tmpDir("conv") + s"/enc_fail_$e",
          ConvertOptions(encoding = Some(e)))
      }
    }
    // --dry exits before the writer, like the reference
    val dry = CsvToParquet.convert(spark, csv, tmpDir("conv") + "/enc_dry",
      ConvertOptions(encoding = Some("rle"), dry = true))
    assert(dry.rows.isEmpty && dry.schemaJson.contains("\"fields\""))
  }

  test("dry resolves schema but writes nothing") {
    val csv = writeCsv("dry.csv", 10)
    val out = tmpDir("conv") + "/dry_pq"
    val conv = CsvToParquet.convert(spark, csv, out, ConvertOptions(dry = true))
    assert(conv.rows.isEmpty)
    assert(conv.schemaJson.contains("\"Int64\""))
    assert(!new java.io.File(out).exists())
  }

  test("explicit-schema conversion fails on unparseable values like the reference; permissive opts out") {
    val p = java.nio.file.Paths.get(tmpDir("conv"), "bad_value.csv")
    java.nio.file.Files.writeString(p, "id,price\n1,2.5\noops,3.5\n")
    val schemaFile = java.nio.file.Paths.get(tmpDir("conv"), "bad_value_schema.json")
    java.nio.file.Files.writeString(schemaFile,
      """{"fields": [
        |  {"name": "id", "data_type": "Int64", "nullable": false,
        |   "dict_id": 0, "dict_is_ordered": false, "metadata": {}},
        |  {"name": "price", "data_type": "Float64", "nullable": false,
        |   "dict_id": 0, "dict_is_ordered": false, "metadata": {}}
        |]}""".stripMargin)
    val opts = ConvertOptions(schemaFile = Some(schemaFile.toString))
    // reference behavior: arrow's reader errors on 'oops' under Int64
    intercept[Exception] {
      CsvToParquet.convert(spark, p.toString, tmpDir("conv") + "/bad_ff", opts)
    }
    // documented escape hatch: bad value becomes null
    val conv = CsvToParquet.convert(spark, p.toString, tmpDir("conv") + "/bad_pm",
      opts.copy(permissive = true))
    val rows = conv.rows.get.orderBy("price").collect()
    assert(rows.length === 2)
    assert(rows.exists(_.isNullAt(0)), "unparseable id must null out in permissive mode")
  }

  test("invalid enums are rejected") {
    val csv = writeCsv("bad.csv", 10)
    intercept[IllegalArgumentException] {
      CsvToParquet.convert(spark, csv, "/tmp/x", ConvertOptions(compression = Some("xz")))
    }
    intercept[IllegalArgumentException] {
      CsvToParquet.convert(spark, csv, "/tmp/x", ConvertOptions(statistics = Some("full")))
    }
  }

  test("ConvertOptions validates itself: the CLI parser rejects a bogus mode too") {
    intercept[IllegalArgumentException](ConvertOptions(statistics = Some("bogus")))
    intercept[IllegalArgumentException](ConvertOptions(compression = Some("bogus")))
    intercept[IllegalArgumentException](ConvertOptions(encoding = Some("bogus")))
    intercept[IllegalArgumentException] {
      Csv2ParquetCli.parseArgs(List("--statistics", "bogus", "a.csv", "b.parquet"),
        ConvertOptions(), Nil)
    }
    val (opts, pos) = Csv2ParquetCli.parseArgs(
      List("--statistics", "page", "a.csv", "b.parquet"), ConvertOptions(), Nil)
    assert(opts.statistics === Some("page") && pos === List("a.csv", "b.parquet"))
  }

  /** Jobs `body` starts on this thread, counted by a listener; a
    * sentinel job in another group flushes the (FIFO) listener bus.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => n.incrementAndGet(); ()
          case "flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup("flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  test("CLI -p infers the schema once and reads no output back") {
    val csv = writeCsv("once.csv", 200)
    val dir = tmpDir("conv")
    val schema = CsvToParquet.resolveSchema(spark, csv, ConvertOptions())
    val infer = jobsOf("infer")(CsvToParquet.resolveSchema(spark, csv, ConvertOptions()))
    val write = jobsOf("write")(
      CsvToParquet.writeSingleFile(spark, csv, s"$dir/once_w.parquet", ConvertOptions())(schema))
    val plain = jobsOf("plain")(Csv2ParquetCli.main(Array(csv, s"$dir/once_a.parquet")))
    val printed = Console.withOut(new java.io.ByteArrayOutputStream()) {
      jobsOf("print")(Csv2ParquetCli.main(Array("-p", csv, s"$dir/once_b.parquet")))
    }
    assert(infer >= 1 && write >= 1)
    // one inference scan, the write, nothing else: -p adds no job
    assert(plain === infer + write, s"infer $infer, write $write")
    assert(printed === plain)
    assert(spark.read.parquet(s"$dir/once_b.parquet").count() === 200)
  }

  test("CLI: --dry prints reference-format schema, writes nothing") {
    val csv = writeCsv("cli.csv", 20)
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      Csv2ParquetCli.main(Array("--dry", csv))
    }
    val printed = outBuf.toString("UTF-8")
    assert(printed.contains("\"fields\""))
    assert(printed.contains("\"Int64\"") && printed.contains("\"Float64\""))
    assert(printed.contains("\"dict_id\": 0"))
  }

  test("CLI: full conversion writes ONE parquet file like the reference") {
    val csv = writeCsv("cli2.csv", 200)
    val out = tmpDir("conv") + "/cli2.parquet"
    Csv2ParquetCli.main(Array(
      "-c", "zstd", "--dictionary", "--max-row-group-size", "50", csv, out))
    assert(new java.io.File(out).isFile, "single-file output")
    val blocks = footer(out).getBlocks.asScala
    assert(blocks.forall(_.getRowCount <= 50))
    assert(blocks.size >= 4)
    assert(spark.read.parquet(out).count() === 200)
  }

  test("single-file conversion atomically overwrites an existing output") {
    val out = tmpDir("conv") + "/re.parquet"
    CsvToParquet.convertToSingleFile(spark, writeCsv("re1.csv", 10), out)
    assert(spark.read.parquet(out).count() === 10)
    // second conversion replaces the file in place (FileContext
    // OVERWRITE rename — one metadata op, no delete-then-rename gap)
    CsvToParquet.convertToSingleFile(spark, writeCsv("re2.csv", 25), out)
    assert(new java.io.File(out).isFile, "still a single file")
    assert(spark.read.parquet(out).count() === 25)
  }

  test("RFC4180 quoting: commas, doubled quotes, newlines in fields") {
    val p = java.nio.file.Paths.get(tmpDir("conv"), "quoted.csv")
    java.nio.file.Files.writeString(p,
      "id,msg\n" +
      "1,\"hello, world\"\n" +
      "2,\"she said \"\"hi\"\"\"\n" +
      "3,\"line1\nline2\"\n")
    val out = tmpDir("conv") + "/quoted_pq"
    val conv = CsvToParquet.convert(spark, p.toString, out,
      ConvertOptions(maxReadRecords = Some(0L), multiLine = true))
    val rows = conv.rows.get.orderBy("id").collect()
    assert(rows(0).getString(1) === "hello, world")
    assert(rows(1).getString(1) === "she said \"hi\"")
    assert(rows(2).getString(1) === "line1\nline2")
  }
}
