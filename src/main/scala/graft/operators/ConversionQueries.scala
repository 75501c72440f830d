package graft.operators

import graft.GraftSession.table
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-surface queries (SURVEY.md §2.1): each one drives the real
  * CSV→Parquet pipeline — dump a table to CSV in a scratch dir, run the
  * engine's inference/conversion, read the parquet back — and reduces
  * to drift-free aggregates the DuckDB oracle reproduces from the
  * ORIGINAL parquet table. A lossless roundtrip makes both sides equal.
  */
object ConversionQueries {

  private def scratch(sfDir: String, name: String): String = {
    val sf = new java.io.File(sfDir).getName
    s"${graft.GraftSession.scratchRoot}/conversion/$sf/$name"
  }

  private def typeName(t: ArrowType): String = t match {
    case ArrowType.ATimestamp(u, tz) => s"Timestamp($u,${tz.getOrElse("None")})"
    case other => ArrowType.typeNames(other)
  }

  /** Inference over a CSV with bool/int/float/datetime/date/string
    * columns; emits the inferred (name, arrow_type, nullable) rows.
    */
  def refInferSchema(spark: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "infer_src")
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_quantity"),
        col("l_returnflag"),
        (col("l_quantity") > 25.0).as("is_heavy"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    val inferred = SchemaInference.infer(spark, csvDir, header = true)
    import spark.implicits._
    inferred.map(f => (f.name, typeName(f.arrowType), f.nullable))
      .toDF("name", "arrow_type", "nullable")
      .orderBy(col("name"))
  }

  // Expected: quantities are integer-valued but written as "12.0" →
  // decimal regex → Float64; l_orderkey → Int64; flags → Utf8;
  // is_heavy → Boolean; ship_ts → Date64; ship_day → Date32.
  val refInferSchemaSql: String =
    """SELECT * FROM (VALUES
      |  ('l_orderkey', 'Int64', false),
      |  ('l_quantity', 'Float64', false),
      |  ('l_returnflag', 'Utf8', false),
      |  ('is_heavy', 'Boolean', false),
      |  ('ship_ts', 'Date64', false),
      |  ('ship_day', 'Date32', false)
      |) AS t(name, arrow_type, nullable)
      |ORDER BY name""".stripMargin

  /** Headerless + custom delimiter: arrow-style `column_1..n` naming. */
  def refHeaderless(spark: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "headerless_src")
    table(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
      .write.mode("overwrite").option("header", "false")
      .option("delimiter", "|").csv(csvDir)
    val inferred = SchemaInference.infer(spark, csvDir, header = false, delimiter = '|')
    import spark.implicits._
    inferred.map(f => (f.name, typeName(f.arrowType))).toDF("name", "arrow_type")
      .orderBy(col("name"))
  }

  val refHeaderlessSql: String =
    """SELECT * FROM (VALUES
      |  ('column_1', 'Int64'), ('column_2', 'Utf8')
      |) AS t(name, arrow_type) ORDER BY name""".stripMargin

  /** Full conversion with inferred schema: CSV → graft convert →
    * parquet → aggregate. Equals the same aggregate on the original
    * table iff the roundtrip is lossless (types, values, row count).
    */
  def refRoundtripInfer(spark: SparkSession, dir: String): DataFrame = {
    val csvDir = scratch(dir, "rt_infer_csv")
    val pqDir = scratch(dir, "rt_infer_pq")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"))
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    val conv = CsvToParquet.convert(spark, csvDir, pqDir, ConvertOptions(compression = Some("zstd")))
    conv.rows.get
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice"))).cast("long").as("sum_price"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        date_format(max(col("ship_ts")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  val refRoundtripInferSql: String =
    """SELECT l_returnflag,
      |  count(*) AS n,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(sum(round(l_extendedprice)) AS BIGINT) AS sum_price,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Conversion driven by a reference-format Arrow-JSON schema file,
    * headerless, '|'-delimited — the `--schema-file` path
    * (`main.rs:126-144`) end-to-end.
    */
  def refRoundtripSchema(spark: SparkSession, dir: String): DataFrame = {
    import ArrowType._
    val csvDir = scratch(dir, "rt_schema_csv")
    val pqDir = scratch(dir, "rt_schema_pq")
    table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"))
      .write.mode("overwrite").option("header", "false")
      .option("delimiter", "|").csv(csvDir)

    val schema = ArrowSchema(Seq(
      ArrowField("o_orderkey", AInt64, nullable = false),
      ArrowField("o_custkey", AInt64, nullable = false),
      ArrowField("o_orderstatus", AUtf8, nullable = false),
      ArrowField("o_totalprice", AFloat64, nullable = false),
      ArrowField("o_orderdate", ADate64, nullable = false)))
    val schemaPath = scratch(dir, "rt_schema.json")
    new java.io.File(schemaPath).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(schemaPath),
      ArrowSchemaJson.render(schema))

    val conv = CsvToParquet.convert(spark, csvDir, pqDir,
      ConvertOptions(schemaFile = Some(schemaPath), header = Some(false),
        delimiter = '|', maxRowGroupSize = Some(4096), statistics = Some("page")))
    conv.rows.get
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("o_totalprice"))).cast("long").as("sum_total"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_day"))
      .orderBy(col("o_orderstatus"))
  }

  val refRoundtripSchemaSql: String =
    """SELECT o_orderstatus,
      |  count(*) AS n,
      |  CAST(sum(round(o_totalprice)) AS BIGINT) AS sum_total,
      |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_day
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** JSONL → parquet roundtrip (JsonlToParquet; engine extension
    * beyond the reference): documents → JSONL → typed single-pass read
    * → parquet → aggregate. Equals the oracle's aggregate over the
    * ORIGINAL table iff the roundtrip is lossless.
    */
  def refJsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val jsonDir = scratch(dir, "rt_jsonl_src")
    val pqDir = scratch(dir, "rt_jsonl_pq")
    val docs = table(spark, dir, "documents")
    docs.write.mode("overwrite").json(jsonDir)
    val conv = JsonlToParquet.convert(spark, jsonDir, pqDir,
      schema = Some(docs.schema), compression = "zstd")
    conv.rows
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  val refJsonlRoundtripSql: String =
    """SELECT lang, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Parquet → ORC → parquet-equivalent aggregate: closes the columnar
    * leg of the conversion matrix (csv ⇄ parquet, jsonl ⇄ parquet,
    * parquet → ORC) with Spark's NATIVE orc datasource — same
    * predicate-pushdown/column-pruning scan machinery, zstd
    * compression, no extra dependency. The oracle aggregates the
    * ORIGINAL parquet table (DuckDB reads no ORC and doesn't need to:
    * equality holds iff the typed roundtrip through ORC is lossless —
    * the same trick the CSV roundtrips use). Timestamps excluded:
    * lineitem carries none natively and ORC's µs semantics are already
    * covered by the parquet writers; types exercised are int64,
    * float64, string, date.
    */
  def refOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orcDir = scratch(dir, "rt_orc")
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate"))
      .write.mode("overwrite").option("compression", "zstd").orc(orcDir)
    spark.read.orc(orcDir)
      .filter(col("l_quantity") > 10.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice"))).cast("long").as("sum_price"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
      .orderBy(col("l_returnflag"))
  }

  val refOrcRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(sum(round(l_extendedprice)) AS BIGINT) AS sum_price,
      |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
      |FROM lineitem
      |WHERE l_quantity > 10.0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Parquet → Avro → parquet roundtrip: the LAST leg of the
    * conversion matrix (csv ⇄ parquet, jsonl ⇄ parquet, parquet →
    * ORC, parquet ⇄ Avro) — Avro is the row-oriented interchange
    * format ingest pipelines actually emit. Driven through
    * `AvroConversion` (avro-mapred container files — this Spark
    * distribution bundles Avro core/mapred but not the external
    * spark-avro datasource; see the module doc). Same oracle trick as
    * ORC: DuckDB aggregates the ORIGINAL parquet table, so equality
    * holds iff the typed roundtrip (int64, float64, string, date,
    * nulls) is lossless.
    */
  def refAvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val avroDir = scratch(dir, "rt_avro")
    val pqDir = scratch(dir, "rt_avro_pq")
    val src = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate"))
    AvroConversion.write(src, avroDir)
    AvroConversion.read(spark, avroDir, src.schema)
      .write.mode("overwrite").parquet(pqDir)
    spark.read.parquet(pqDir)
      .filter(col("l_quantity") > 5.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice"))).cast("long").as("sum_price"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"))
      .orderBy(col("l_returnflag"))
  }

  val refAvroRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(sum(round(l_extendedprice)) AS BIGINT) AS sum_price,
      |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship
      |FROM lineitem
      |WHERE l_quantity > 5.0
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
}
