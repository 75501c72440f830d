package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Arrow data types as the reference serializes them.
  *
  * The reference reads/writes schemas as the serde-JSON of
  * `arrow_schema::Schema` v32 (reference `main.rs:126-144` for parsing,
  * `main.rs:161-168` for printing): unit variants are plain strings
  * (`"Int64"`), parameterized ones are single-key objects
  * (`{"Timestamp": ["Microsecond", null]}`). We keep our own ADT so the
  * engine can round-trip schemas the reference understands and print
  * inference results in the reference's exact vocabulary
  * (Boolean/Int64/Float64/Date32/Date64/Utf8), which a plain
  * `StructType` cannot represent faithfully (e.g. Date64 vs Timestamp).
  */
sealed trait ArrowType { def sparkType: DataType }

object ArrowType {
  case object ABool extends ArrowType { val sparkType: DataType = BooleanType }
  case object AInt8 extends ArrowType { val sparkType: DataType = ByteType }
  case object AInt16 extends ArrowType { val sparkType: DataType = ShortType }
  case object AInt32 extends ArrowType { val sparkType: DataType = IntegerType }
  case object AInt64 extends ArrowType { val sparkType: DataType = LongType }
  case object AUInt8 extends ArrowType { val sparkType: DataType = ShortType }
  case object AUInt16 extends ArrowType { val sparkType: DataType = IntegerType }
  case object AUInt32 extends ArrowType { val sparkType: DataType = LongType }
  case object AUInt64 extends ArrowType { val sparkType: DataType = DecimalType(20, 0) }
  case object AFloat16 extends ArrowType { val sparkType: DataType = FloatType }
  case object AFloat32 extends ArrowType { val sparkType: DataType = FloatType }
  case object AFloat64 extends ArrowType { val sparkType: DataType = DoubleType }
  case object AUtf8 extends ArrowType { val sparkType: DataType = StringType }
  case object ALargeUtf8 extends ArrowType { val sparkType: DataType = StringType }
  case object ABinary extends ArrowType { val sparkType: DataType = BinaryType }
  case object ALargeBinary extends ArrowType { val sparkType: DataType = BinaryType }
  case object ADate32 extends ArrowType { val sparkType: DataType = DateType }
  /** Arrow Date64 = millis since epoch; the reference's CSV inference
    * emits it for `yyyy-MM-dd HH:mm:ss` values, so it maps to a Spark
    * timestamp, not a date.
    */
  case object ADate64 extends ArrowType { val sparkType: DataType = TimestampType }
  case object ANull extends ArrowType { val sparkType: DataType = NullType }
  final case class ATimestamp(unit: String, tz: Option[String]) extends ArrowType {
    val sparkType: DataType = if (tz.isEmpty) TimestampNTZType else TimestampType
  }
  final case class ADecimal128(precision: Int, scale: Int) extends ArrowType {
    val sparkType: DataType = DecimalType(precision, scale)
  }
  final case class AList(elem: ArrowField) extends ArrowType {
    val sparkType: DataType = ArrayType(elem.dataType.sparkType, elem.nullable)
  }
  final case class AStruct(fields: Seq[ArrowField]) extends ArrowType {
    val sparkType: DataType = StructType(fields.map(_.toSparkField))
  }

  private val unitTypes: Map[String, ArrowType] = Map(
    "Boolean" -> ABool, "Int8" -> AInt8, "Int16" -> AInt16,
    "Int32" -> AInt32, "Int64" -> AInt64, "UInt8" -> AUInt8,
    "UInt16" -> AUInt16, "UInt32" -> AUInt32, "UInt64" -> AUInt64,
    "Float16" -> AFloat16, "Float32" -> AFloat32, "Float64" -> AFloat64,
    "Utf8" -> AUtf8, "LargeUtf8" -> ALargeUtf8, "Binary" -> ABinary,
    "LargeBinary" -> ALargeBinary, "Date32" -> ADate32,
    "Date64" -> ADate64, "Null" -> ANull)

  val typeNames: Map[ArrowType, String] = unitTypes.map(_.swap)

  def parse(node: JsonNode): ArrowType =
    if (node.isTextual) {
      val s = node.asText()
      unitTypes.getOrElse(s, throw new IllegalArgumentException(s"Unsupported Arrow data_type: $s"))
    } else if (node.isObject) {
      val name = node.fieldNames().asScala.next()
      val v = node.get(name)
      name match {
        case "Timestamp" =>
          ATimestamp(v.get(0).asText(), Option(v.get(1)).filter(!_.isNull).map(_.asText()))
        case "Decimal128" => ADecimal128(v.get(0).asInt(), v.get(1).asInt())
        case "Decimal256" => ADecimal128(v.get(0).asInt(), v.get(1).asInt())
        case "List" | "LargeList" => AList(ArrowField.parse(v))
        case "Struct" =>
          AStruct(v.asInstanceOf[ArrayNode].elements().asScala.map(ArrowField.parse).toSeq)
        case other =>
          throw new IllegalArgumentException(s"Unsupported Arrow data_type: $other")
      }
    } else throw new IllegalArgumentException(s"Bad data_type node: $node")

  def render(t: ArrowType, m: ObjectMapper): JsonNode = t match {
    case ATimestamp(unit, tz) =>
      val o = m.createObjectNode()
      val arr = o.putArray("Timestamp")
      arr.add(unit)
      tz.fold { arr.addNull(); () } { z => arr.add(z); () }
      o
    case ADecimal128(p, s) =>
      val o = m.createObjectNode()
      o.putArray("Decimal128").add(p).add(s)
      o
    case AList(f) =>
      val o = m.createObjectNode()
      o.set[ObjectNode]("List", ArrowField.render(f, m))
      o
    case AStruct(fs) =>
      val o = m.createObjectNode()
      val arr = o.putArray("Struct")
      fs.foreach(f => arr.add(ArrowField.render(f, m)))
      o
    case unit => m.getNodeFactory.textNode(typeNames(unit))
  }
}

/** One field of the reference schema format: `main.rs` Readme example —
  * `{name, data_type, nullable, dict_id, dict_is_ordered, metadata}`.
  */
final case class ArrowField(name: String, dataType: ArrowType, nullable: Boolean) {
  def toSparkField: StructField = StructField(name, dataType.sparkType, nullable)
}

object ArrowField {
  def parse(node: JsonNode): ArrowField =
    ArrowField(
      node.get("name").asText(),
      ArrowType.parse(node.get("data_type")),
      Option(node.get("nullable")).exists(_.asBoolean()))

  def render(f: ArrowField, m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    o.put("name", f.name)
    o.set[ObjectNode]("data_type", ArrowType.render(f.dataType, m))
    o.put("nullable", f.nullable)
    o.put("dict_id", 0L)
    o.put("dict_is_ordered", false)
    o.set[ObjectNode]("metadata", m.createObjectNode())
    o
  }
}

final case class ArrowSchema(fields: Seq[ArrowField]) {
  def toSpark: StructType = StructType(fields.map(_.toSparkField))
}

/** Parse / render the Arrow serde-JSON schema format of the reference
  * (`main.rs:56-58` input, `main.rs:161-164` pretty-printed output).
  */
object ArrowSchemaJson {
  private val mapper = new ObjectMapper()

  /** Match serde_json::to_string_pretty: 2-space indent, arrays one
    * element per line, `"key": value` (no space before the colon —
    * Jackson's default emits `"key" : value`).
    */
  private class SerdePrettyPrinter
      extends com.fasterxml.jackson.core.util.DefaultPrettyPrinter {
    _arrayIndenter = com.fasterxml.jackson.core.util.DefaultIndenter.SYSTEM_LINEFEED_INSTANCE
    override def writeObjectFieldValueSeparator(
        g: com.fasterxml.jackson.core.JsonGenerator): Unit = g.writeRaw(": ")
    // serde_json prints empty containers as {} / [], Jackson as { } / [ ]
    override def writeEndObject(
        g: com.fasterxml.jackson.core.JsonGenerator, n: Int): Unit =
      if (n > 0) super.writeEndObject(g, n) else { _nesting -= 1; g.writeRaw('}') }
    override def writeEndArray(
        g: com.fasterxml.jackson.core.JsonGenerator, n: Int): Unit =
      if (n > 0) super.writeEndArray(g, n) else { _nesting -= 1; g.writeRaw(']') }
    override def createInstance(): com.fasterxml.jackson.core.util.DefaultPrettyPrinter =
      new SerdePrettyPrinter
  }

  def parse(json: String): ArrowSchema = {
    val root = mapper.readTree(json)
    val fields = Option(root.get("fields"))
      .getOrElse(throw new IllegalArgumentException("schema json missing 'fields'"))
    ArrowSchema(fields.asInstanceOf[ArrayNode].elements().asScala.map(ArrowField.parse).toSeq)
  }

  /** Pretty JSON matching serde_json::to_string_pretty (2-space indent). */
  def render(schema: ArrowSchema): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("fields")
    schema.fields.foreach(f => arr.add(ArrowField.render(f, mapper)))
    root.set[ObjectNode]("metadata", mapper.createObjectNode())
    mapper.writer(new SerdePrettyPrinter).writeValueAsString(root)
  }
}
