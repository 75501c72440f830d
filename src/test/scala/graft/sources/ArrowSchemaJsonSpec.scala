package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ArrowSchemaJsonSpec extends AnyFunSuite {

  // The reference Readme's own schema-file example (with its quirky
  // leading-space field name) must parse.
  test("parses the reference Readme example") {
    val json =
      """{
        |  "fields": [
        |    {"name": "col1", "data_type": "Utf8", "nullable": false,
        |     "dict_id": 0, "dict_is_ordered": false, "metadata": {}},
        |    {"name": " col2", "data_type": "Utf8", "nullable": false,
        |     "dict_id": 0, "dict_is_ordered": false, "metadata": {}}
        |  ],
        |  "metadata": {}
        |}""".stripMargin
    val s = ArrowSchemaJson.parse(json).toSpark
    assert(s === StructType(Seq(
      StructField("col1", StringType, nullable = false),
      StructField(" col2", StringType, nullable = false))))
  }

  test("parameterized types parse: Timestamp, Decimal128, List") {
    val json =
      """{"fields": [
        |  {"name": "ts", "data_type": {"Timestamp": ["Microsecond", null]}, "nullable": true},
        |  {"name": "tsz", "data_type": {"Timestamp": ["Millisecond", "UTC"]}, "nullable": true},
        |  {"name": "d", "data_type": {"Decimal128": [20, 4]}, "nullable": false},
        |  {"name": "xs", "data_type": {"List": {"name": "item", "data_type": "Float32", "nullable": true}}, "nullable": true}
        |]}""".stripMargin
    val s = ArrowSchemaJson.parse(json).toSpark
    assert(s("ts").dataType === TimestampNTZType)
    assert(s("tsz").dataType === TimestampType)
    assert(s("d").dataType === DecimalType(20, 4))
    assert(s("xs").dataType === ArrayType(FloatType, containsNull = true))
  }

  test("render → parse round-trips and emits reference serde keys") {
    import ArrowType._
    val schema = ArrowSchema(Seq(
      ArrowField("a", AInt64, nullable = false),
      ArrowField("b", AUtf8, nullable = true),
      ArrowField("c", ADate64, nullable = false),
      ArrowField("d", ATimestamp("Microsecond", Some("UTC")), nullable = true)))
    val json = ArrowSchemaJson.render(schema)
    assert(json.contains("\"dict_id\""))
    assert(json.contains("\"dict_is_ordered\""))
    assert(json.contains("\"metadata\""))
    assert(ArrowSchemaJson.parse(json) === schema)
  }

  test("unknown type is rejected") {
    intercept[IllegalArgumentException] {
      ArrowSchemaJson.parse("""{"fields":[{"name":"x","data_type":"Frob","nullable":true}]}""")
    }
  }
}
