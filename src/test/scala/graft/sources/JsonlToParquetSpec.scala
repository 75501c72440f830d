package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

class JsonlToParquetSpec extends SparkSpec {

  test("nested JSONL (structs, arrays) round-trips through parquet") {
    val p = Paths.get(tmpDir("jsonl"), "nested.jsonl")
    Files.writeString(p,
      """{"id":1,"meta":{"lang":"en","score":0.5},"tags":["a","b"],"embedding":[0.1,0.2]}
        |{"id":2,"meta":{"lang":"zh","score":0.9},"tags":[],"embedding":[0.3,0.4]}
        |{"id":3,"meta":{"lang":"en","score":null},"tags":["c"],"embedding":null}
        |""".stripMargin)
    val out = tmpDir("jsonl") + "/nested_pq"
    val res = JsonlToParquet.convert(spark, p.toString, out)
    assert(res.rows.count() === 3)
    val schema = res.schema
    assert(schema("meta").dataType.typeName === "struct")
    assert(schema("tags").dataType.typeName === "array")
    val row = res.rows.filter(res.rows("id") === 1).head()
    assert(row.getStruct(row.fieldIndex("meta")).getString(0) === "en")
    assert(row.getSeq[String](row.fieldIndex("tags")) === Seq("a", "b"))
    // explicit-schema single-pass path preserves the nested shape too
    val res2 = JsonlToParquet.convert(spark, p.toString,
      tmpDir("jsonl") + "/nested_pq2", schema = Some(schema))
    assert(res2.rows.count() === 3 && res2.schema === schema)
  }
}
