package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The codegen'd code-selected reconstruction error (r20): bit-identical
  * to the literal when-chain + zip_with + ArrayDotProduct form it
  * replaced in `ProductQuantizer.subErr2`/`adcDist2`, same null flow
  * (null code → null, unmatched code → null), loud failure on a dims
  * mismatch.
  */
class CentroidErr2Spec extends SparkSpec {
  import spark.implicits._

  private val cents: Seq[(Int, Seq[Double])] = Seq(
    1 -> Seq(0.25, -0.5, 0.125),
    2 -> Seq(-1.0, 0.0625, 2.0),
    4 -> Seq(0.3, 0.7, -0.9)) // non-contiguous cids on purpose

  /** The replaced literal form, verbatim (the bit-parity reference). */
  private def literalErr2(subv: Column, code: Column): Column = {
    val centArr = cents.foldRight(lit(null).cast("array<double>")) {
      case ((cid, c), acc) =>
        when(code === cid, array(c.map(lit): _*)).otherwise(acc)
    }
    val diff = zip_with(subv, centArr, (x, y) => x - y)
    ArrayDotProduct(diff, diff)
  }

  test("bit-identical to the literal when-chain form over a sweep") {
    val df = spark.range(300).select($"id",
      expr("transform(sequence(0, 2), " +
        "j -> (CAST(pmod(xxhash64(id, j), 1001) AS DOUBLE) - 500.0D) / 250.0D)").as("v"),
      expr("CAST(element_at(array(1, 2, 4), CAST(pmod(xxhash64(id), 3) AS INT) + 1) AS BIGINT)").as("code"))
    val got = df.select($"id", CentroidErr2($"v", $"code", cents).as("e"))
      .as[(Long, Double)].collect().toMap
    val ref = df.select($"id", literalErr2($"v", $"code").as("e"))
      .as[(Long, Double)].collect().toMap
    assert(got.size === 300)
    got.foreach { case (id, e) =>
      assert(java.lang.Double.doubleToRawLongBits(e) ===
        java.lang.Double.doubleToRawLongBits(ref(id)),
        s"id=$id: $e vs ${ref(id)} must be bit-identical")
    }
  }

  test("interpreted eval equals codegen") {
    val df = spark.range(200).select($"id",
      expr("transform(sequence(0, 2), " +
        "j -> CAST(pmod(xxhash64(id, j), 97) AS DOUBLE) / 97.0D)").as("v"),
      expr("CAST(element_at(array(1, 2, 4), CAST(pmod(xxhash64(id), 3) AS INT) + 1) AS BIGINT)").as("code"))
    val viaCodegen = df.select($"id", CentroidErr2($"v", $"code", cents).as("e"))
      .as[(Long, Double)].collect().toMap
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val interp = df.select($"id", CentroidErr2($"v", $"code", cents).as("e"))
        .as[(Long, Double)].collect().toMap
      assert(interp === viaCodegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("null or unmatched code yields null, like the when-chain") {
    val v = Seq(Some(1.0), Some(2.0), Some(3.0))
    val df = Seq((1L, v, Some(2L)),
      (2L, v, Some(99L)), // matches no cid
      (3L, v, None),
      // unmatched code: null even with a null component, since the
      // when-chain's null base never touches the vector
      (4L, Seq(Some(1.0), None, Some(3.0)), Some(99L))).toDF("id", "v", "code")
    val got = df.select($"id", CentroidErr2($"v", $"code", cents).as("e"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).isDefined)
    assert(got(2L).isEmpty, "unmatched code must be null")
    assert(got(3L).isEmpty, "null code must be null")
    assert(got(4L).isEmpty, "unmatched code must be null before any component check")
    val ref = df.select($"id", literalErr2($"v", $"code").as("e"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got === ref)
  }

  test("dims mismatch fails loudly") {
    val df = Seq((1L, Seq(1.0, 2.0), 1L)).toDF("id", "v", "code")
    val e = intercept[Exception] {
      df.select(CentroidErr2($"v", $"code", cents)).collect()
    }
    assert(e.getMessage.contains("dims mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dims mismatch")))
  }

  test("non-double arrays are rejected at analysis time") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f), 1L)).toDF("id", "v", "code")
    val e = intercept[Exception] {
      df.select(CentroidErr2($"v", $"code", cents)).collect()
    }
    assert(e.getMessage.contains("array<double>") ||
      e.getMessage.contains("CentroidErr2 requires"),
      s"unexpected: ${e.getMessage.take(200)}")
  }
}
