package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The codegen'd pairwise squared L2 (r20): bit-identical to the
  * zip_with-diff + ArrayDotProduct form it replaced in the
  * hierarchical fine probe.
  */
class ArrayL2Dist2Spec extends SparkSpec {
  import spark.implicits._

  test("bit-identical to the zip_with + ArrayDotProduct form") {
    val df = spark.range(300).select($"id",
      expr("transform(sequence(0, 7), " +
        "j -> (CAST(pmod(xxhash64(id, j), 1001) AS DOUBLE) - 500.0D) / 250.0D)").as("a"),
      expr("transform(sequence(0, 7), " +
        "j -> (CAST(pmod(xxhash64(id, j, 7), 1001) AS DOUBLE) - 500.0D) / 250.0D)").as("b"))
    val diff = zip_with($"a", $"b", (x, y) => x - y)
    val got = df.select($"id", ArrayL2Dist2($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    val ref = df.select($"id", ArrayDotProduct(diff, diff).as("d"))
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, d) =>
      assert(java.lang.Double.doubleToRawLongBits(d) ===
        java.lang.Double.doubleToRawLongBits(ref(id)),
        s"id=$id: $d vs ${ref(id)} must be bit-identical")
    }
  }

  test("interpreted eval equals codegen; length mismatch fails loudly") {
    val df = Seq((1L, Seq(1.0, 2.0), Seq(3.0, 5.0))).toDF("id", "a", "b")
    val viaCodegen = df.select(ArrayL2Dist2($"a", $"b")).as[Double].head()
    assert(viaCodegen === 13.0)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(df.select(ArrayL2Dist2($"a", $"b")).as[Double].head() === 13.0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val bad = Seq((1L, Seq(1.0, 2.0), Seq(3.0))).toDF("id", "a", "b")
    val e = intercept[Exception] {
      bad.select(ArrayL2Dist2($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("length mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("non-double arrays are rejected at analysis time") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 5.0f))).toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(ArrayL2Dist2($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("array<double>") ||
      e.getMessage.contains("ArrayL2Dist2 requires"),
      s"unexpected: ${e.getMessage.take(200)}")
  }

  test("a null element fails loudly, never a distance") {
    val df = Seq((1L, Seq(Some(1.0), None), Seq(Some(3.0), Some(5.0))))
      .toDF("id", "a", "b")
    def run(): Unit = {
      val e = intercept[Exception] {
        df.select(ArrayL2Dist2($"a", $"b")).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("null element"))), e)
    }
    run()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try run()
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
