package graft.functions

import graft.SparkSpec
import graft.operators.IvfReference
import org.apache.spark.sql.functions._

/** The codegen'd large-k argmin (r16 session 2): bit-identical to the
  * literal `nearestCid` form at any k, total-order tie semantics, and
  * loud failure on a dims mismatch (a silent partial distance would
  * assign plausible-but-wrong cells).
  */
class NearestCellSpec extends SparkSpec {
  import spark.implicits._

  private val cents: Seq[(Int, Seq[Double])] = Seq(
    1 -> Seq(1.0, 0.0, 0.0),
    2 -> Seq(0.0, 1.0, 0.0),
    3 -> Seq(0.0, 1.0, 0.0), // duplicate centroid: ties must go to cid 2
    4 -> Seq(0.0, 0.0, 1.0))

  test("argmin matches the literal form; ties break to the smaller cid") {
    val df = Seq(
      (10L, Seq(0.9, 0.1, 0.0)),
      (11L, Seq(0.0, 5.0, 0.0)), // equidistant to cids 2 and 3
      (12L, Seq(0.1, 0.1, 0.8))).toDF("id", "v")
    val got = df.select($"id", NearestCell($"v", cents).as("cid"))
      .as[(Long, Int)].collect().toMap
    assert(got === Map(10L -> 1, 11L -> 2, 12L -> 4))
    // nearestCid IS NearestCell since r20 — the parity reference is
    // the kept literal tree form
    val lit = df.select($"id", IvfReference.nearestCidLiteral($"v", cents).as("cid"))
      .as[(Long, Int)].collect().toMap
    assert(got === lit, "codegen'd argmin must equal the literal expression")
  }

  test("interpreted eval equals codegen over a pseudo-random sweep") {
    // a wide frame exercises whole-stage codegen; collecting via a
    // filter that disables codegen exercises the interpreted path
    val df = spark.range(500).select($"id",
      expr("transform(sequence(0, 2), " +
        "j -> CAST(pmod(xxhash64(id, j), 97) AS DOUBLE) / 97.0D)").as("v"))
    val viaCodegen = df.select($"id", NearestCell($"v", cents).as("cid"))
      .as[(Long, Int)].collect().toMap
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val interp = df.select($"id", NearestCell($"v", cents).as("cid"))
        .as[(Long, Int)].collect().toMap
      assert(interp === viaCodegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("non-double arrays are rejected at analysis time") {
    // a raw float embedding read through getDouble would return
    // garbage distances silently — the type check makes it loud
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val e = intercept[Exception] {
      df.select(NearestCell($"v", cents)).collect()
    }
    assert(e.getMessage.contains("array<double>") ||
      e.getMessage.contains("NearestCell requires"),
      s"unexpected: ${e.getMessage.take(200)}")
  }

  test("dims mismatch fails loudly") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val e = intercept[Exception] {
      df.select(NearestCell($"v", cents)).collect()
    }
    assert(e.getMessage.contains("dims mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dims mismatch")))
  }
}
