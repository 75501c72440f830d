package graft.functions

import graft.SparkSpec
import graft.operators.IvfReference
import org.apache.spark.sql.functions._

/** The codegen'd top-nprobe centroid probe (r20): bit-identical to the
  * literal sort-and-slice form it replaced (nearest first, ties to the
  * smaller cid, fewer-than-nprobe centroids return all of them).
  */
class ProbeCellsSpec extends SparkSpec {
  import spark.implicits._

  private val cents: Seq[(Int, Seq[Double])] = Seq(
    1 -> Seq(1.0, 0.0, 0.0),
    2 -> Seq(0.0, 1.0, 0.0),
    3 -> Seq(0.0, 1.0, 0.0), // duplicate centroid: tie must order 2 before 3
    4 -> Seq(0.0, 0.0, 1.0))

  test("matches the literal sort-and-slice form over a sweep") {
    val df = spark.range(300).select($"id",
      expr("transform(sequence(0, 2), " +
        "j -> (CAST(pmod(xxhash64(id, j), 1001) AS DOUBLE) - 500.0D) / 250.0D)").as("v"))
    for (nprobe <- Seq(1, 2, 3)) {
      val got = df.select($"id", ProbeCells($"v", cents, nprobe).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      val ref = df.select($"id",
          IvfReference.probeCidsLiteral($"v", cents, nprobe).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(got === ref, s"nprobe=$nprobe must match the literal form")
      assert(got.values.forall(_.size == nprobe))
    }
  }

  test("ties order by cid; nprobe past k returns all cells") {
    val df = Seq((1L, Seq(0.0, 5.0, 0.0))).toDF("id", "v") // equidistant to 2 and 3
    val got = df.select(ProbeCells($"v", cents, 6)).as[Seq[Int]].head()
    assert(got.take(2) === Seq(2, 3), "tie must break to the smaller cid")
    assert(got.size === 4, "nprobe past k returns every cell")
    val ref = df.select(IvfReference.probeCidsLiteral($"v", cents, 6)).as[Seq[Int]].head()
    assert(got === ref)
  }

  test("interpreted eval equals codegen") {
    val df = spark.range(200).select($"id",
      expr("transform(sequence(0, 2), " +
        "j -> CAST(pmod(xxhash64(id, j), 97) AS DOUBLE) / 97.0D)").as("v"))
    val viaCodegen = df.select($"id", ProbeCells($"v", cents, 2).as("p"))
      .as[(Long, Seq[Int])].collect().toMap
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val interp = df.select($"id", ProbeCells($"v", cents, 2).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      assert(interp === viaCodegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dims mismatch fails loudly") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val e = intercept[Exception] {
      df.select(ProbeCells($"v", cents, 2)).collect()
    }
    assert(e.getMessage.contains("dims mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dims mismatch")))
  }

  test("non-double arrays are rejected at analysis time") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val e = intercept[Exception] {
      df.select(ProbeCells($"v", cents, 2)).collect()
    }
    assert(e.getMessage.contains("array<double>") ||
      e.getMessage.contains("ProbeCells requires"),
      s"unexpected: ${e.getMessage.take(200)}")
  }
}
