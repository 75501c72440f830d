package graft.operators

import graft.SparkSpec

class IncrementalDedupSpec extends SparkSpec {

  test("planted batch: exact copies flagged exact, near copies near, fresh kept") {
    import spark.implicits._
    val out = IncrementalDedup.d10IncrementalDedup(spark, sf0)
      .as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (id, status) =>
      val srcId = id - 1000000L
      (srcId % 30) match {
        case 0L => assert(status == "exact_dup", s"doc $id (exact copy): $status")
        // a near copy may legitimately miss every LSH band (short docs
        // dilute the tail's jaccard) — but must never be flagged exact
        case 10L => assert(status != "exact_dup", s"doc $id (near copy): $status")
        case _ => assert(status == "kept", s"doc $id (fresh text): $status")
      }
    }
    // non-vacuous: all three verdicts occur, and LSH catches most near copies
    assert(out.values.toSet == Set("exact_dup", "near_dup", "kept"))
    val nearCopies = out.filter { case (id, _) => (id - 1000000L) % 30 == 10 }
    val caught = nearCopies.values.count(_ == "near_dup")
    assert(caught * 2 >= nearCopies.size,
      s"LSH caught only $caught of ${nearCopies.size} planted near copies")
  }

  test("plan: candidate generation is equi-join shaped, no cartesian") {
    val plan = IncrementalDedup.d10IncrementalDedup(spark, sf0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "batch-vs-corpus candidates must come from the band-bucket equi-join")
  }
}
