package graft.operators

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("ranksByDegree on an irregular planted graph matches an in-memory reference") {
    // star: 1..6 -> 0; chain 0 -> 7 -> 8; node 9 dangling (no
    // out-edges); node 1 has TWO extra edges (out-degree 3) — every
    // irregularity the general form must handle
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 0L), (0L, 7L), (7L, 8L), (1L, 2L), (1L, 3L))
    val nodes = (0L to 9L).toSeq
    // reference mirrors the operator's integer micro-unit recipe:
    // per-src contribution round(u/deg), exact integer in-sums,
    // round(base + damping * in_sum)
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val base = (1 - PageRank.Damping) * PageRank.Unit
    var u = nodes.map(_ -> PageRank.Unit).toMap
    for (_ <- 1 to PageRank.Iters) {
      val c = deg.map { case (s, d) => s -> math.round(u(s).toDouble / d) }
      u = nodes.map { n =>
        val in = edges.filter(_._2 == n).map(e => c(e._1)).sum
        n -> math.round(base + PageRank.Damping * in)
      }.toMap
    }
    val expected = u.map { case (n, v) => n -> v / PageRank.Unit.toDouble }
    val got = PageRank.ranksByDegree(nodes.toDF("node"), edges.toDF("src", "dst"))
      .as[(Long, Double)].collect().toMap
    assert(got === expected)
    // the star hub (in-degree 6) outranks the star leaves and the
    // dangling node (node 7 can outrank it: it inherits ALL of node
    // 0's mass since deg(0) = 1)
    Seq(4L, 5L, 6L, 9L).foreach(n => assert(got(0L) > got(n)))
  }
}
