package graft

import org.scalatest.funsuite.AnyFunSuite

/** Where `Bench.main` writes its per-entry detail. */
class BenchDetailPathsSpec extends AnyFunSuite {

  test("only a full run writes the per-core-count detail copy") {
    assert(Bench.detailPaths(subset = false, cpus = 4) ===
      Seq("target/bench_detail.json", "target/bench_detail_c4.json"))
    // a name-filtered dev-loop run must not replace a full run's copy
    assert(Bench.detailPaths(subset = true, cpus = 4) === Seq("target/bench_detail.json"))
  }
}
