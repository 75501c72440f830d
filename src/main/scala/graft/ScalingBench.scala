package graft

import java.nio.file.{Files, Paths}

/** Scale sweeps over the Bench registry: every entry whose name
  * full-matches `nameRegex`, timed with Bench's own measurement loop
  * ([[Bench.measure]]: median-of-`SPARK_GRAFT_RUNS`, -1 on a throw,
  * the >3× rerun) on MakeScale-derived copies of `srcSfDir`, in one
  * `GraftSession.forMain(cores)` session per core count — the engine
  * Bench times, at growing data and parallelism.
  *
  * Usage: runMain graft.ScalingBench <nameRegex> <srcSfDir> <outDir>
  * [factors=1,2,4,8] [cores=SPARK_GRAFT_CPUS] — factors and cores are
  * comma lists.
  *
  * Factor 1 reads `srcSfDir` itself; factor f > 1 reads
  * `<outDir>/sf_f<f>`, derived by `MakeScale.build` at the start of
  * the run. Each (factor, cores) point writes
  * `<outDir>/bench_detail_f<f>_c<cores>.json` in Bench's detail schema.
  * The sweep ends with one line per entry and core count: its medians
  * by factor and the growth per doubling of the data between
  * consecutive factors (1.00x = flat, 2.00x = linear).
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScalingBench <nameRegex> <srcSfDir> <outDir> [factors] [cores]")
    val nameFilter = args(0)
    val (src, outDir) = (args(1).stripSuffix("/"), args(2).stripSuffix("/"))
    def ints(i: Int, default: Seq[Int]): Seq[Int] =
      args.lift(i).map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(default)
    val factors = ints(3, Seq(1, 2, 4, 8)).distinct.sorted
    val coreCounts = ints(4, Seq(GraftSession.mainCores))
    require(factors.forall(_ >= 1) && coreCounts.forall(_ >= 1),
      "factors and cores must be positive")
    new java.io.File(outDir).mkdirs()

    var dirs = Seq.empty[(Int, String)]
    val sweeps = coreCounts.map { cores =>
      val spark = GraftSession.forMain(cores)
      try {
        if (dirs.isEmpty) dirs = factors.map { f =>
          val dir = if (f == 1) src else s"$outDir/sf_f$f"
          if (f > 1) MakeScale.build(spark, src, dir, f)
          f -> dir
        }
        Bench.warmSession(spark, src)
        // one untimed pass at the smallest factor, so the first timed
        // point is not charged the entries' one-time codegen and JIT
        Bench.measure(spark, dirs.head._2, nameFilter)
        cores -> dirs.map { case (f, dir) =>
          val t = Bench.measure(spark, dir, nameFilter)
          val detail = s"$outDir/bench_detail_f${f}_c$cores.json"
          Files.writeString(Paths.get(detail), t.detailJson)
          System.err.println(s"[scaling] f$f c$cores ${t.summaryLine(detail)}")
          f -> t.medians
        }
      } finally spark.stop()
    }

    def s(v: Double): String =
      if (v < 0) "err" else "%.3fs".formatLocal(java.util.Locale.ROOT, v)
    for ((cores, byFactor) <- sweeps; name <- byFactor.head._2.keys.toSeq.sorted) {
      val points = byFactor.map { case (f, m) => f -> m(name) }
      val growth = points.zip(points.tail).map { case ((fa, ta), (fb, tb)) =>
        if (ta <= 0 || tb < 0) "err"
        else "%.2fx".formatLocal(java.util.Locale.ROOT,
          math.pow(tb / ta, math.log(2) / math.log(fb.toDouble / fa)))
      }
      println(s"[scaling] $name c$cores: " +
        points.map { case (f, t) => s"f$f ${s(t)}" }.mkString(", ") +
        (if (growth.isEmpty) "" else " | growth per doubling: " + growth.mkString(", ")))
    }
  }
}
