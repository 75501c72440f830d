package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run ONE declared query N times and print per-job /
  * per-stage walls from a listener — the "which job is the wall"
  * breakdown the optimization rounds need without the UI. Never run
  * by the driver.
  *
  * Usage: runMain graft.Probe <sfDir> <name> [runs]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.forMain()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val out = new StringBuilder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = jobs.get(j.jobId)
        if (st != null) out.synchronized {
          out.append(f"    job ${j.jobId}%3d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2.take(80)}%n")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val wall = (for {a <- info.completionTime; b <- info.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        if (wall > 0.15) out.synchronized {
          out.append(f"      stage ${info.stageId}%3d ${wall}%7.3f s  tasks=${info.numTasks}%4d  ${info.name.take(70)}%n")
        }
      }
    })
    val fn = (SparkEntry.queries ++ Bench.extraQueries).getOrElse(name,
      sys.error(s"unknown query $name"))
    (1 to runs).foreach { r =>
      out.append(s"== run $r\n")
      if (r == runs)
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      out.append(f"  run $r total ${(System.nanoTime() - t0) / 1e9}%7.3f s%n")
      if (r == runs) {
        // per-rule cumulative time for the LAST (warm) run only
        val dump = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
        out.append(dump.split('\n').drop(2).take(25).mkString("\n")).append('\n')
      }
    }
    // listener events drain asynchronously — settle before printing
    Thread.sleep(1000)
    println(out.toString)
    spark.stop()
  }
}
