package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for declared queries to
  * files (plans/<tag>/<name>.txt) — the optimization rounds' evidence
  * artifact. Never run by the driver; bench/verify stay the product
  * surface.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [nameRegex]
  *
  * Condensed view (joins, exchanges, pushed filters, windows,
  * generators, aggregates, sorts):
  * `grep -E 'Join|Exchange|PushedFilters|Window|Generate|HashAggregate|Sort ' <outDir>/<name>.txt`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, ".*")
      case Array(s, o, f) => (s, o, f)
    }
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    (SparkEntry.queries ++ Bench.extraQueries).filter(_._1.matches(nameFilter)).foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          System.err.println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
