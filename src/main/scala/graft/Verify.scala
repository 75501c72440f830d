package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex of query names (dev-loop subset runs)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, ".*")
      case Array(s, o, f) => (s, o, f)
    }
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.matches(nameFilter)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(_._1.matches(nameFilter))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // iterative oracle plans (sf1+ sweeps; the driver's gate ignores
    // this file and keeps running the plain oracle_sql.json)
    val iterJson = operators.LlmQueries.oracleIter
      .filter(_._1.matches(nameFilter))
      .map { case (k, (setup, cc, fin)) =>
        s"${q(k)}: {\"setup\": [${setup.map(q).mkString(",")}], " +
          s"\"cc\": [${cc.map { case (e, l) => s"[${q(e)}, ${q(l)}]" }
            .mkString(",")}], " +
          s"\"final\": ${q(fin)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_iter.json"), iterJson)
    spark.stop()
  }
}
