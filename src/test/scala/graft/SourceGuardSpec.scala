package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the production sources under `src/main/scala`: every main
  * and the CLI run the one engine `GraftSession.local` builds, and no
  * production default writes into the checkout the engine was built
  * from.
  */
class SourceGuardSpec extends AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("GraftSession holds the one SparkSession builder") {
    val builders = sources.flatMap { case (name, text) =>
      """SparkSession\s*\.\s*builder""".r.findAllMatchIn(text).map(_ => name)
    }
    assert(builders === Seq("GraftSession.scala"))
  }

  test("no literal path into the checkout except Bench's two detail files") {
    val checkout = new java.io.File(".").getCanonicalPath
    // an absolute path literal into a build's target/ directory, or
    // any literal naming this checkout
    val intoBuild = "\"/[^\"\\s]*/target/".r
    val hits = for {
      (name, text) <- sources
      line <- text.linesIterator
      if line.contains(checkout + "/") || intoBuild.findFirstIn(line).isDefined
    } yield name -> line.trim
    assert(hits.map(_._1) === Seq("Bench.scala", "Bench.scala"), hits.mkString("\n"))
    assert(hits.forall(_._2.contains("target/bench_detail")), hits.mkString("\n"))
  }
}
