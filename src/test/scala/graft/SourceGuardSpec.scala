package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the program sources: every main and the CLI run the one
  * engine `GraftSession.local` builds, no literal path points into
  * the checkout the engine was built from (production or spec code),
  * and every top-level `src/main` definition, and every public member
  * of a reached one, is reached from a root — code only its own spec
  * runs is deleted or moved to the tests.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(String, String)] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the project root (cwd ${root.getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  private lazy val sources = scalaFiles("src/main/scala")

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
      (name, text) <- sources ++ scalaFiles("src/test/scala")
      line <- text.linesIterator
      if line.contains(checkout + "/") || intoBuild.findFirstIn(line).isDefined
    } yield name -> line.trim
    // Bench's two detail files resolve under the working directory too
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the spark.graft.* conf keys in src/main are exactly the known seven") {
    // a new knob is a change to this list, never an unnoticed literal
    val keys = sources.flatMap { case (_, text) =>
      """"spark\.graft\.(\w+)""".r.findAllMatchIn(text).map(_.group(1))
    }.distinct.sorted
    assert(keys === Seq("artifactDir", "artifactScope", "capturePlans", "checkpointDir",
      "probeBroadcastLimit", "saturationMaxDroppedFrac", "tombstoneBroadcastLimit"))
  }

  // ---------------------------------------------------------------
  // Reachability from the roots
  // ---------------------------------------------------------------

  /** `s` with line and (nested) block comments blanked — string
    * literals kept, newlines kept. Scaladoc names modules it does not
    * call, so a scan over raw text counts them as reached.
    */
  private def stripComments(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.startsWith("\"\"\"", i)) {
        val e = s.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) s.length else e + 3
        while (j < s.length && s(j) == '"') j += 1
        out ++= s.substring(i, j); i = j
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < s.length && s(j) != '"' && s(j) != '\n')
          j += (if (s(j) == '\\') 2 else 1)
        j = math.min(j + 1, s.length)
        out ++= s.substring(i, j); i = j
      } else if (s(i) == '\'' && i + 2 < s.length &&
          (s(i + 2) == '\'' || (s(i + 1) == '\\' && i + 3 < s.length && s(i + 3) == '\''))) {
        val j = s.indexOf('\'', if (s(i + 1) == '\\') i + 3 else i + 2) + 1
        out ++= s.substring(i, j); i = j
      } else if (s.startsWith("//", i)) {
        val e = s.indexOf('\n', i)
        i = if (e < 0) s.length else e
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < s.length && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out ++= "\n" * s.substring(i, j).count(_ == '\n'); i = j
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private val topLevel =
    """(?m)^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|implicit)\s+)*(?:case\s+)?(object|class|trait)\s+(\w+)""".r
  private val ident = """[A-Za-z_]\w*""".r

  /** A top-level definition: its kind, name, comment-stripped text
    * (to the next top-level definition) and its whole file (imports).
    */
  private case class TopDef(kind: String, name: String, text: String, fileText: String)

  private lazy val units: Seq[TopDef] = sources.flatMap { case (file, raw) =>
    val text = stripComments(raw)
    val ms = topLevel.findAllMatchIn(text).toSeq
    ms.indices.map { k =>
      val end = if (k + 1 < ms.size) ms(k + 1).start else text.length
      TopDef(ms(k).group(1), ms(k).group(2), text.substring(ms(k).start, end), text)
    }
  }

  private lazy val names: Set[String] = units.map(_.name).toSet

  /** The roots: the entry registry (`SparkEntry`, `Bench`), the
    * session extensions, every object with a `main`, and every
    * top-level name perfbench's harness calls.
    */
  private lazy val perfbench: String =
    scalaFiles("perfbench/src").map(f => stripComments(f._2)).mkString("\n")

  private lazy val roots: Set[String] = {
    Set("SparkEntry", "Bench", "GraftExtensions", "Csv2ParquetCli") ++
      units.filter(u => """\bdef main\s*\(""".r.findFirstIn(u.text).isDefined).map(_.name) ++
      ident.findAllIn(perfbench).filter(names).toSet
  }

  /** Top-level names reached transitively from the roots: a
    * definition reaches every top-level name its text mentions.
    */
  private lazy val reached: Set[String] = {
    val byName = units.groupBy(_.name)
    var seen = roots
    var frontier = roots.toSeq
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(byName.getOrElse(_, Nil))
        .flatMap(u => ident.findAllIn(u.text)).filter(names).filterNot(seen).distinct
      seen ++= next
      frontier = next
    }
    seen
  }

  /** Unreached code that stays, each with its reason: `Object.def`
    * entries name a member no root reaches (references from other
    * entries' bodies do not count). The guard fails when an entry no
    * longer exists or has become reached, so the list cannot rot.
    */
  private val allowList: Map[String, String] = {
    val probe = "spec probe of a reached object's private state"
    val ivf = "IVF ingest-lifecycle policy hook over the lifecycle perfbench drives"
    val hier = "two-level IVF lifecycle, the twin of the IncrementalIvf lifecycle perfbench drives"
    val family = "persisting ingest lifecycle (PostingIndex.admit/retract), the twin of the IncrementalPassages one perfbench drives"
    Map(
      "Artifacts.gc" -> "the artifact store's only reclamation path (stale stamps, race losers, orphans); run between pipeline runs, not inside an entry",
      "CentroidArtifact.learnCount" -> probe,
      "CentroidArtifact.pqLearnCount" -> probe,
      "CentroidArtifact.hierLearnCount" -> probe,
      "TokenizerArtifact.learnCount" -> probe,
      "Checkpoints.capturedPlans" -> probe,
      "Checkpoints.clearCapturedPlans" -> probe,
      "PostingIndex.fixtureKeys" -> probe,
      "IncrementalIvf.needsRelearn" -> ivf,
      "IncrementalIvf.relearnIfDrifted" -> ivf,
      "IncrementalIvf.compactIfDue" -> ivf,
      "IncrementalHierIvf.appendBatch" -> hier,
      "IncrementalHierIvf.servedCells" -> hier,
      "IncrementalHierIvf.driftCensus" -> hier,
      "IncrementalHierIvf.needsRelearn" -> hier,
      "IncrementalHierIvf.relearnIfDrifted" -> hier,
      "IncrementalHierIvf.compactIfDue" -> hier,
      "IncrementalTrigram.admitBatch" -> family,
      "IncrementalTrigram.retractBatch" -> family,
      "IncrementalExactSubstr.admitBatch" -> family,
      "IncrementalExactSubstr.retractBatch" -> family,
      "IncrementalMedia.admitBatch" -> family,
      "IncrementalMedia.retractBatch" -> family,
      "IncrementalMedia.crossingBuckets" -> "admit decision surface of IncrementalMedia.admitBatch",
      "IncrementalMedia.probeBatch" -> "serving probe of the media lifecycle (IncrementalMedia.admitBatch)")
  }

  private val memberDef =
    """(?m)^  ((?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|override|implicit|lazy)\s+)*)(?:def|val)\s+(\w+)\b""".r

  /** A `def`/`val` member of a top-level unit: name, modifiers, body. */
  private case class Member(name: String, mods: String, body: String) {
    def public: Boolean = """\b(private|protected|override)\b""".r.findFirstIn(mods).isEmpty
  }

  /** Each `def`/`val` member of `u` (two-space indent) with its body. */
  private def members(u: TopDef): Seq[Member] = {
    val ms = memberDef.findAllMatchIn(u.text).toSeq
    ms.map { m =>
      val from = u.text.indexOf('\n', m.end) + 1
      val end = """(?m)^(?:  [^\s}]|\S)""".r.findFirstMatchIn(u.text.substring(from))
        .map(from + _.start).getOrElse(u.text.length)
      Member(m.group(2), m.group(1), u.text.substring(m.start, end))
    }
  }

  test("every top-level src/main definition is reached from a root or allow-listed") {
    val unreached = units.filterNot(u => reached(u.name) || allowList.contains(u.name))
      .map(u => s"${u.kind} ${u.name}")
    assert(unreached.isEmpty,
      s"top-level definitions no root reaches (delete them with their spec, " +
        s"move them to src/test, or allow-list them with a reason):\n" +
        unreached.mkString("\n"))
  }

  test("every allow-list entry exists and is still unreached") {
    val (memberEntries, topEntries) = allowList.keys.toSeq.sorted.partition(_.contains('.'))
    val bodies = (for {
      e <- memberEntries
      Array(o, d) = e.split('.')
      u <- units if u.name == o
      m <- members(u) if m.name == d
    } yield e -> m.body).groupMap(_._1)(_._2)
    // reached text, minus the allow-listed members' own bodies
    val live = units.filter(u => reached(u.name))
      .map(u => u -> bodies.values.flatten.foldLeft(u.text)(_.replace(_, "")))
    def used(o: String, d: String): Boolean = {
      val qualified = ("""\b""" + o + """\s*\.\s*""" + d + """\b""").r
      val bare = ("""\b""" + d + """\b""").r
      val imported = ("""\b""" + o + """\s*\.\s*(_|\{[^}]*\b""" + d + """\b)""").r
      live.exists { case (u, t) =>
        qualified.findFirstIn(t).isDefined ||
          ((u.name == o || imported.findFirstIn(u.fileText).isDefined) &&
            bare.findFirstIn(t).isDefined)
      }
    }
    val problems = topEntries.collect {
      case e if !names(e) => s"$e: no such top-level definition"
      case e if reached(e) => s"$e: reached from a root, drop it from the allow-list"
    } ++ memberEntries.collect {
      case e if !bodies.contains(e) => s"$e: no such member"
      case e if used(e.split('.')(0), e.split('.')(1)) =>
        s"$e: reached from a root, drop it from the allow-list"
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("every public member of a reached src/main unit is reached or allow-listed") {
    // bare-name rule: a member is reached when its name occurs in a
    // reached unit outside its own body, or anywhere in perfbench/src
    val live = units.filter(u => reached(u.name))
    val uses = (live.map(_.text) :+ perfbench).flatMap(ident.findAllIn)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val unreached = for {
      u <- live
      m <- members(u)
      if m.public && m.name != "main" && m.name != "apply"
      if !allowList.contains(s"${u.name}.${m.name}")
      if uses.getOrElse(m.name, 0) <= ident.findAllIn(m.body).count(_ == m.name)
    } yield s"${u.name}.${m.name}"
    assert(unreached.isEmpty,
      s"public members no root reaches (delete them with their spec, " +
        s"make them private, or allow-list them with a reason):\n" +
        unreached.distinct.mkString("\n"))
  }
}
