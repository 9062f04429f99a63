package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for spellings that must exist once. Every md5-derived
  * integer goes through TextAnalysis.md5Long (Spark) or OracleSql.md5Long
  * (oracle SQL): a hand-spelled hex-prefix hash (`substring(md5(…), …)`)
  * drifts from its mirror on the other engine with no compile-time
  * signal. Likewise every DuckDB quantized mean (the oracle mirror of
  * Similarity.quantizedMeans) goes through PipelineQueries.quantizedMeanCte,
  * and every DuckDB part co-occurrence graph through
  * OracleSql.partPairsCtes. Each spelling is allowed only inside the body
  * of its one def or val. A ratchet bounds the oracle SQL copied between
  * literals at large.
  */
class HashFamilySpec extends AnyFunSuite {

  /** `pattern` may appear in main code only inside `def` of `obj`. */
  private case class Guard(what: String, pattern: scala.util.matching.Regex,
      obj: String, defName: String, use: String)

  private val guards = Seq(
    // also across a stripMargin line break: `substring(\n  |  md5(`
    Guard("md5 prefix hash", raw"substring\(\s*(\|\s*)?md5\(".r,
      "OracleSql", "md5Long", "TextAnalysis.md5Long / OracleSql.md5Long"),
    Guard("quantized mean", raw"/\s*1000000\s*/\s*count\(\*\)\s+AS\s+FLOAT".r,
      "PipelineQueries", "quantizedMeanCte", "PipelineQueries.quantizedMeanCte"),
    Guard("part-graph sample filter", raw"l_partkey\s*%\s*2\s*=\s*0".r,
      "OracleSql", "partPairsCtes", "OracleSql.partPairsCtes"))

  private lazy val sources: Seq[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found at ${root.toAbsolutePath}")
    java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }

  /** A member def or val of a top-level object (two-space indent). */
  private val defLine = raw"^  (?:private(?:\[\w+\])?\s+)?(?:def|val)\s+(\w+)".r

  guards.foreach { g =>
    test(s"no hand-spelled ${g.what} outside ${g.obj}.${g.defName}") {
      val hits = sources.flatMap { case (f, text) =>
        val lines = text.split("\n", -1)
        // the member whose body holds line i: the nearest one at or above it
        def enclosingDef(i: Int): Option[String] =
          (i to 0 by -1).iterator.flatMap(j => defLine.findFirstMatchIn(lines(j)))
            .map(_.group(1)).nextOption()
        val home = f.getFileName.toString == s"${g.obj}.scala"
        g.pattern.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n'))
          .filterNot { i =>
            val t = lines(i).trim
            t.startsWith("//") || t.startsWith("*") ||
              (home && enclosingDef(i).contains(g.defName))
          }
          .map(i => s"$f:${i + 1}: ${lines(i).trim}")
      }
      assert(hits.isEmpty,
        s"hand-spelled ${g.what}; use ${g.use}:\n${hits.mkString("\n")}")
    }
  }

  /** Distinct 4-line windows of oracle SQL allowed to appear in 3 or
    * more triple-quoted literals of main code. Only ever lower it. */
  private val CopiedWindowsAllowed = 0

  test("4-line SQL windows copied into 3+ literals stay within the ratchet") {
    val tripleQuoted = "(?s)\"\"\"(.*?)\"\"\"".r
    // per literal: its non-blank lines as (file:line, text without
    // indentation and `|` margin)
    val literals: Seq[Seq[(String, String)]] = sources.flatMap { case (f, text) =>
      tripleQuoted.findAllMatchIn(text).map { m =>
        val first = text.take(m.start(1)).count(_ == '\n')
        m.group(1).split("\n", -1).toSeq.zipWithIndex
          .map { case (l, i) =>
            s"$f:${first + i + 1}" -> l.dropWhile(_.isWhitespace).stripPrefix("|").trim
          }
          .filter(_._2.nonEmpty)
      }
    }
    // window -> (literal, file:line of its first line) per literal holding it
    val holders = literals.zipWithIndex.flatMap { case (lines, lit) =>
      lines.sliding(4).filter(_.size == 4)
        .map(w => w.map(_._2) -> (lit -> w.head._1)).toSeq.distinctBy(_._1)
    }.groupMap(_._1)(_._2)
    val copied = holders.filter(_._2.size >= 3).toSeq.sortBy(_._2.head._2)
    assert(copied.size <= CopiedWindowsAllowed,
      s"${copied.size} 4-line windows appear in 3+ literals (allowed " +
        s"$CopiedWindowsAllowed); fold each into one OracleSql/PipelineQueries " +
        "fragment:\n" + copied.map { case (w, hs) =>
          hs.map(_._2).mkString(" ") + "\n" + w.map("    " + _).mkString("\n")
        }.mkString("\n"))
  }
}
