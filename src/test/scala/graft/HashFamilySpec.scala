package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for spellings that must exist once. Every md5-derived
  * integer goes through TextAnalysis.md5Long (Spark) or OracleSql.md5Long
  * (oracle SQL): a hand-spelled hex-prefix hash (`substring(md5(…), …)`)
  * drifts from its mirror on the other engine with no compile-time
  * signal. Likewise every DuckDB quantized mean (the oracle mirror of
  * Similarity.quantizedMeans) goes through PipelineQueries.quantizedMeanCte.
  * Each spelling is allowed only inside the body of its one def.
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
      "PipelineQueries", "quantizedMeanCte", "PipelineQueries.quantizedMeanCte"))

  private lazy val sources: Seq[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found at ${root.toAbsolutePath}")
    java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }

  private val defLine = raw"\bdef\s+(\w+)".r

  guards.foreach { g =>
    test(s"no hand-spelled ${g.what} outside ${g.obj}.${g.defName}") {
      val hits = sources.flatMap { case (f, text) =>
        val lines = text.split("\n", -1)
        // the def whose body holds line i: the nearest def at or above it
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
}
