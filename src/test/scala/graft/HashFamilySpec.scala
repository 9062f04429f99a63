package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the one hash family: every md5-derived integer goes
  * through TextAnalysis.md5Long (Spark) or OracleSql.md5Long (oracle
  * SQL). A hand-spelled hex-prefix hash (`substring(md5(…), …)`) drifts
  * from its mirror on the other engine with no compile-time signal, so
  * the only one allowed in main code is the body of OracleSql.md5Long.
  */
class HashFamilySpec extends AnyFunSuite {

  // also across a stripMargin line break: `substring(\n  |  md5(`
  private val prefixHash = raw"substring\(\s*(\|\s*)?md5\(".r

  test("no hand-spelled md5 prefix hash outside OracleSql.md5Long") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    val hits = files.toSeq.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val lines = text.split("\n", -1)
      // the one allowed spelling: the line after OracleSql's `def md5Long`
      val mirror =
        if (f.getFileName.toString != "OracleSql.scala") -1
        else lines.indexWhere(_.contains("def md5Long(e: String)")) + 1
      prefixHash.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n'))
        .filterNot { i =>
          val t = lines(i).trim
          t.startsWith("//") || t.startsWith("*") || i == mirror
        }
        .map(i => s"$f:${i + 1}: ${lines(i).trim}")
    }
    assert(hits.isEmpty,
      "hand-spelled md5 prefix hash; use TextAnalysis.md5Long / " +
        s"OracleSql.md5Long:\n${hits.mkString("\n")}")
  }
}
