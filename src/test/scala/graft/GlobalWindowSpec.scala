package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for unpartitioned windows: `Window.orderBy(...)` with no
  * `partitionBy` makes Spark move every row into ONE partition (the
  * WindowExec "No Partition Defined" warning). That is fine over a frame
  * whose size is bounded by construction and fatal over corpus rows, so
  * every such spelling in main code must be listed below with the bound
  * it relies on. An unbounded running aggregate or rank belongs in
  * `Scale.scan` / `Scale.globalRank` instead.
  */
class GlobalWindowSpec extends AnyFunSuite {

  /** (file name, the spelling with whitespace collapsed, the bound). */
  private val allowed = Seq(
    ("AnalyticsQueries.scala",
      """val w = Window.orderBy(col("rem").desc, col("lang"), col("source"))""",
      "q193 largest-remainder rank over the lang × source strata table"),
    ("AnalyticsQueries.scala",
      """val w = Window.orderBy("decile")""",
      "q187 cumulative vocabulary over the 10-row decile grid"),
    ("AuditQueries.scala",
      """row_number().over(org.apache.spark.sql.expressions.Window .orderBy(col("ra_micro").desc, col("u"), col("v"))))""",
      "q229 ranks the 20 rows left by the preceding orderBy+limit(20)"),
    ("AuditQueries.scala",
      """org.apache.spark.sql.expressions.Window .orderBy(col("a").desc, col("p"))))""",
      "q233 ranks the 15 rows left by the preceding orderBy+limit(15)"),
    ("AuditQueries.scala",
      """val wDesc = Window.orderBy(col("t").desc)""",
      "q235 survival sums over distinct whole-hour durations, ≤ the event span in hours"),
    ("AuditQueries.scala",
      """val wAsc = Window.orderBy(col("t"))""",
      "q235 survival sums over distinct whole-hour durations, ≤ the event span in hours"),
    ("PipelineQueries.scala",
      """Window.orderBy(col("score").desc, col("doc_id"))))""",
      "q129 ranks bm25's top k = 50 rows"),
    ("PipelineQueries.scala",
      """Window.orderBy(col("n_chars").desc, col("doc_id"))))""",
      "q129 ranks the 50 rows left by the preceding orderBy+limit(50)"),
    ("PipelineQueries.scala",
      """row_number().over(Window.orderBy(col("wilson_lb_q").desc,""",
      "q203 ranks the per-source aggregate: one row per source"),
    ("RelationalQueries.scala",
      """val w = Window.orderBy("o_totalprice", "o_orderkey")""",
      "q67 SQL-surface demo over the orders of customers 1–29 (o_custkey < 30)"),
    ("Scale.scala",
      """val w = Window.orderBy("cap", "source")""",
      "waterFill runs over S source rows"),
    ("Scale.scala",
      """row_number().over(Window.orderBy("cap", "source")).as("i"),""",
      "waterFill runs over S source rows"),
    ("Eval.scala",
      """val w = Window.orderBy("bin")""",
      "liftTable's cumulative sums over ≤ bins rows")
  )

  // also across a line break: `Window\n  .orderBy(`
  private val unpartitioned = raw"Window\s*\.\s*orderBy".r

  test("every unpartitioned Window.orderBy in main code is listed with its bound") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"main sources not found at ${root.toAbsolutePath}")
    val files = java.nio.file.Files.walk(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    // (file name, collapsed spelling, file:line) of each site: the lines
    // from the one naming `Window` to the one holding `orderBy`
    val sites = files.toSeq.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val lines = text.split("\n", -1)
      unpartitioned.findAllMatchIn(text).flatMap { m =>
        val first = text.take(m.start).count(_ == '\n')
        val last = text.take(m.end).count(_ == '\n')
        val t = lines(first).trim
        if (t.startsWith("//") || t.startsWith("*")) None
        else Some((f.getFileName.toString,
          lines.slice(first, last + 1).map(_.trim).mkString(" "),
          s"$f:${first + 1}"))
      }
    }
    val listed = allowed.map(a => (a._1, a._2)).toSet
    val unlisted = sites.filterNot(s => listed((s._1, s._2)))
    assert(unlisted.isEmpty,
      "unpartitioned window over an unstated bound; use Scale.scan, or " +
        "list the spelling with its bound in GlobalWindowSpec:\n" +
        unlisted.map(s => s"${s._3}: ${s._2}").mkString("\n"))
    val stale = allowed.filterNot(a => sites.exists(s => s._1 == a._1 && s._2 == a._2))
    assert(stale.isEmpty,
      s"listed spellings no longer in main code:\n${stale.mkString("\n")}")
  }
}
