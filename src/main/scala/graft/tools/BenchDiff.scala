package graft.tools

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Round-over-round bench regression gate.
  *
  * Usage: BenchDiff [<old_bench.json> <new_bench.json> [adjudication.md]]
  *
  * With no args it self-discovers the two latest `BENCH_r*.json` in the
  * working directory and uses `ADJUDICATIONS.md` — the round-start
  * invocation: the driver bench postdates a round's final commit, so
  * round N's bench can only be adjudicated in round N+1, and the first
  * commit of each round is expected to run this and record verdicts.
  *
  * Parses the flat `"queries":{name:sec,…}` map out of two Bench JSON
  * files, prints every common query's delta (worst first), and exits
  * nonzero if any query regressed more than 25% (and ≥0.25 s absolute —
  * sub-second queries jitter past 25% on stage overhead alone) without
  * a matching entry in the adjudication file.
  *
  * Adjudication contract (see ADJUDICATIONS.md header): a flagged query
  * counts as adjudicated only when its EXACT name is the first-column
  * token of a markdown table row inside a section headed `## Round <N>`
  * where N is the LATEST round number present in the file. Narrative
  * mentions, watch-rows in older rounds, and name-substring collisions
  * do not count, so a future regression on a once-adjudicated query
  * trips the gate again until the new round's table names it.
  *
  * No JSON library: the bench format is a flat object of string→number,
  * greppable by construction.
  */
object BenchDiff {
  private val entryRe = """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r

  /** Default relative regression gate, plus raised per-query floors for
    * the queries whose SESSION-ORDER variance alone was measured past
    * 25% (ADJUDICATIONS.md "Order-variance study" appendix, round 8:
    * 3-order `Measure order` run; floor = measured max/min spread + ~0.15
    * margin). q201_blocklist measured 2.27× but runs 0.1–0.2 s — the
    * 0.25 s absolute floor already guards sub-second jitter. */
  private val defaultGate = 0.25
  private[tools] val perQueryGate: Map[String, Double] = Map(
    "q118_dup_spans" -> 0.50,
    "q123_cluster_reps" -> 0.45,
    "q160_incremental_quantile" -> 0.45,
    "q233_hits" -> 0.55,
    "q239_charlm_perplexity" -> 0.45)

  def parseQueries(path: String): Map[String, Double] = {
    val text = Files.readString(Path.of(path))
    // Driver bench files carry a free-text "tail" log field (which echoes
    // the bench's own stdout JSON line, including the literal
    // `"queries"`) ahead of the structured "parsed" object — anchor on
    // "parsed" when present so a log line can't hijack the scan. Raw
    // local Bench output is the bare one-line JSON with no wrapper;
    // there the first `"queries"` IS the map.
    val pStart = text.indexOf("\"parsed\"")
    val qStart = text.indexOf("\"queries\"", math.max(pStart, 0))
    require(qStart >= 0, s"$path: no \"queries\" object")
    val body = text.substring(text.indexOf('{', qStart) + 1)
    val objEnd = body.indexOf('}')
    require(objEnd >= 0, s"$path: unterminated \"queries\" object")
    val m = entryRe.findAllMatchIn(body.substring(0, objEnd))
      .map(g => g.group(1) -> g.group(2).toDouble)
      .filter(_._2 >= 0) // -1 = every run failed; not a timing
      .toMap
    require(m.nonEmpty, s"$path: empty query map — wrong anchor or malformed file")
    m
  }

  /** First-column tokens of table rows under the latest `## Round N`
    * heading(s). Multiple sections of the same (latest) round all count;
    * non-round headings (e.g. methodology appendices) never do.
    */
  def adjudicatedSet(path: String): Set[String] = {
    if (!Files.exists(Path.of(path))) return Set.empty
    val lines = Files.readAllLines(Path.of(path)).asScala.toVector
    val roundHead = """^##\s+Round\s+(\d+)\b.*""".r
    val anyHead = """^##\s+.*""".r
    val rowTok = """^\|\s*([A-Za-z0-9_]+)\s*\|.*""".r
    var current: Option[Int] = None
    val tagged = Vector.newBuilder[(Int, String)]
    lines.foreach {
      case roundHead(n) => current = Some(n.toInt)
      case anyHead()    => current = None
      case rowTok(tok)  => current.foreach(r => tagged += r -> tok)
      case _            =>
    }
    val rows = tagged.result()
    if (rows.isEmpty) Set.empty
    else {
      val latest = rows.map(_._1).max
      rows.collect { case (r, tok) if r == latest => tok }.toSet
    }
  }

  private def discoverLatestPair(): (String, String) = {
    val benchRe = """BENCH_r(\d+)\.json""".r
    val found = Files.list(Path.of(".")).iterator.asScala
      .map(_.getFileName.toString)
      .collect { case f @ benchRe(n) => (n.toInt, f) }
      .toSeq.sortBy(_._1)
    require(found.size >= 2, s"need two BENCH_r*.json in cwd, found ${found.size}")
    (found(found.size - 2)._2, found.last._2)
  }

  def main(args: Array[String]): Unit = {
    val (oldPath, newPath, adjPath) =
      if (args.isEmpty) {
        val (o, n) = discoverLatestPair()
        println(s"[benchdiff] round-start gate: $o vs $n (ADJUDICATIONS.md)")
        (o, n, Some("ADJUDICATIONS.md"))
      } else (args(0), args(1), args.lift(2))
    val adjudicated: Set[String] = adjPath.map(adjudicatedSet).getOrElse(Set.empty)
    if (adjudicated.nonEmpty)
      println(s"[benchdiff] latest-round adjudicated names: ${adjudicated.toSeq.sorted.mkString(", ")}")
    val o = parseQueries(oldPath)
    val n = parseQueries(newPath)
    val common = o.keySet & n.keySet
    val rows = common.toSeq
      .map(q => (q, o(q), n(q), (n(q) - o(q)) / math.max(o(q), 1e-9)))
      .sortBy(-_._4)
    println(f"[benchdiff] ${common.size} common queries " +
      f"(old total ${common.toSeq.map(o).sum}%.1f s → new ${common.toSeq.map(n).sum}%.1f s)")
    rows.foreach { case (q, ov, nv, d) =>
      println(f"[benchdiff] $ov%7.2f → $nv%7.2f  ${d * 100}%+6.1f%%  $q")
    }
    val regressions = rows.filter { case (q, ov, nv, d) =>
      d > perQueryGate.getOrElse(q, defaultGate) && nv - ov >= 0.25 }
    val unexplained = regressions.filterNot { case (q, _, _, _) => adjudicated(q) }
    regressions.foreach { case (q, _, _, d) =>
      val tag = if (adjudicated(q)) "adjudicated" else "UNADJUDICATED"
      println(f"[benchdiff] REGRESSION ${d * 100}%+.0f%% $q ($tag)")
    }
    (o.keySet -- n.keySet).toSeq.sorted
      .foreach(q => println(s"[benchdiff] dropped from suite: $q"))
    (n.keySet -- o.keySet).toSeq.sorted
      .foreach(q => println(s"[benchdiff] new in suite: $q"))
    if (unexplained.nonEmpty) {
      println(s"[benchdiff] FAIL: ${unexplained.size} regression(s) >25% " +
        "without an adjudication entry — run `Measure time` A/Bs and record the verdict")
      sys.exit(1)
    }
    println("[benchdiff] OK")
  }
}
