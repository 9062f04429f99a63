package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{GraftSession, SparkEntry}
import graft.catalog.QueryDef
import graft.mr.{MapReduce, MrApps}
import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark harness: runs one workload against the graft engine from
  * outside it, timing only actions that materialise the full result.
  *
  * Usage:
  *   Harness run <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *   Harness plans <tablesDir>
  *
  * `run` writes `<workDir>/result.json` (timings, per-execution checks, the
  * oracle SQL of every catalog query it ran, per-layer counters when
  * traced) and `<workDir>/outputs/<query>` (the first result of each
  * catalog query, for the DuckDB oracle check done by run.py).
  */
object Harness {

  /** Curation headlines timed per pass: a subset of the catalog's curation
    * chain, sized so a run fits the benchmark's time budget. The job count
    * per pass is odd in both batch workloads, so the median execution is
    * one job's, not the mean of a fast and a slow one. */
  val Curation: Seq[String] = Seq(
    "q31_minhash_neardup", "q224_survivorship", "q176_weighted_jaccard_join",
    "q291_anf_reach", "q239_charlm_perplexity")

  /** Star-schema and KV/text headlines timed per pass, before the two
    * MapReduce jobs. */
  val Relational: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q24_kv_replay", "q21_wordcount")

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3

  final case class Args(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean) {
    def tables: String = s"$input/tables"
  }

  /** One timed execution's record. */
  final case class Exec(name: String, phase: String, seconds: Double, ok: Boolean, note: String)

  final class Recorder {
    val execs = mutable.ArrayBuffer.empty[Exec]
    val firstDigest = mutable.HashMap.empty[String, String]
    def add(e: Exec): Unit = execs += e
  }

  def main(argv: Array[String]): Unit = argv.toList match {
    case "run" :: w :: in :: work :: secs :: tr :: Nil =>
      run(Args(w, in, work, secs.toDouble, tr == "1"))
    case "plans" :: tables :: Nil => Plans.check(tables)
    case _ =>
      System.err.println("usage: Harness run <workload> <inputDir> <workDir> " +
        "<seconds> <trace 0|1> | Harness plans <tablesDir>")
      sys.exit(2)
  }

  def nowNs(): Long = System.nanoTime()

  def md5(s: String): String = MessageDigest.getInstance("MD5")
    .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Order-insensitive digest of collected rows. */
  def digestRows(rows: Seq[Any]): String = md5(rows.map(_.toString).sorted.mkString("\n"))

  /** Heap in use after full GCs, once it has settled. A collection lets
    * Spark's ContextCleaner find unreachable RDDs, broadcasts and shuffles;
    * its thread frees their blocks after it next polls (every 100 ms), and
    * only a later collection reclaims them. So collect until two readings
    * 200 ms apart agree within 1 MB, at most eight times. */
  def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var prev = used()
    var cur = prev
    var i = 0
    while (i == 0 || (math.abs(prev - cur) > 1.0 && i < 8)) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      i += 1
    }
    cur
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  /** A unit of batch work: builds its result and collects every row. */
  trait Job {
    def name: String
    /** Runs the job; returns the collected rows. Tracing spans, when on,
      * split build (DataFrame construction, i.e. eager pins), plan and
      * execution. */
    def run(spark: SparkSession, tr: Tracer, exec: String): Seq[Any]
  }

  final class CatalogJob(q: QueryDef, tables: String) extends Job {
    def name: String = q.name
    def run(spark: SparkSession, tr: Tracer, exec: String): Seq[Any] = {
      val df = tr.span("operators", s"$name.build", exec)(Pins.build(spark, tr, q.fn(spark, tables)))
      tr.span("operators", s"$name.plan", exec)(df.queryExecution.executedPlan)
      val rows = tr.span("operators", s"$name.exec", exec)(df.collect())
      lastSchema(name) = df.schema
      rows.toSeq
    }
  }

  val lastSchema = mutable.HashMap.empty[String, org.apache.spark.sql.types.StructType]

  final class MrJob(val name: String, glob: String, streaming: Boolean) extends Job {
    def run(spark: SparkSession, tr: Tracer, exec: String): Seq[Any] =
      tr.span("mr", name, exec) {
        val ds =
          if (streaming) MapReduce.runStreaming(spark, glob, MrApps.indexerMap,
            (k: String, it: Iterator[String]) => MrApps.indexerReduce(k, it.toSeq))
          else MapReduce.run(spark, glob, MrApps.wcMap, MrApps.wcReduce)
        ds.collect().toSeq
      }
  }

  def jobsFor(a: Args): Seq[Job] = {
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    def cat(names: Seq[String]) = names.map(n => new CatalogJob(byName(n), a.tables))
    a.workload match {
      case "curation" => cat(Curation)
      case "relational_mr" =>
        val glob = s"${a.input}/text/text-*.txt"
        cat(Relational) ++ Seq(new MrJob("mr_wc", glob, streaming = false),
          new MrJob("mr_indexer", glob, streaming = true))
      case other => throw new IllegalArgumentException(s"not a batch workload: $other")
    }
  }

  /** Expected MR outputs from the sequential oracle. */
  def mrExpected(a: Args): Map[String, String] =
    if (a.workload != "relational_mr") Map.empty
    else {
      val files = (0 until 8).map(i => s"${a.input}/text/text-$i.txt")
        .filter(p => Files.exists(Paths.get(p)))
      Map(
        "mr_wc" -> digestRows(MapReduce.sequential(files, MrApps.wcMap, MrApps.wcReduce)),
        "mr_indexer" -> digestRows(
          MapReduce.sequential(files, MrApps.indexerMap, MrApps.indexerReduce)))
    }

  def newSession(): SparkSession = GraftSession.getOrCreate("perfbench")

  /** Runs `job`, times it, and checks its result: MR jobs against the
    * sequential oracle; catalog queries against their first result (which
    * run.py checks against DuckDB), writing that first result out. */
  def timedExec(spark: SparkSession, a: Args, job: Job, tr: Tracer, rec: Recorder,
      phase: String, exec: String, mrWant: Map[String, String]): Double = {
    val t0 = nowNs()
    val res = try Right(job.run(spark, tr, exec)) catch { case NonFatal(e) => Left(e) }
    val secs = (nowNs() - t0) / 1e9
    res match {
      case Left(e) =>
        rec.add(Exec(job.name, phase, secs, ok = false, s"error: ${e.getClass.getName}: ${e.getMessage}".take(300)))
      case Right(rows) =>
        val d = digestRows(rows)
        val ok = mrWant.get(job.name) match {
          case Some(want) => d == want
          case None =>
            rec.firstDigest.get(job.name) match {
              case Some(first) => d == first
              case None =>
                rec.firstDigest(job.name) = d
                writeOutput(spark, a, job.name, rows)
                true
            }
        }
        rec.add(Exec(job.name, phase, secs, ok, if (ok) "" else "result differs"))
    }
    secs
  }

  def writeOutput(spark: SparkSession, a: Args, name: String, rows: Seq[Any]): Unit = {
    val schema = lastSchema(name)
    val rs = rows.map(_.asInstanceOf[Row])
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
      .write.mode("overwrite").parquet(s"${a.work}/outputs/$name")
  }

  def run(a: Args): Unit = {
    Files.createDirectories(Paths.get(a.work))
    val out = new Json
    val rec = new Recorder
    var spark: SparkSession = null
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val listener = new GroupListener
    tracer.listener = listener

    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val workload: Workload =
      if (a.workload == "ingest") new IngestWorkload(a, rec)
      else new BatchWorkload(a, rec)

    // set-up rounds: a fresh session and its first use (round 0 also
    // pays the cold JVM); then one warm-up of the whole workload
    for (i <- 0 until SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = nowNs()
      spark = newSession()
      val t1 = nowNs()
      spark.sparkContext.addSparkListener(listener)
      workload.firstUse(spark, i)
      setupS += (nowNs() - t0) / 1e9
      sessionS += (t1 - t0) / 1e9
    }
    val tw = nowNs()
    workload.warmUp(spark)
    out.num("warmup_s", (nowNs() - tw) / 1e9)
    out.num("cores", GraftSession.cpus.toDouble)
    out.arr("setup_s", setupS.toSeq)
    out.arr("session_start_s", sessionS.toSeq)

    workload.measure(spark, tracer, out)

    out.raw("executions", Json.list(rec.execs.toSeq.map(e => Json.obj(
      "name" -> Json.str(e.name), "phase" -> Json.str(e.phase),
      "seconds" -> e.seconds.toString, "ok" -> e.ok.toString,
      "note" -> Json.str(e.note)))))
    out.raw("oracle_sql", Json.obj(SparkEntry.catalog
      .filter(q => rec.firstDigest.contains(q.name)).flatMap(q =>
        q.oracle.map(sql => q.name -> Json.str(sql))): _*))
    if (a.trace) out.raw("spans", Json.list(tracer.spans.toSeq.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "parent" -> s.parent.toString,
        "exec" -> Json.str(s.exec), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString)
    }))
    Files.write(Paths.get(s"${a.work}/result.json"),
      out.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A workload: first use of a fresh session (timed as set-up), an untimed
  * warm-up, and the measured phase. */
trait Workload {
  def firstUse(spark: SparkSession, round: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, tr: Tracer, out: Json): Unit
}

/** Minimal JSON writer (numbers as measured, strings escaped). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  def num(k: String, v: Double): Unit = fields += k -> Json.number(v)
  def arr(k: String, vs: Seq[Double]): Unit = fields += k -> vs.map(Json.number).mkString("[", ",", "]")
  def raw(k: String, v: String): Unit = fields += k -> v
  def render: String = Json.obj(fields.toSeq: _*)
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c    => b += c
    }
    b += '"'
    b.toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def list(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
