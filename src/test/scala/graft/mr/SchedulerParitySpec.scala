package graft.mr

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.scalatest.Retries
import org.scalatest.tagobjects.Retryable

/** The reference's scheduler-semantics probes (jobcount / mtiming /
  * rtiming / early_exit — SURVEY.md §2.2) reinterpreted as assertions on
  * Spark's own task machinery via SparkListener, per FIXTURES.md §4:
  *  - no-failure runs execute each map task exactly once (jobcount:
  *    test-mr.sh:205-213 expects exactly 8 for 8 inputs),
  *  - tasks run with real parallelism (mtiming/rtiming expect ≥2
  *    concurrent workers),
  *  - output is atomically committed — no partial files, _SUCCESS marker
  *    (early_exit contract).
  *
  * Every probe runs on each available corpus (the seeded stand-in of
  * [[TextCorpus]], and the reference's texts wherever they exist), and
  * "golden output" is that corpus's word-count lines: the sequential
  * oracle's for the stand-in, the committed `mymrout` for the reference.
  *
  * The probes assert on real scheduler timing (concurrency peaks,
  * speculative launches against live subprocess workers), which a loaded
  * host can perturb — those tests are tagged Retryable and re-run once
  * before failing the suite, the same allowance the reference harness
  * gives its timing tests via test-mr-many.sh trials.
  */
class SchedulerParitySpec extends SparkSpec with Retries {

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    if (isRetryable(test)) withRetry { super.withFixture(test) }
    else super.withFixture(test)

  /** `c`'s eight texts as (path, contents) rows in 8 partitions. */
  private def pgTexts(c: MrCorpus) = spark.sparkContext
    .wholeTextFiles(c.glob, minPartitions = 8)

  /** Poll until the listener bus has delivered what we expect (bounded). */
  private def awaitListener(done: => Boolean, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Counts only tasks of stages belonging to `group`'s jobs: suites run
    * in parallel on ONE shared SparkContext, so an unscoped listener
    * would also count a concurrently running suite's tasks and flake the
    * exact-count assertion. */
  private class TaskProbe(group: String) extends SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger
    private val running = new java.util.concurrent.atomic.AtomicInteger
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger
    private val runningByStage =
      new java.util.concurrent.ConcurrentHashMap[Integer, java.util.concurrent.atomic.AtomicInteger]()
    /** Per-stage peak concurrency — the rtiming probe reads the LAST
      * (post-shuffle/reduce) stage's entry. */
    val maxByStage = new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    def lastStageMax: Int = {
      val keys = maxByStage.keySet()
      if (keys.isEmpty) 0
      else maxByStage.get(java.util.Collections.max(keys)).intValue()
    }
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        j.stageIds.foreach(s => stages.add(s))
    override def onTaskStart(t: SparkListenerTaskStart): Unit =
      if (stages.contains(t.stageId)) {
        val r = running.incrementAndGet()
        maxConcurrent.updateAndGet(m => math.max(m, r))
        val rs = runningByStage
          .computeIfAbsent(t.stageId, _ => new java.util.concurrent.atomic.AtomicInteger)
          .incrementAndGet()
        maxByStage.merge(t.stageId, Int.box(rs),
          (a, b) => Int.box(math.max(a.intValue(), b.intValue())))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stages.contains(t.stageId)) {
        running.decrementAndGet()
        runningByStage.get(t.stageId: Integer).decrementAndGet()
        ended.incrementAndGet()
      }
  }

  test("jobcount parity: 8 input files -> exactly 8 map tasks, no re-execution", Retryable) {
    TextCorpus.each { c =>
      val probe = new TaskProbe("graft-jobcount")
      spark.sparkContext.addSparkListener(probe)
      spark.sparkContext.setJobGroup("graft-jobcount", "scheduler parity probe")
      try {
        val rdd = pgTexts(c)
          .flatMap { case (f, text) => MrApps.wcMap(f, text) }
        val mapTasks = rdd.getNumPartitions
        val rddShufflePartitions = 5
        rdd.map(kv => (kv.key, 1)).reduceByKey(_ + _, rddShufflePartitions).count()
        // jobcount contract: every planned task executes EXACTLY once (no
        // spurious re-execution). wholeTextFiles packs small files, so the
        // planned map-task count may be < nFiles; exactness is the point.
        val expected = mapTasks + rddShufflePartitions
        awaitListener(probe.ended.get() >= expected)
        assert(mapTasks >= 2, s"want real parallelism, got $mapTasks partitions")
        assert(probe.ended.get() == expected,
          s"expected $expected task executions (no retry/speculation), got ${probe.ended.get()}")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(probe)
      }
    }
  }

  test("mtiming parity: map tasks run with >=2-way concurrency", Retryable) {
    TextCorpus.each { c =>
      val probe = new TaskProbe("graft-mtiming")
      spark.sparkContext.addSparkListener(probe)
      spark.sparkContext.setJobGroup("graft-mtiming", "scheduler parity probe")
      try {
        pgTexts(c)
          .map { case (f, text) => (f, GoText.letterWords(text).length) }
          .collect()
        awaitListener(probe.maxConcurrent.get() >= 2)
        assert(probe.maxConcurrent.get() >= 2,
          s"max concurrency ${probe.maxConcurrent.get()}")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(probe)
      }
    }
  }

  test("rtiming parity: reduce-stage tasks run with >=2-way concurrency", Retryable) {
    // reference src/mrapps/rtiming.go:62-84 holds reduce workers open and
    // asserts they overlap; here the post-shuffle stage sleeps per task
    // and the probe reads that stage's peak concurrency.
    TextCorpus.each { c =>
      val probe = new TaskProbe("graft-rtiming")
      spark.sparkContext.addSparkListener(probe)
      spark.sparkContext.setJobGroup("graft-rtiming", "scheduler parity probe")
      try {
        pgTexts(c)
          .flatMap { case (f, text) => MrApps.wcMap(f, text) }
          .map(kv => (kv.key, 1))
          .reduceByKey(_ + _, 8)
          .mapPartitions { it => Thread.sleep(250); it }
          .count()
        awaitListener(probe.lastStageMax >= 2)
        assert(probe.lastStageMax >= 2,
          s"reduce-stage max concurrency ${probe.lastStageMax}")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(probe)
      }
    }
  }

  test("crash parity: induced attempt-0 task failures still yield golden output") {
    // reference test-mr.sh:276-322 + src/mrapps/crash.go:20-55: workers
    // crash at random and the retried run must still match the golden
    // output exactly. Spark analog: every even map partition throws on
    // its first attempt (maxFailures=2 via local[8, 2] in SparkSpec), the
    // retry succeeds, and the committed output is byte-equal to the
    // corpus's golden lines — exactly-once despite failures.
    val crashingMap: MapReduce.MapF = { (f, c) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 2 == 0)
        throw new RuntimeException("induced worker crash (crash parity)")
      MrApps.wcMap(f, c)
    }
    TextCorpus.each { c =>
      val out = tempDir("graft-crash") + "/wc-out"
      val result = MapReduce.run(spark, c.glob, crashingMap, MrApps.wcReduce)
      MapReduce.writeText(result, out, nReduce = 10)
      val files = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
      assert(files.contains("_SUCCESS"))
      assert(!files.exists(_.contains("_temporary")), s"uncommitted output: $files")
      val lines = files.filter(_.startsWith("part-"))
        .flatMap(f => Files.readAllLines(Paths.get(out, f)).asScala)
      val golden = c.goldenLines
      assert(lines.sorted == golden.sorted,
        "retried run diverged from golden output")
    }
  }

  test("speculation parity: a straggler's backup attempt yields golden output, no duplicates", Retryable) {
    // reference src/mr/coordinator.go:158-186: any task in flight > 10 s
    // is re-issued to another worker; whichever attempt finishes first
    // wins and the output must be unchanged. Spark's analog is
    // speculative execution — but a speculative copy only ever schedules
    // on a DIFFERENT host than the running attempt, so this test stands
    // up a real standalone mini-cluster with two workers bound to
    // distinct loopback addresses (127.0.0.1 / 127.0.0.2) and drives a
    // separate-JVM driver (SpeculationDriver) against it with one 15 s
    // straggler attempt. Asserts: >=1 speculative attempt actually
    // launched, and the committed output is byte-equal to the corpus's
    // golden lines — exactly-once despite the duplicate in-flight attempt.
    // One driver runs per corpus against the same mini-cluster.
    def freePort(): Int = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val port = freePort()
    val masterUrl = s"spark://127.0.0.1:$port"
    val cp = System.getProperty("java.class.path")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val scratch = tempDir("graft-speculation")
    def spawn(main: String, heap: String, args: Seq[String]): Process = {
      val log = new java.io.File(s"$scratch/${main.split('.').last}-${args.hashCode.abs}.log")
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx$heap", "-cp", cp, main) ++ args): _*)
      // the worker's executor launcher resolves its classpath through
      // SPARK_HOME/jars and needs the scala version pinned to skip the
      // dev-build directory probe
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      pb.start()
    }
    val master = spawn("org.apache.spark.deploy.master.Master", "768m",
      Seq("--host", "127.0.0.1", "--port", port.toString, "--webui-port", "0"))
    val workers = Seq("127.0.0.1", "127.0.0.2").map { h =>
      spawn("org.apache.spark.deploy.worker.Worker", "768m",
        Seq("--host", h, "--port", "0", "--webui-port", "0",
          "--cores", "4", "--memory", "2g",
          "--work-dir", s"$scratch/work-$h", masterUrl))
    }
    try TextCorpus.each { c =>
      val out = s"$scratch/wc-out-${c.label}"
      val driverLog = new java.io.File(s"$scratch/driver-${c.label}.log")
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
          "graft.mr.SpeculationDriver", masterUrl, out, c.glob)): _*)
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.environment().put("SPARK_SCALA_VERSION", "2.13")
      pb.redirectErrorStream(true)
      pb.redirectOutput(driverLog)
      val driver = pb.start()
      try {
        assert(driver.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
          s"speculation driver timed out; log tail:\n${tail(driverLog)}")
        assert(driver.exitValue() == 0,
          s"speculation driver failed; log tail:\n${tail(driverLog)}")
      } finally driver.destroyForcibly()
      val spec = Files.readAllLines(driverLog.toPath).asScala
        .collectFirst { case l if l.startsWith("SPECRESULT speculative=") =>
          l.stripPrefix("SPECRESULT speculative=").trim.toInt }
      assert(spec.exists(_ >= 1),
        s"no speculative attempt launched (got $spec); log tail:\n${tail(driverLog)}")
      val files = Files.list(Paths.get(out)).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(files.contains("_SUCCESS"))
      assert(!files.exists(_.contains("_temporary")), s"uncommitted output: $files")
      val lines = files.filter(_.startsWith("part-"))
        .flatMap(f => Files.readAllLines(Paths.get(out, f)).asScala)
      val golden = c.goldenLines
      assert(lines.sorted == golden.sorted,
        "speculated run diverged from golden output (duplicate or lost rows)")
    } finally (workers :+ master).foreach(_.destroyForcibly())
  }

  private def tail(f: java.io.File, n: Int = 30): String =
    if (!f.exists()) "(no log)"
    else Files.readAllLines(f.toPath).asScala.takeRight(n).mkString("\n")

  test("early-exit parity: committed output is complete and atomic") {
    TextCorpus.each { c =>
      val out = tempDir("graft-golden") + "/wc-out"
      val result = MapReduce.run(spark, c.glob, MrApps.wcMap, MrApps.wcReduce)
      MapReduce.writeText(result, out, nReduce = 10)
      val files = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
      // committer contract: _SUCCESS marker, no in-progress _temporary dir
      // (.crc files are Hadoop checksum artifacts, expected)
      assert(files.contains("_SUCCESS"))
      assert(!files.exists(_.contains("_temporary")), s"uncommitted output: $files")
      assert(files.count(_.startsWith("part-")) == 10, s"expected 10 reduce outputs: $files")
      // all lines present exactly once (idempotent commit)
      val lines = files.filter(_.startsWith("part-"))
        .flatMap(f => Files.readAllLines(Paths.get(out, f)).asScala)
      val golden = c.goldenLines
      assert(lines.sorted == golden.sorted)
    }
  }
}
