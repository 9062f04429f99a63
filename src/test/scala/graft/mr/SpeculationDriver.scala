package graft.mr

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Subprocess driver for the speculation parity test
  * (SchedulerParitySpec): connects to a two-host standalone
  * mini-cluster, runs the wc pipeline with one deliberately slow map
  * attempt, and reports how many SPECULATIVE task attempts launched.
  * Arguments: master URL, output directory, and the input glob (eight
  * `pg-*.txt` texts, one of them `pg-grimm.txt`).
  *
  * This runs in its own JVM because the shared test session is
  * local-mode, and Spark only ever schedules a speculative copy on a
  * DIFFERENT host than the original attempt
  * (TaskSetManager.hasAttemptOnHost guards the speculative dequeue) —
  * a single-host master, local[] included, can never offer one. The
  * spec provides the second "host" as a worker bound to 127.0.0.2.
  */
object SpeculationDriver {
  def main(args: Array[String]): Unit = {
    val (masterUrl, outDir, glob) = (args(0), args(1), args(2))
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
      .mkString(" ")
    val spark = SparkSession.builder()
      .master(masterUrl)
      .appName("graft-speculation-parity")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "20ms")
      .config("spark.speculation.multiplier", "1.05")
      .config("spark.speculation.quantile", "0.5")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val speculative = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) speculative.incrementAndGet()
    })
    // straggler: the task holding pg-grimm.txt stalls 15 s on its FIRST
    // attempt only — the reference's scenario (a slow worker holds a
    // task; the coordinator re-issues it after 10 s and the copy
    // finishes first, /root/reference/src/mr/coordinator.go:158-186).
    // The backup attempt (attemptNumber > 0) computes immediately, and
    // both attempts produce identical rows, so whichever wins must
    // yield the corpus's golden output.
    val slowMap: MapReduce.MapF = { (name, contents) =>
      val tc = TaskContext.get()
      if (name == "pg-grimm.txt" && tc != null && tc.attemptNumber() == 0)
        Thread.sleep(15000)
      MrApps.wcMap(name, contents)
    }
    val result = MapReduce.run(spark, glob, slowMap, MrApps.wcReduce)
    MapReduce.writeText(result, outDir, nReduce = 10)
    Thread.sleep(300) // let the listener bus drain before reading the count
    println(s"SPECRESULT speculative=${speculative.get()}")
    spark.stop()
  }
}
