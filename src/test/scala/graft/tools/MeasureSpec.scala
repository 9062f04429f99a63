package graft.tools

import graft.{Bench, SparkSpec}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** The measurement main's shared pieces: the listener-drained shuffle
  * byte snapshot and the converged timing protocol.
  */
class MeasureSpec extends SparkSpec {

  test("scale's shuffle-byte snapshot equals a stage listener's total, with no sleep") {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val total = new AtomicLong
    val reference = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(s.stageInfo.taskMetrics)
          .foreach(m => total.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    sc.addSparkListener(reference)
    val snapshot = new ShuffleBytes(spark)
    try {
      val (rows, _, written) =
        snapshot(spark.range(0, 10000, 1, 4).groupBy(col("id") % 7).count().count())
      assert(rows == 7)
      assert(written > 0, "a groupBy must write shuffle bytes")
      assert(written == total.get, s"snapshot $written B vs listener ${total.get} B")
    } finally {
      snapshot.close()
      sc.removeSparkListener(reference)
    }
  }

  test("Bench.timeQuery returns every successful run: between 4 and 12 times") {
    val t = Bench.timeQuery(spark, (s, _) => s.range(100).toDF(), "unused")
    assert(t.runs.size >= 4 && t.runs.size <= 12, s"runs: ${t.runs}")
    assert(t.error.isEmpty)
    assert(t.best == t.runs.min)
  }

  test("Bench.timeQuery counts each run's compiles: the first run compiles, a warm rerun does not") {
    // a literal no other test uses, so this plan's generated source is new to the JVM
    val t = Bench.timeQuery(spark,
      (s, _) => s.range(1000).filter(col("id") % 104729 === 7919).toDF(), "unused")
    assert(t.compiles.size == t.runs.size, s"compiles: ${t.compiles}")
    assert(t.compiles.head.count >= 1 && t.compiles.head.secs > 0, s"first run: ${t.compiles.head}")
    assert(t.compiles(1).count == 0, s"warm rerun: ${t.compiles(1)}")
  }

  test("Bench.timeQuery: a query whose every run fails yields no times and its error") {
    val t = Bench.timeQuery(spark, (_, _) => throw new IllegalStateException("boom"), "unused")
    assert(t.runs.isEmpty)
    assert(t.error.exists(_.getMessage == "boom"), s"error: ${t.error}")
    assert(t.best == -1.0)
  }
}
