package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark counters summed over every task, stage and job of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
  }
}

/** Collects [[Counters]] per job group. Jobs launched outside any group
  * (or by a streaming query, which sets its own group) are keyed by that
  * group id too, so the caller can map them back to a span. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    of(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of `groups` after draining the bus (no fixed sleeps). */
  def take(sc: SparkContext, groups: Iterable[String]): Counters = {
    BusDrain.drain(sc)
    synchronized {
      val out = new Counters
      groups.foreach(g => byGroup.get(g).foreach(out.add))
      out
    }
  }
}

/** One recorded span. `group` is the Spark job group set around the call;
  * `exec` identifies the execution (query run, ingest step) it belongs to. */
final case class Span(
    id: Int,
    name: String,
    layer: String,
    parent: Int,
    exec: String,
    startNs: Long,
    var endNs: Long = 0L,
    var compiles: Long = 0L,
    var compileNs: Long = 0L,
    var counters: Counters = new Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When disabled, `span` only runs the body.
  * Every span runs under its own job group so the listener can attribute
  * Spark work to it; codegen counters are read around it. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0
  var listener: GroupListener = _

  def groupOf(s: Span): String = s"perfbench-span-${s.id}"

  def span[T](layer: String, name: String, exec: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(nextId, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      exec, System.nanoTime())
    nextId += 1
    val parentGroup = stack.headOption.map(groupOf)
    stack = s :: stack
    sc.setJobGroup(groupOf(s), name)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = CodeGenerator.compileTime
    try body
    finally {
      s.endNs = System.nanoTime()
      s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      s.compileNs = CodeGenerator.compileTime - t0
      stack = stack.tail
      parentGroup match {
        case Some(g) => sc.setJobGroup(g, "")
        case None    => sc.clearJobGroup()
      }
      s.counters = listener.take(sc, Seq(groupOf(s)))
      spans += s
    }
  }
}
