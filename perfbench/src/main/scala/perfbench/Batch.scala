package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import Harness._

/** Catalog-query workloads (`curation`, `relational_mr`): a pass runs every
  * job once, in a fixed order; set-up warms each job once per round. */
final class BatchWorkload(a: Args, rec: Recorder) extends Workload {
  private lazy val jobs = jobsFor(a)
  private lazy val mrWant = mrExpected(a)
  private val off = new Tracer(false, null)

  def firstUse(spark: SparkSession, round: Int): Unit =
    timedExec(spark, a, jobs.head, off, rec, s"setup$round", "", mrWant)

  def warmUp(spark: SparkSession): Unit =
    jobs.tail.foreach(j => timedExec(spark, a, j, off, rec, "warmup", "", mrWant))

  private def pass(spark: SparkSession, tr: Tracer, phase: String,
      queryS: mutable.ArrayBuffer[Double]): Double =
    jobs.map { j =>
      val s = timedExec(spark, a, j, tr, rec, phase, s"$phase/${j.name}", mrWant)
      queryS += s
      s
    }.sum

  /** Back-to-back passes until `budget` seconds have elapsed, and at least
    * `min`. No GC is forced between them: the cleanup a forced GC sets off
    * (pinned blocks, shuffle files) would land in the next pass. */
  private def passes(spark: SparkSession, tr: Tracer, tag: String, budget: Double, min: Int,
      queryS: mutable.ArrayBuffer[Double]): Seq[Double] = {
    val passS = mutable.ArrayBuffer.empty[Double]
    val t0 = nowNs()
    while (passS.size < min || (nowNs() - t0) / 1e9 < budget)
      passS += pass(spark, tr, s"$tag${passS.size}", queryS)
    passS.toSeq
  }

  def measure(spark: SparkSession, tr: Tracer, out: Json): Unit = {
    out.num("input_bytes", (dirBytes(a.tables) + dirBytes(s"${a.input}/text")).toDouble)
    val queryS = mutable.ArrayBuffer.empty[Double]
    // untraced runs take the median of at least two passes; traced runs
    // split the time between untraced and traced passes
    val passS =
      if (tr.enabled) passes(spark, off, "pass", a.seconds / 2, 1, queryS)
      else passes(spark, off, "pass", a.seconds, 2, queryS)
    out.arr("pass_s", passS)
    out.arr("query_s", queryS.toSeq)
    out.arr("heap_mb", Seq(usedHeapMb()))
    if (tr.enabled) {
      val traced = passes(spark, tr, "traced", a.seconds / 2, 1, mutable.ArrayBuffer.empty)
      out.arr("traced_pass_s", traced)
      val probes = Probes.run(spark, a, tr)
      out.raw("layers", Layers.metrics(tr, traced.size, a.workload, probes).render)
    }
  }
}

/** Build-phase instrumentation: the RDDs pinned while a query's DataFrame
  * is built (its eager `localCheckpoint`s) and the storage they hold. */
object Pins {
  var pins = 0L
  var pinnedBytes = 0L

  def build(spark: SparkSession, tr: Tracer, body: => DataFrame): DataFrame =
    if (!tr.enabled) body
    else {
      val sc = spark.sparkContext
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val df = body
      val pinned = sc.getRDDStorageInfo.filterNot(i => before(i.id))
      pins += pinned.length
      pinnedBytes += pinned.map(i => i.memSize + i.diskSize).sum
      df
    }
}
