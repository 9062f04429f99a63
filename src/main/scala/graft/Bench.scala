package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs the headline query suite on
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  */
object Bench {

  /** Classes one run compiled and the seconds spent compiling them. */
  final case class Compiles(count: Long, secs: Double)

  /** Every successful run's seconds and, at the same index, its
    * compiles; plus the last run failure (if any).
    */
  final case class Timing(
      runs: Vector[Double], error: Option[Throwable], compiles: Vector[Compiles]) {
    /** The reported time: the fastest run, or -1 when every run failed. */
    def best: Double = if (runs.nonEmpty) runs.min else -1.0
  }

  /** The input directory of every timing main: SPARK_GRAFT_SF_DIR. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One query's converged timing — shared by the bench and every
    * tools.Measure mode that times queries, so all of them measure under
    * the SAME protocol.
    *
    * Boundary hygiene first: one explicit GC at each query BOUNDARY
    * (not per run) — garbage from a heavy predecessor (multi-GB
    * driver-side work, humongous shuffle buffers) otherwise drains via
    * concurrent cycles DURING the next query's measured runs — the
    * sustained same-session slowdowns that round-over-round diffs kept
    * flagging on innocent queries (r6 q200_cdc_dedup +76% with no code
    * change; isolated A/B read -12%). ~0.3 s per boundary, outside all
    * timed windows. localCheckpoint blocks (the near-dup pipelines cut
    * their DAGs with them) are only reclaimed when GC collects the RDD
    * reference — and a large-heap JVM barely GCs, so dozens of
    * executions pile up tens of GB of dead blocks and the storage
    * pressure stalls later queries at random: dead persistent RDDs are
    * dropped explicitly after every run.
    *
    * Then per-query CONVERGENCE measurement, replacing the old separate
    * warmup/measure phases: repeat the query until its two FASTEST runs
    * agree within 15% (min 4 runs, cap 12), and report the min. The old
    * scheme settled warmup when a run was "not much faster than the
    * best so far" — but a NOISY SLOW run satisfies that too, so one GC
    * stall during warmup froze measurement while the heavy generated
    * kernels (q31's fused minhash + array paths need ~7 executions on a
    * cold JVM) were still ramping, and the driver-reported number
    * overstated steady state 2.5×. Two near-equal minima can't come
    * from one-off stalls (they'd have to strike twice with the same
    * magnitude) — but a SLOWLY-flattening ramp produces adjacent
    * near-equal values too (q105 descends 5.5 → 2.9 → 2.84 → … → 1.0
    * over ~7 runs, and 2.9/2.84 pass the 15% gate mid-ramp), so the
    * plateau is only trusted once the best run is BEHIND us: the last
    * two runs must have failed to improve on the minimum. On the
    * (monotone) ramp the newest run IS the minimum, which defers
    * convergence until the curve actually flattens.
    * A failed run contributes no time (a near-instant failure would
    * report a broken query as fast); its error is kept, so a query whose
    * every run failed yields no times and says why.
    * Each run's codegen compiles are the JVM-wide counters' deltas (the
    * codegen metric's count and `CodeGenerator.compileTime`), so a warm
    * run that recompiles shows it.
    */
  private[graft] def timeQuery(
      spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String): Timing = {
    System.gc()
    var times = Vector.empty[Double]
    var compiles = Vector.empty[Compiles]
    var error = Option.empty[Throwable]
    var runs = 0
    def converged: Boolean = times.size >= 4 && {
      val fastest = times.sorted.take(2)
      fastest(1) <= fastest(0) * 1.15 &&
        times.indexOf(fastest(0)) < times.size - 2
    }
    while (runs < 12 && !converged) {
      val (c0, cNs0) =
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => error = Some(e); false }
      val secs = (System.nanoTime() - t0) / 1e9
      val compiled = Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        (CodeGenerator.compileTime - cNs0) / 1e9)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) { times :+= secs; compiles :+= compiled }
      runs += 1
    }
    Timing(times, error, compiles)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("graft-bench")
    val results = SparkEntry.headlines.map { q =>
      q.name -> timeQuery(spark, q.fn, sfDir).best
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
