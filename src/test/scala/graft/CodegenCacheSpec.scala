package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm reruns reuse generated code: with the codegen class cache sized
  * by GraftSession.CodegenCacheEntries, a second round of the curation
  * headlines compiles only a small measured residue. At Spark's default
  * of 100 entries the cache thrashes and the second round recompiles
  * hundreds of classes.
  */
class CodegenCacheSpec extends SparkSpec {

  private val curation = Seq("q31_minhash_neardup", "q224_survivorship",
    "q176_weighted_jaccard_join", "q291_anf_reach", "q239_charlm_perplexity")

  /** Classes compiled while every curation headline runs once, full result
    * materialised, per query.
    */
  private def round(): Seq[(String, Long)] = curation.map { q =>
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(q)(spark, sf0001).collect()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    q -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The warm round's compiles at sf0.001, measured with the cache at
    * GraftSession's size and its stage-id-free class names: totals 0–8
    * over 10 isolated runs (q224_survivorship 0–8, q291_anf_reach 0–2,
    * the other three 0). Those are classes their second run compiles for
    * the first time. With the stage id in the class name the residue
    * reached 16, as AQE renumbered the same pipelines run to run. At
    * Spark's default of 100 entries the cold round's ~310 classes evict
    * each other and the warm round recompiles 309 of them.
    */
  private val WarmResidue = 16

  test("a warm round of the curation headlines compiles only the measured residue") {
    val cold = round()
    val warm = round()
    info(s"warm round compiles per query: $warm (cold: $cold)")
    assert(warm.map(_._2).sum <= WarmResidue, s"warm round recompiled: $warm (cold: $cold)")
  }
}
