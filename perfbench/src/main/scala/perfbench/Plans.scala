package perfbench

import graft.GraftSession
import graft.SparkEntry

/** Checks that the timed action keeps the work users get: the plan the
  * harness times (`collect` over every output column) still computes
  * q1_agg's aggregates and q239's post-pin bigram scoring, both of which a
  * `count()` plan prunes away. Prints one line per check; exits 1 on any
  * failure. */
object Plans {
  def check(tables: String): Unit = {
    val spark = GraftSession.getOrCreate("perfbench-plans")
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    def plans(q: String) = {
      val df = byName(q).fn(spark, tables)
      (df.queryExecution.optimizedPlan.toString,
        df.groupBy().count().queryExecution.optimizedPlan.toString)
    }
    val (q1, q1Count) = plans("q1_agg")
    val (q239, q239Count) = plans("q239_charlm_perplexity")
    val checks = Seq(
      "q1_agg timed plan computes sum()" -> q1.contains("sum("),
      "q1_agg timed plan computes avg()" -> q1.contains("avg("),
      "q1_agg count() plan prunes the aggregates (control)" -> !q1Count.contains("avg("),
      "q239 timed plan scores with the bigram histogram" -> q239.contains("ln("),
      "q239 count() plan prunes the scoring (control)" -> !q239Count.contains("ln("))
    checks.foreach { case (name, ok) => println(s"${if (ok) "PASS" else "FAIL"} $name") }
    spark.stop()
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
