package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation metrics for quality scores / classifiers, exact at any
  * scale — the audit step between training a filter (q111) and trusting
  * it to gate a 100 TB corpus.
  */
object Eval {

  /** Exact ROC-AUC as an integer U-statistic (Mann-Whitney): with
    * positives expected to score HIGH,
    * 2U = Σ_s nPos(s)·(2·cumNeg(<s) + nNeg(s)) — each positive counts 2
    * per negative strictly below it and 1 per tied negative — and
    * AUC = U / (nPos·nNeg). Everything before the final basis-point
    * division is exact long arithmetic, so the result is
    * partition-order-independent and engine-exact (no trapezoid
    * approximation, no float ranks).
    *
    * Scale shape: one partial-agg shuffle builds the score histogram
    * (one row per DISTINCT score — for integer ppm scores that is ≤1e6
    * rows regardless of corpus size), the cumulative negative count is a
    * [[graft.operators.Scale.scan]] over that bounded
    * histogram (range partition + broadcast offsets, no one-partition
    * window), and the finale is a scalar aggregate. The corpus itself
    * is scanned once and never re-shuffled.
    *
    * `scoreCol` must be an integral/orderable column; `posCol` boolean.
    * Returns one row: (n_pos, n_neg, u2, auc_bp) with auc_bp null when
    * either class is empty.
    */
  def aucExact(scored: DataFrame, scoreCol: String, posCol: String): DataFrame = {
    val hist = scored.groupBy(scoreCol).agg(
      sum(when(col(posCol), 1L).otherwise(0L)).as("npos"),
      sum(when(col(posCol), 0L).otherwise(1L)).as("nneg"))
    val cum = graft.operators.Scale.scan(
      hist, Seq(scoreCol), graft.operators.Scale.Sum("nneg", "cumneg"))._1
    // 2U ≤ 2·nPos·nNeg ~ n²/2 overflows Long past ~3e9 rows per class —
    // accumulate the per-score products in DECIMAL(38,0) (the q111
    // moment-sum precedent; DuckDB's BIGINT sums promote to HUGEINT the
    // same way), and keep the division integral (`div`) rather than a
    // scale-rounded decimal divide, whose half-up rounding could differ
    // from the floor the oracle's `//` takes.
    cum.agg(
        sum("npos").as("n_pos"),
        sum("nneg").as("n_neg"),
        sum((col("cumneg") * 2 - col("nneg")).cast("decimal(38,0)") *
          col("npos").cast("decimal(38,0)")).as("u2d"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("long").as("u2"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
          .otherwise(expr(
            "(u2d * 10000) div (CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2)"))
          .cast("long").as("auc_bp"))
  }

  /** Decile lift table — the model-eval report read before deploying a
    * ranking filter: rows sorted by score DESC are cut into `bins`
    * exact equi-depth bins ([[graft.operators.Scale.equiDepthBins]] —
    * ntile semantics with no single-partition window), and each bin
    * reports its size, positive count, response rate, and CUMULATIVE
    * lift vs the base rate (how much better the top k/bins of the
    * ranking is than random). AUC (q151) summarizes the whole curve in
    * one number; the lift table says where the separation actually
    * lives — the difference between "ship the filter at the top-decile
    * cut" and "the signal is flat past bin 3".
    *
    * Exactness: ranking ties break on `idCol` (total order), all
    * counts are longs, rates/lifts are integer basis points via `div`,
    * and the cumulative products go through DECIMAL(38,0) (cum_pos ×
    * total overflows a Long past ~3e9 rows per side — the q151
    * precedent). The corpus is scanned once into the rank machinery;
    * the per-bin rollup is a partial+final agg; the cumulative pass
    * runs over the `bins`-row table (bounded by construction, so its
    * window is NOT a scale hazard).
    *
    * `scoreCol` must be integral (negated for the descending order —
    * exact only for integers; quantize floats upstream first), `posCol`
    * boolean.
    */
  def liftTable(
      scored: DataFrame,
      scoreCol: String,
      posCol: String,
      idCol: String,
      bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = graft.operators.Scale.equiDepthBins(
      scored.withColumn("_ns", -col(scoreCol)), bins, "_ns", idCol)
    val perBin = binned.groupBy("bin").agg(
      count(lit(1)).as("n"),
      sum(when(col(posCol), 1L).otherwise(0L)).as("n_pos"))
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perBin
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      .withColumn("t_n", sum("n").over(tot))
      .withColumn("t_pos", sum("n_pos").over(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 10000 div n").as("resp_bp"),
        when(col("t_pos") === 0L, lit(null)).otherwise(expr(
          """(CAST(cum_pos AS DECIMAL(38,0)) * t_n * 10000)
            | div (CAST(cum_n AS DECIMAL(38,0)) * t_pos)""".stripMargin))
          .cast("long").as("cum_lift_bp"))
  }
}
