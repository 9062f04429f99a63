package graft.operators

import graft.functions.RoundHalfUpFunctions.graftRoundHalfUp
import org.apache.spark.sql.Column

/** Deterministic aggregation helpers: make float aggregates independent of
  * partition/summation order so results are bit-identical across runs,
  * plans (AQE re-splits), and engines (Spark vs the DuckDB oracle).
  *
  * Why: IEEE double addition is not associative — a parallel sum's value
  * depends on the merge order, which Spark does not fix. `round(sum(x), 2)`
  * usually hides the ±ULP wobble but fails whenever the true sum sits near
  * a rounding boundary (observed: q15/q16/q26 hash-mismatched in round 1
  * while passing locally). The robust fix is to quantize per row to an
  * integer BEFORE aggregating: integer sums are exact and associative, so
  * any partitioning, any engine, produces the same bits.
  *
  * The testdata money columns (prices, discounts, taxes, event values) are
  * 2-decimal quantities stored as double, so `round(x*100)` recovers the
  * exact integer cents. The Spark side spells that round as the native
  * `graft_round_half_up`, bit-equal to Spark's `round(x, 0)` without its
  * per-row BigDecimal. Irrational per-row values (sqrt/ln/ratios) are
  * quantized at a fixed scale; the two engines agree per row (IEEE sqrt is
  * correctly rounded; libm ln differs ≤1 ulp, far below the quantum).
  *
  * Scale note (100 TB): these helpers sum as LongType, which holds exact
  * cent-sums to ~9.2e18 (sf≈1000 for TPC-H money). Past that, swap the
  * `.cast("long")` for `.cast("decimal(38,0)")` — Spark and DuckDB both
  * sum decimals exactly; everything else is unchanged.
  *
  * HALF_UP display rounding on a quantized sum is `(sum + 50) div 100`
  * (Spark) mirrored by `(sum + 50) // 100` (DuckDB). PRECONDITION: the
  * sum must be NON-NEGATIVE — `//` floors while `div` truncates toward
  * zero, so the spellings diverge by one unit on negative values. Every
  * current user is a TPC-H money total (non-negative by construction);
  * for a signed measure use floor on both sides instead:
  * Spark `floor((sum + 50) / 100)` vs DuckDB `(sum + 50) // 100`.
  */
object Exact {

  /** 2-decimal money double → exact integer cents. */
  def cents(c: Column): Column = graftRoundHalfUp(c * 100).cast("long")

  /** 2-decimal rate (discount/tax) → exact integer percent points. */
  def pct(c: Column): Column = graftRoundHalfUp(c * 100).cast("long")

  /** Quantize an arbitrary double at 10^scale (per-row, pre-aggregation). */
  def fix(c: Column, scale: Int): Column =
    graftRoundHalfUp(c * math.pow(10, scale).toLong).cast("long")

  /** DuckDB-side spelling of [[cents]]/[[pct]]/[[fix]] for oracle SQL.
    * (DuckDB CAST(double AS BIGINT) rounds-to-nearest while Spark
    * truncates, so both sides round() first — the cast then agrees.) */
  def centsSql(e: String): String = s"CAST(round(($e) * 100) AS BIGINT)"
  def fixSql(e: String, scale: Int): String =
    s"CAST(round(($e) * ${math.pow(10, scale).toLong}) AS BIGINT)"
}
