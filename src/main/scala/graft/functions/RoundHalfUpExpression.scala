package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native exact round: `graft_round_half_up(x)` → double, bit-for-bit
  * what Spark's `round(x, 0)` returns for every double x (NaN and ±Inf
  * pass through, −0.0 rounds to +0.0).
  *
  * Spark's `Round` runs `java.math.BigDecimal.valueOf(x).setScale(0,
  * HALF_UP)` on every row, which formats the double as a decimal string
  * first; in the `Exact` money quantizers that was most of a scan's
  * per-row cost. This kernel decides from the binary value whenever the
  * decimal cannot decide differently, and takes Spark's path otherwise.
  * Why that is exact: `valueOf` rounds the shortest decimal that reads
  * back as x, which lies within half an ulp of x. Below 2^40 an ulp is at
  * most 2^-12, so when x's fraction is more than 2^-10 from one half, x
  * and its decimal round to the same integer. `x - floor(x)` is exact
  * for x ≥ 0 and off by at most 2^-54 below 0, far inside that margin.
  * Ties, near-ties, |x| ≥ 2^40, NaN and ±Inf take the BigDecimal path.
  */
case class RoundHalfUp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_round_half_up expects double, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_round_half_up"

  override def nullSafeEval(input: Any): Any =
    RoundHalfUp.roundHalfUp(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = RoundHalfUp.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, x => s"$helper.roundHalfUp($x)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundHalfUp {
  private final val FastLimit = 1099511627776.0 // 2^40
  private final val TieWindow = 1.0 / 1024 // 2^-10

  /** HALF_UP to an integer, shared by eval and codegen. The `+ 0.0`
    * turns a −0.0 floor into +0.0, as BigDecimal (which has no −0) does. */
  def roundHalfUp(x: Double): Double = {
    val fl = math.floor(x)
    val f = x - fl
    if (fast(x, f)) (if (f > 0.5) fl + 1.0 else fl) + 0.0
    else bigDecimalRound(x)
  }

  /** |x| < 2^40 (so x is finite) and its fraction f is not near one half. */
  private def fast(x: Double, f: Double): Boolean =
    math.abs(x) < FastLimit && math.abs(f - 0.5) > TieWindow

  /** Spark's own double path of `round(x, 0)`. */
  private def bigDecimalRound(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** True when [[roundHalfUp]] falls back to [[bigDecimalRound]]. */
  def takesFallback(x: Double): Boolean = !fast(x, x - math.floor(x))
}

object RoundHalfUpFunctions {
  /** `round(x, 0)` of a double column, without a BigDecimal per row. */
  def graftRoundHalfUp(c: Column): Column =
    Bridge.column(RoundHalfUp(Bridge.expression(c)))
}
