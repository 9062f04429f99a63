package graft.functions

import graft.{PropHelper, SparkSpec}
import graft.operators.Exact
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

/** Contract of the native exact round `graft_round_half_up`: bit-equal
  * to Spark's `round(x, 0)` for every double, and the `Exact` money
  * quantizers built on it equal their old `round` spelling.
  */
class RoundHalfUpExpressionSpec extends SparkSpec with PropHelper {
  import spark.implicits._

  private def kernel(c: Column): Column = RoundHalfUpFunctions.graftRoundHalfUp(c)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Every value the fast path must leave alone or get exactly right. */
  private val specials: Seq[Double] = Seq(0.0, -0.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 0.5, -0.5,
    math.nextDown(0.5), math.nextUp(-0.5), 0.49999999999999994, -0.49999999999999994,
    1099511627776.5, -1099511627776.5, 4503599627370495.5, 0.285 * 100, 1.005 * 1000)

  private val twoPow40 = 1099511627776L

  /** ±k.5 at every magnitude up to 2^52, exact or nudged by up to 2 ulp. */
  private val ties: Gen[Double] = for {
    k <- Gen.oneOf(Gen.chooseNum(0L, 1000L), Gen.chooseNum(0L, twoPow40 * 4096 - 1))
    sign <- Gen.oneOf(1.0, -1.0)
    nudge <- Gen.chooseNum(-2, 2)
  } yield {
    var x = sign * (k + 0.5)
    (0 until math.abs(nudge)).foreach(_ => x = if (nudge > 0) math.nextUp(x) else math.nextDown(x))
    x
  }

  /** Decimal k.5 the binary product misses: m/10^d with m ending in 5,
    * scaled by 10^(d-1) — e.g. 0.285 * 100 = 28.499999999999996. */
  private val decimalTies: Gen[Double] = for {
    d <- Gen.chooseNum(1, 6)
    m <- Gen.chooseNum(-10000000L, 10000000L)
  } yield ((m * 10 + 5) / math.pow(10, d)) * math.pow(10, d - 1).toLong

  private val money: Gen[Double] = for {
    cents <- Gen.chooseNum(-1000000000L, 1000000000L)
    scale <- Gen.oneOf(100L, 10000L, 1000000L)
    rate <- Gen.chooseNum(0L, 100L)
  } yield (cents / 100.0) * (1 - rate / 100.0) * scale

  private val large: Gen[Double] = for {
    e <- Gen.chooseNum(40, 70)
    m <- Gen.chooseNum(1.0, 2.0)
    sign <- Gen.oneOf(1.0, -1.0)
  } yield sign * m * math.pow(2, e)

  private val anyBits: Gen[Double] =
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)

  private val value: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.oneOf(specials).map(Some(_)),
    4 -> ties.map(Some(_)),
    3 -> decimalTies.map(Some(_)),
    3 -> money.map(Some(_)),
    2 -> large.map(Some(_)),
    3 -> anyBits.map(Some(_)),
    2 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)))

  /** (kernel, Spark's round) per input, through an exchange so the
    * projection runs in generated code, not in a driver-side fold. */
  private def both(xs: Seq[Option[Double]]): Seq[(Option[Double], Option[Double], Option[Double])] =
    xs.zipWithIndex.toDF("x", "i").repartition(2)
      .select($"i", $"x", kernel($"x"), round($"x", 0))
      .as[(Int, Option[Double], Option[Double], Option[Double])]
      .collect().sortBy(_._1).map(r => (r._2, r._3, r._4)).toSeq

  private def sameBits(a: Option[Double], b: Option[Double]): Boolean =
    a.map(bits) == b.map(bits)

  test("property: bits equal to Spark's round(x, 0) for arbitrary doubles and null") {
    checkProp(Prop.forAll(Gen.listOfN(200, value)) { xs =>
      val bad = both(specials.map(Some(_)) ++ xs).filterNot { case (_, got, want) =>
        sameBits(got, want) }
      bad.isEmpty :| s"(x, graft_round_half_up, round) mismatches: ${bad.take(5)}"
    }, minSuccessful = 30)
  }

  test("driver-side: equals BigDecimal.valueOf(x).setScale(0, HALF_UP) over 2M generated values") {
    val params = Gen.Parameters.default.withSize(100)
    val gens = Seq(ties, decimalTies, money, large, anyBits)
    var seed = org.scalacheck.rng.Seed(20261019L)
    var n = 0
    while (n < 2000000) {
      val gen = gens(n % gens.size)
      val x = gen.pureApply(params, seed)
      seed = seed.next
      val want =
        if (x.isNaN || x.isInfinite) x
        else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(bits(RoundHalfUp.roundHalfUp(x)) == bits(want), s"x = $x")
      n += 1
    }
  }

  test("codegen output equals interpreted output") {
    val xs = specials.map(Some(_)) ++ Gen.listOfN(2000, value)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
    val withCodegen = both(xs)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = both(xs)
      withCodegen.zip(interpreted).foreach { case ((x, c, _), (_, i, _)) =>
        assert(sameBits(c, i), s"x = $x: codegen $c vs interpreted $i")
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_round_half_up is callable from SQL and agrees with the Column API") {
    val df = Seq(2.5, -2.5, 28.499999999999996, -0.0, 1e300).toDF("x")
    val got = df.selectExpr("graft_round_half_up(x)").as[Double].collect().map(bits).toSeq
    val want = df.select(kernel($"x")).as[Double].collect().map(bits).toSeq
    assert(got == want && got == Seq(3.0, -3.0, 28.0, 0.0, 1e300).map(bits))
  }

  test("Exact.cents, pct and fix equal the old round spelling on the sf0.001 money columns") {
    def old(c: Column, unit: Long): Column = round(c * unit).cast("long")
    def check(df: DataFrame, pairs: Seq[(Column, Column)]): Unit = {
      val rows = df.repartition(3).select(pairs.flatMap { case (a, b) => Seq(a, b) }: _*).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => pairs.indices.foreach { i =>
        assert(r.get(2 * i) == r.get(2 * i + 1), s"column pair $i: $r")
      })
    }
    val price = col("l_extendedprice")
    val revenue = price * (lit(1.0) - col("l_discount"))
    check(Tables.lineitem(spark, sf0001), Seq(
      Exact.cents(price) -> old(price, 100),
      Exact.pct(col("l_discount")) -> old(col("l_discount"), 100),
      Exact.pct(col("l_tax")) -> old(col("l_tax"), 100),
      Exact.fix(revenue, 4) -> old(revenue, 10000),
      Exact.fix(revenue * (lit(1.0) + col("l_tax")), 6) -> old(revenue * (lit(1.0) + col("l_tax")), 1000000),
      Exact.fix(log(price), 6) -> old(log(price), 1000000)))
    check(Tables.orders(spark, sf0001),
      Seq(Exact.cents(col("o_totalprice")) -> old(col("o_totalprice"), 100)))
    check(Tables.events(spark, sf0001),
      Seq(Exact.cents(col("value")) -> old(col("value"), 100)))
  }
}
