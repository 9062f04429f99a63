package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Pins the 128-bit integer-space arithmetic (Spark DECIMAL(38,0) /
  * DuckDB HUGEINT — the q322 discipline) of the moment/index queries on
  * synthesized mini-tables whose products pass Long.Max — magnitudes the
  * catalog testdata never reaches, where the old BIGINT spellings
  * silently wrapped on the Spark side (DuckDB raises instead: a latent
  * engine split this spec closes). Expected values are computed
  * independently with BigInt in the spec.
  */
class WideArithmeticSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(): String =
    tempDir("graft-wide")

  test("q315: covariance sign and corr stay exact when y·y passes Long.Max") {
    val dir = mkDir()
    // y ≈ 4e9: a single y*y = 1.6e19 > Long.Max — the old BIGINT syy/sxy
    // moments wrapped on the first row
    val rows = Seq(
      ("A", 1.0, 4.0e9), ("A", 2.0, 8.0e9), ("A", 3.0, 1.2e10), // perfectly increasing
      ("R", 1.0, 9.0e9), ("R", 2.0, 6.0e9), ("R", 3.0, 3.0e9))  // perfectly decreasing
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q315_simpsons")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def cov(g: Seq[(Double, Double)]): BigInt = {
      val (xs, ys) = (g.map(p => BigInt(math.round(p._1))), g.map(p => BigInt(math.round(p._2))))
      BigInt(g.size) * xs.zip(ys).map { case (x, y) => x * y }.sum - xs.sum * ys.sum
    }
    val a = rows.filter(_._1 == "A").map(t => (t._2, t._3))
    val r = rows.filter(_._1 == "R").map(t => (t._2, t._3))
    assert(got("A")._1 == cov(a).signum && got("A")._1 == 1L)
    assert(got("R")._1 == cov(r).signum && got("R")._1 == -1L)
    assert(got("A")._2 == 1000L && got("R")._2 == -1000L,
      "perfectly linear groups must hit corr = ±1000 milli exactly")
    val pooledSign = cov(rows.map(t => (t._2, t._3))).signum.toLong
    assert(got("ALL")._1 == pooledSign)
    assert(got("A")._3 == (if (1L != pooledSign) 1L else 0L),
      "sign_flips_vs_pooled must reflect the exact integer signs")
  }

  test("q288: OLS betas stay exact when y² moments pass Long.Max") {
    val dir = mkDir()
    // exact linear model y = 1e9 + 2e8·x1 + 3e8·x2 over 4 orders;
    // y ≈ 1.5–2.9e9 so Σy² ≈ 2.3e19 > Long.Max (old syy wrapped → SST
    // garbage → r2 nonsense)
    val design = Seq( // (orderkey, per-item quantities)
      (1L, Seq(1.0)),           // x1=1, x2=1
      (2L, Seq(1.0, 2.0)),      // x1=2, x2=3
      (3L, Seq(1.0, 1.0, 2.0)), // x1=3, x2=4
      (4L, Seq(2.0, 3.0)))      // x1=2, x2=5
    design.flatMap { case (k, qs) => qs.map(q => (k, q)) }
      .toDF("l_orderkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    design.map { case (k, qs) =>
      (k, 1.0e9 + 2.0e8 * qs.size + 3.0e8 * qs.map(math.round).sum) }
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val row = SparkEntry.queries("q288_ols_multi")(spark, dir).collect().head
    val (b0, b1, b2, r2) = (row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    // Cramer runs in shared DOUBLE: the exact ratios carry ~1e-15
    // relative error into 1e14–1e15 micro values → allow ±4 micro
    assert(math.abs(b0 - 1.0e15) <= 4, s"beta0_micro=$b0")
    assert(math.abs(b1 - 2.0e14) <= 4, s"beta1_micro=$b1")
    assert(math.abs(b2 - 3.0e14) <= 4, s"beta2_micro=$b2")
    assert(r2 == 1000000L, s"a perfect fit must report r2_ppm=1e6, got $r2")
  }

  test("q297: EM moment sums stay exact when xm² passes Long.Max") {
    val dir = mkDir()
    // n_chars 4e6 / 8e6 → xm = 4e9 / 8e9 milli-chars; xm² = 1.6e19 >
    // Long.Max on the first row of Σxm² (old sxmm wrapped)
    val docs = Seq.fill(3)(4000000L) ++ Seq.fill(3)(8000000L)
    docs.zipWithIndex.map { case (nc, i) => (i.toLong, "", "en", "s", nc) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q297_gmm_em")(spark, dir).collect().head
    // independent reference: exact integer iterate (BigInt sums,
    // trunc-div), responsibilities through the same double expression
    val xs = docs.map(_ * 1000L)
    val n = BigInt(xs.size)
    val sxm = BigInt(xs.sum)
    val sxmm = xs.map(x => BigInt(x) * BigInt(x)).sum
    // mirror the engine's DOUBLE association exactly (cast each moment,
    // THEN combine) — a BigInt-exact subtraction rounds differently
    val s2 = (n.toDouble * sxmm.toDouble - sxm.toDouble * sxm.toDouble) /
      (n.toDouble * n.toDouble)
    var (mu1, mu2) = (math.round(sxm.toDouble / n.toDouble - math.sqrt(s2)),
      math.round(sxm.toDouble / n.toDouble + math.sqrt(s2)))
    assert(row.getLong(1) == mu1 && row.getLong(2) == mu2, "init means")
    var n1 = BigInt(0); var sxr1 = BigInt(0)
    (1 to 2).foreach { _ =>
      def resp(x: Long): Long = math.round(1000000.0 /
        (1 + math.exp(((x - mu1).toDouble * (x - mu1) -
          (x - mu2).toDouble * (x - mu2)) / (2 * s2))))
      n1 = xs.map(x => BigInt(resp(x))).sum
      sxr1 = xs.map(x => BigInt(resp(x)) * x).sum
      mu1 = (sxr1 / n1).toLong
      mu2 = ((BigInt(1000000) * sxm - sxr1) / (BigInt(1000000) * n - n1)).toLong
    }
    assert(row.getLong(3) == mu1, s"mu1_milli: got ${row.getLong(3)}, want $mu1")
    assert(row.getLong(4) == mu2, s"mu2_milli: got ${row.getLong(4)}, want $mu2")
    assert(row.getLong(5) == (n1 / n).toLong, "pi1_ppm")
  }

  test("q322: dow index stays exact when 10000·sum_cents·nn passes Long.Max") {
    val dir = mkDir()
    // 700 events of $1e9 → cents 1e11/row; sum_cents·nn ≈ 4.9e16 ≫ the
    // old BIGINT numerator bound of 9.2e14 (wrapped before this fix)
    // epoch-millis construction (no local-timezone parsing): Monday
    // 1970-01-05 00:00 UTC = epoch day 4; 06:00 offset keeps the date
    // stable under any sub-day truncation
    val base = 4L * 86400000L + 6L * 3600000L
    val rows = (0 until 700).map { i =>
      val dow = i % 7
      // uneven per-dow spend: day d gets value 1e9·(1 + d·0.25)
      (i.toLong, new java.sql.Timestamp(base + (i / 7 * 7 + dow) * 86400000L),
        1.0e9 * (1.0 + 0.25 * dow))
    }
    rows.toDF("event_id", "ts", "value").write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q322_dow_index")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // reference via the query's own dow definition: days since 1970-01-05
    val ref = rows.groupBy(r => ((r._2.getTime / 86400000L - 4) % 7 + 7) % 7)
      .map { case (d, rs) =>
        d -> ((rs.size.toLong, rs.map(r => BigInt(math.round(r._3 * 100))).sum))
      }
    val nn = BigInt(rows.size)
    val ss = ref.values.map(_._2).sum
    ref.foreach { case (d, (nd, sc)) =>
      val want = (BigInt(10000) * sc * nn / (BigInt(nd) * ss)).toLong
      assert(got(d)._1 == nd && got(d)._2 == sc.toLong, s"dow $d counts/sums")
      assert(got(d)._3 == want, s"dow $d index_bp: got ${got(d)._3}, want $want")
    }
  }
}
