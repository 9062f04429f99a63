package graft.operators

import graft.HashReplay.md5Long
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic contracts for the q288–q291 science/sketch/spatial family:
  * driver-replayed golden values on sf0.001 plus the plan shapes that
  * must survive 100×.
  */
class ScienceSpec extends SparkSpec {

  private def run(name: String, dir: String = sf0001) =
    graft.SparkEntry.queries(name)(spark, dir)

  private def planOf(name: String): String =
    run(name).queryExecution.executedPlan.toString

  // ---- q288 multiple OLS ----

  test("q288: betas and R² replay a driver-side normal-equation solve") {
    val got = run("q288_ols_multi").collect().head
    // rebuild the moment matrix from raw rows on the driver
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(count(lit(1)).as("x1"), sum(round(col("l_quantity")).cast("long")).as("x2"))
    val rows = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey").as("okey"), round(col("o_totalprice")).cast("long").as("y"))
      .join(li, "okey")
      .select("x1", "x2", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toDouble
    var (s1, s2, s11, s12, s22, sy, s1y, s2y, syy) = (0d, 0d, 0d, 0d, 0d, 0d, 0d, 0d, 0d)
    rows.foreach { case (x1, x2, y) =>
      s1 += x1; s2 += x2; s11 += x1.toDouble * x1; s12 += x1.toDouble * x2
      s22 += x2.toDouble * x2; sy += y; s1y += x1.toDouble * y
      s2y += x2.toDouble * y; syy += y.toDouble * y
    }
    def det3(m: Double*) =
      m(0) * (m(4) * m(8) - m(5) * m(7)) - m(1) * (m(3) * m(8) - m(5) * m(6)) +
        m(2) * (m(3) * m(7) - m(4) * m(6))
    val d = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val d1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val d2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    val want = Seq(d0 / d, d1 / d, d2 / d).map(b => math.round(1e6 * b))
    val gotB = Seq(got.getLong(1), got.getLong(2), got.getLong(3))
    gotB.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) <= 2L, s"beta$i micro: got $g want ~$w")
    }
    val sse = syy - (d0 * sy + d1 * s1y + d2 * s2y) / d
    val sst = syy - sy * sy / n
    val wantR2 = math.round(1e6 * (1 - sse / sst))
    assert(math.abs(got.getLong(4) - wantR2) <= 2L)
    assert(got.getLong(4) > 0L && got.getLong(4) <= 1000000L)
  }

  test("q288: the data collapses in one aggregate — no window, no sort of rows") {
    val plan = planOf("q288_ols_multi")
    assert(!plan.contains("Window ["), "OLS must not window the data")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"))
  }

  // ---- q289 heavy hitters ----

  test("q289: output is EXACTLY the set of tokens with freq > n/200, with exact counts") {
    val got = run("q289_heavy_hitters").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tk = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("tok"))
    val total = tk.count()
    val want = tk.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter { case (_, c) => c * 200 > total }.toMap
    assert(want.nonEmpty, "fixture should contain heavy hitters")
    // no false negatives (the MG guarantee) and no false positives
    // (the exact verify pass), counts exact
    assert(got === want)
  }

  test("q289: candidate side is broadcast — the corpus never shuffles for the verify join") {
    val plan = planOf("q289_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      "MG candidates must broadcast into the verify join")
  }

  // ---- q290 grid nearest neighbor ----

  test("q290: matches a driver brute-force over the identical md5 point set") {
    val got = run("q290_grid_knn").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val custs = spark.read.parquet(s"$sf0001/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val sups = spark.read.parquet(s"$sf0001/supplier.parquet")
      .select("s_suppkey").collect().map(_.getLong(0))
    val spts = sups.map(k => (k, md5Long(s"$k|gx") % 1000000L, md5Long(s"$k|gy") % 1000000L))
    val want = custs.flatMap { ck =>
      val (cu, cv) = (md5Long(s"$ck|gx") % 1000000L, md5Long(s"$ck|gy") % 1000000L)
      val within = spts.map { case (sk, su, sv) =>
        ((cu - su) * (cu - su) + (cv - sv) * (cv - sv), sk)
      }.filter(_._1 <= 10000000000L)
      if (within.isEmpty) None
      else { val m = within.min; Some(ck -> (m._2, m._1)) }
    }.toMap
    assert(want.nonEmpty, "fixture should place some supplier within R of a customer")
    assert(got === want)
  }

  test("q290: the spatial join is a hash join on cell ids — no product anywhere") {
    val plan = planOf("q290_grid_knn")
    assert(!plan.contains("CartesianProduct"), "grid join must not cross")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "grid join must be keyed")
  }

  // ---- q291 ANF reach ----

  test("q291: node count is constant and reach estimates grow monotonically with hops") {
    val rows = run("q291_anf_reach").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3))
    assert(rows.map(_._2).distinct.length === 1, "every hop sees every node")
    val n = rows.head._2
    rows.sliding(2).foreach { case Array((_, _, a), (_, _, b)) =>
      assert(b >= a, "OR-only sketches can never shrink the estimate")
    }
    // h=0: each node holds ≥1 register bit ⇒ per-node estimate ≥ 1293 milli
    assert(rows.head._3 >= 1293L * n)
    // the graph has edges, so three hops must beat the self-only estimate
    assert(rows.last._3 > rows.head._3)
  }

  // ---- q292 Kruskal-Wallis ----

  test("q292: H replays a driver midrank computation; tie correction only raises H") {
    val got = run("q292_kruskal_wallis").collect().head
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = rows.length
    // driver midranks over the sorted values
    val sorted = rows.map(_._2).sorted
    val mid = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      v -> (xs.map(_._2 + 1L).sum.toDouble / xs.length) // mean 1-based rank
    }
    val byGroup = rows.groupBy(_._1)
    val srs = byGroup.toSeq.sortBy(_._1).map { case (_, xs) =>
      val rg = xs.map(x => mid(x._2)).sum
      rg * rg / xs.length
    }.sum
    val h = 12.0 * srs / (n.toDouble * (n + 1)) - 3.0 * (n + 1)
    val ties = sorted.groupBy(identity).values.map(_.length.toLong)
      .map(t => t * t * t - t).sum
    val hCorr = h / (1.0 - ties.toDouble / (n.toDouble * n * n - n))
    assert(got.getLong(0) === n.toLong)
    assert(got.getLong(1) === byGroup.size.toLong)
    assert(got.getLong(2) === ties)
    assert(math.abs(got.getLong(3) - math.round(1e6 * h)) <= 2L,
      s"h_micro: got ${got.getLong(3)} want ~${math.round(1e6 * h)}")
    assert(math.abs(got.getLong(4) - math.round(1e6 * hCorr)) <= 2L)
    assert(got.getLong(4) >= got.getLong(3), "tie correction divides by ≤1")
  }

  test("q292: ranks come from the prefix primitive — no single-partition window") {
    assert(!planOf("q292_kruskal_wallis").contains("Window ["),
      "midranks must not use a window")
  }

  // ---- q293 difference-in-differences ----

  test("q293: cells and DiD replay a driver fold over the raw events") {
    val got = run("q293_did").collect().head
    val raw = graft.tables.Tables.events(spark, sf0001)
      .selectExpr("user_id", "ts div 1000 AS tus",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lo = raw.map(_._2).min; val hi = raw.map(_._2).max
    val bd = lo + (hi - lo) / 2
    val cells = raw.groupBy { case (u, t, _) => (md5Long(s"$u|did") % 2L, if (t >= bd) 1 else 0) }
      .map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._3).sum) }
    val Seq(cPre, cPost, tPre, tPost) =
      Seq((0L, 0), (0L, 1), (1L, 0), (1L, 1)).map(cells)
    assert(Seq(got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      === Seq(cPre._1, cPost._1, tPre._1, tPost._1))
    def mean(x: (Long, Long)) = x._2.toDouble / x._1
    val did = (mean(tPost) - mean(tPre)) - (mean(cPost) - mean(cPre))
    assert(math.abs(got.getLong(8) - math.round(1000 * did)) <= 1L)
    assert(math.abs(got.getLong(4) - math.round(1000 * mean(cPre))) <= 1L)
  }

  test("q293: one conditional aggregate — no shuffle join, no window") {
    val plan = planOf("q293_did")
    assert(!plan.contains("SortMergeJoin"), "DiD must not shuffle-join")
    assert(!plan.contains("Window ["))
  }

  // ---- q294 winnowing ----

  test("q294: pairs replay a driver winnowing (k=3, w=4, df<=50, shared>=2)") {
    val got = run("q294_winnowing").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val fps = docs.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val grams =
        if (toks.length < 3) Array(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toArray
      val hs = grams.map(md5Long)
      val f =
        if (hs.length < 4) Set(hs.min)
        else hs.sliding(4).map(_.min).toSet
      id -> f
    }
    val dfCount = fps.flatMap { case (id, f) => f.map(_ -> id) }
      .groupBy(_._1).map { case (fp, xs) => fp -> xs.length }
    val keptFps = dfCount.filter(_._2 <= 50).keySet
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      shared = (fa & fb & keptFps).size if shared >= 2
    } yield (a, b) -> shared.toLong).toMap
    assert(want.nonEmpty, "fixture should contain winnowing pairs")
    assert(got === want)
  }

  test("q294: fingerprint match is a df-capped equi-join — no product") {
    val plan = planOf("q294_winnowing")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ---- q295 SAX motifs ----

  test("q295: words are 8-symbol a–d strings, motif counts are consistent, and one user replays") {
    val rows = run("q295_sax_motifs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2.length == 8))
    assert(rows.forall(_._2.forall(c => c >= 'a' && c <= 'd')))
    val byWord = rows.groupBy(_._2)
    byWord.foreach { case (w, xs) =>
      assert(xs.forall(_._3 == xs.length.toLong), s"motif_n wrong for $w")
    }
    // driver replay for every user over the raw events
    val ev = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("user_id", "CAST(to_date(ts) AS STRING) AS day").collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    val d0 = ev.map(_._2).min
    val dd = java.time.temporal.ChronoUnit.DAYS.between(d0, ev.map(_._2).max) + 1
    val daily = ev.groupBy(identity).map { case ((u, d), xs) =>
      (u, java.time.temporal.ChronoUnit.DAYS.between(d0, d), xs.length.toLong)
    }
    val want = daily.groupBy(_._1).map { case (u, xs) =>
      val segSum = xs.groupBy(x => x._2 * 8 / dd)
        .map { case (s2, ys) => s2 -> ys.map(_._3).sum }
      val paa = (0L to 7L).map { s2 =>
        val days = ((s2 + 1) * dd + 7) / 8 - (s2 * dd + 7) / 8
        1000L * segSum.getOrElse(s2, 0L) / math.max(days, 1L)
      }
      val sp = paa.sum; val spp = paa.map(p => p * p).sum
      val word = paa.map { p =>
        val lhs = (8 * p - sp).toDouble
        val v = (8 * spp - sp * sp).toDouble
        if (v == 0) 'b'
        else if (lhs < -0.6745 * math.sqrt(v)) 'a'
        else if (8 * p - sp < 0) 'b'
        else if (lhs < 0.6745 * math.sqrt(v)) 'c'
        else 'd'
      }.mkString
      u -> word
    }
    assert(rows.map(r => r._1 -> r._2).toMap === want)
  }

  // ---- q296 SPRT ----

  test("q296: first Wald crossing replays a driver cumulative scan") {
    val got = run("q296_sprt").collect().head
    val ev = graft.tables.Tables.events(spark, sf0001)
      .selectExpr("event_id", "ts div 1000 AS tus",
        "CASE WHEN event_type = 'click' THEN 511L ELSE -125L END AS llr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.getLong(0) === ev.length.toLong)
    assert(got.getLong(1) === ev.map(_._3).sum)
    var cum = 0L
    val firstCross = ev.sortBy(e => (e._2, e._1)).collectFirst {
      case (eid, _, llr) if { cum += llr; cum >= 2944L || cum <= -2944L } =>
        (eid, cum)
    }
    firstCross match {
      case Some((eid, c)) =>
        assert(got.getString(2) === (if (c >= 2944L) "h1" else "h0"))
        assert(got.getLong(3) === eid)
        assert(got.getLong(4) === c)
      case None =>
        assert(got.getString(2) === "none")
        assert(got.isNullAt(3))
    }
  }

  test("q296: the running sum is the prefix primitive — no single-partition window") {
    assert(!planOf("q296_sprt").contains("Window ["))
  }

  // ---- q297 GMM EM ----

  test("q297: two EM iterations replay bit-exactly on the driver (integer sums are order-free)") {
    val got = run("q297_gmm_em").collect().head
    val xs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("1000 * n_chars AS xm").collect().map(_.getLong(0))
    val n = xs.length.toLong
    val sxm = xs.sum; val sxmm = xs.map(x => x * x).sum
    val s2 = (n.toDouble * sxmm.toDouble - sxm.toDouble * sxm.toDouble) /
      (n.toDouble * n.toDouble)
    var mu1 = math.round(sxm.toDouble / n - math.sqrt(s2))
    var mu2 = math.round(sxm.toDouble / n + math.sqrt(s2))
    val (mu1i, mu2i) = (mu1, mu2)
    var n1 = 0L
    (1 to 2).foreach { _ =>
      n1 = 0L; var sxr1 = 0L
      xs.foreach { xm =>
        val d = ((xm - mu1).toDouble * (xm - mu1) -
          (xm - mu2).toDouble * (xm - mu2)) / (2 * s2)
        val r1 = math.round(1000000 / (1 + math.exp(d)))
        n1 += r1; sxr1 += r1 * xm
      }
      mu1 = Math.floorDiv(sxr1, n1)
      mu2 = Math.floorDiv(1000000L * sxm - sxr1, 1000000L * n - n1)
    }
    assert(got.getLong(0) === n)
    assert((got.getLong(1), got.getLong(2)) === ((mu1i, mu2i)))
    assert((got.getLong(3), got.getLong(4)) === ((mu1, mu2)))
    assert(got.getLong(5) === Math.floorDiv(n1, n))
    assert(got.getLong(3) < got.getLong(4), "components must stay ordered")
    assert(got.getLong(5) > 0L && got.getLong(5) < 1000000L)
  }

  test("q297: an EM iteration is one aggregate over the scan — no window, no shuffle join") {
    val plan = planOf("q297_gmm_em")
    assert(!plan.contains("Window ["))
    assert(!plan.contains("SortMergeJoin"))
  }

  // ---- q298 uplift/Qini ----

  test("q298: deciles, arm cells, uplift and Qini replay a driver computation") {
    val rows = run("q298_uplift_qini").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L to 9L))
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = ev.groupBy(_._1).map { case (u, xs) =>
      (u, xs.length.toLong, if (xs.exists(_._2 == "purchase")) 1L else 0L,
        md5Long(s"$u|did") % 2L)
    }.toSeq
    val nu = users.size.toLong
    val ranked = users.sortBy(x => (-x._2, x._1)).zipWithIndex
    val cells = ranked.groupBy { case (_, i) => i.toLong * 10 / nu }
      .map { case (d, xs) =>
        val t = xs.filter(_._1._4 == 1L); val c = xs.filter(_._1._4 == 0L)
        d -> (t.size.toLong, c.size.toLong, t.map(_._1._3).sum, c.map(_._1._3).sum)
      }
    rows.foreach { case (d, nt, nc, ct, cc, uplift, qini) =>
      val w = cells(d)
      assert((nt, nc, ct, cc) === w, s"decile $d cells")
      if (nt == 0L || nc == 0L) assert(uplift.isEmpty, s"decile $d: empty arm → NULL")
      else {
        val wantU = math.round(1000 * (ct.toDouble / nt - cc.toDouble / nc))
        assert(math.abs(uplift.get - wantU) <= 1L)
      }
      val cum = (0L to d).map(cells)
      val (ntc, ncc, ctc, ccc) =
        (cum.map(_._1).sum, cum.map(_._2).sum, cum.map(_._3).sum, cum.map(_._4).sum)
      if (ncc == 0L) assert(qini.isEmpty)
      else {
        val wantQ = math.round(1000 * (ctc.toDouble - ccc.toDouble * ntc / ncc))
        assert(math.abs(qini.get - wantQ) <= 1L, s"decile $d qini")
      }
    }
  }

  test("q298: decile ranks come from the prefix primitive — no row-level window") {
    assert(!planOf("q298_uplift_qini").contains("Window ["))
  }

  // ---- q299 MASE backtest ----

  test("q299: gapfilled seasonal-naive backtest replays on the driver") {
    val got = run("q299_mase_backtest").collect().head
    val days = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("CAST(to_date(ts) AS STRING) AS day").collect()
      .map(r => java.time.LocalDate.parse(r.getString(0)))
    val d0 = days.min; val d1 = days.max
    val counts = days.groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1
    def c(d: java.time.LocalDate): Long = counts.getOrElse(d, 0L)
    val evalDays = (0L until nDays).map(d0.plusDays)
      .filter(d => !d.minusDays(7).isBefore(d0) && !d.minusDays(1).isBefore(d0))
    val sae7 = evalDays.map(d => math.abs(c(d) - c(d.minusDays(7)))).sum
    val sae1 = evalDays.map(d => math.abs(c(d) - c(d.minusDays(1)))).sum
    assert(got.getLong(0) === nDays)
    assert(got.getLong(1) === evalDays.size.toLong)
    assert(got.getLong(2) === sae7)
    assert(got.getLong(3) === sae1)
    assert(math.abs(got.getLong(6) -
      math.round(1000 * sae7.toDouble / sae1)) <= 1L)
  }

  test("q299: lags are equi-joins over the bounded calendar — no window") {
    assert(!planOf("q299_mase_backtest").contains("Window ["))
  }

  // ---- q300 nation trade flow ----

  test("q300: revenue mass conservation and nation-name fidelity") {
    val df = run("q300_nation_trade_flow")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every item lands in exactly one (supp, cust, year) cell
    val items = rows.map(_.getLong(4)).sum
    assert(items === spark.read.parquet(s"$sf0001/lineitem.parquet").count())
    // every cell's revenue equals a driver replay of the exact fix-4 sums
    val li = spark.sql(
      s"""SELECT ns.n_name AS sn, nc.n_name AS cn, year(o.o_orderdate) AS y,
         |       CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT) AS r
         |FROM parquet.`$sf0001/lineitem.parquet` l
         |JOIN parquet.`$sf0001/orders.parquet` o ON l.l_orderkey = o.o_orderkey
         |JOIN parquet.`$sf0001/customer.parquet` c ON o.o_custkey = c.c_custkey
         |JOIN parquet.`$sf0001/nation.parquet` nc ON c.c_nationkey = nc.n_nationkey
         |JOIN parquet.`$sf0001/supplier.parquet` s ON l.l_suppkey = s.s_suppkey
         |JOIN parquet.`$sf0001/nation.parquet` ns ON s.s_nationkey = ns.n_nationkey
         |""".stripMargin).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3)))
    val cells = li.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getInt(2))
      // revenue_cents = HALF_UP(fix4 sum / 100) done in integer space
      val want = (cells(k) + 50L) / 100L
      assert(r.getLong(3) === want, s"cell $k")
      assert(r.getLong(4) === li.count(_._1 == k).toLong)
    }
  }

  test("q300: both nation dims broadcast — no shuffle for the 25-row sides") {
    val plan = planOf("q300_nation_trade_flow")
    assert(plan.contains("BroadcastHashJoin"), "nation joins must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- q301 readability ----

  test("q301: counts and grade replay on crafted rows and real docs") {
    val rows = run("q301_readability").collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length === docs.size)
    rows.take(20).foreach { r =>
      val text = docs(r.getLong(0))
      val words = text.split("\\s+").count(_.nonEmpty).toLong
      val sents = math.max("[.!?]+".r.findAllIn(text).length.toLong, 1L)
      val syll = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      assert(r.getLong(1) === words)
      assert(r.getLong(2) === sents)
      assert(r.getLong(3) === syll)
      if (words == 0) assert(r.isNullAt(4))
      else {
        val fk = 0.39 * words / sents + 11.8 * syll / words - 15.59
        assert(math.abs(r.getLong(4) - math.round(1000 * fk)) <= 1L)
      }
    }
  }

  test("q301: one narrow scan — no join, no shuffle aggregate") {
    val plan = planOf("q301_readability")
    assert(!plan.contains("Join"), "readability must not join")
  }

  // ---- q302 time-to-convert ----

  test("q302: deltas replay a driver first-signup → first-purchase scan") {
    val got = run("q302_time_to_convert").collect().head
    val ev = graft.tables.Tables.events(spark, sf0001)
      .selectExpr("user_id", "event_type", "ts div 1000 AS tus").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val su = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val deltas = ev.filter(_._2 == "purchase")
      .flatMap { case (u, _, t) => su.get(u).filter(t >= _).map(s2 => (u, t, s2)) }
      .groupBy(_._1)
      .map { case (_, xs) => val m = xs.minBy(_._2); (m._2 - m._3) / 1000000L }
      .toSeq.sorted
    assert(deltas.nonEmpty, "fixture should contain conversions")
    assert(got.getLong(0) === deltas.size.toLong)
    val mean = deltas.sum.toDouble / deltas.size
    assert(math.abs(got.getLong(1) - math.round(1000 * mean)) <= 1L)
    def pctl(p: Double): Double = {
      val pos = p * (deltas.size - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lo == hi) deltas(lo).toDouble
      else (hi - pos) * deltas(lo) + (pos - lo) * deltas(hi)
    }
    assert(math.abs(got.getLong(2) - math.round(1000 * pctl(0.5))) <= 1L)
    assert(math.abs(got.getLong(3) - math.round(1000 * pctl(0.9))) <= 1L)
  }

  // ---- q303 MDE ----

  test("q303: MDE replays a driver moment computation and scales like 1/√n") {
    val got = run("q303_mde_power").collect().head
    val ev = graft.tables.Tables.events(spark, sf0001)
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val t = ev.filter(e => md5Long(s"${e._1}|did") % 2L == 1L).map(_._2)
    val c = ev.filter(e => md5Long(s"${e._1}|did") % 2L == 0L).map(_._2)
    assert(got.getLong(0) === t.length.toLong)
    assert(got.getLong(1) === c.length.toLong)
    def sq(xs: Array[Long]) = xs.map(x => x.toDouble * x).sum
    val vp = ((t.length * sq(t) - t.sum.toDouble * t.sum) / t.length +
      (c.length * sq(c) - c.sum.toDouble * c.sum) / c.length) /
      (t.length + c.length - 2)
    val mde = 2.8016 * math.sqrt(vp * (1.0 / t.length + 1.0 / c.length))
    assert(math.abs(got.getLong(5) - math.round(1000 * mde)) <= 1L)
    assert(got.getLong(5) > 0L)
    // relative MDE consistent with the absolute one
    val pooledMean = (t.sum + c.sum).toDouble / (t.length + c.length)
    assert(math.abs(got.getLong(6) - math.round(10000 * mde / pooledMean)) <= 1L)
  }

  // ---- q304 FK audit ----

  test("q304: all 7 edges report, the generated star schema is orphan-free, and a planted orphan is caught") {
    val rows = run("q304_fk_audit").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.size === 7)
    rows.foreach { case (e, (nChild, nOrphan, nOrphanKeys, nNull)) =>
      assert(nChild > 0L, s"$e: child table must be non-empty")
      assert(nOrphan === 0L, s"$e: generated data must be referentially clean")
      assert(nOrphanKeys === 0L)
      assert(nNull === 0L)
    }
    // negative control: the same anti-join shape catches a planted orphan
    import spark.implicits._
    val child = Seq(1L, 2L, 99L).toDF("k")
    val parent = Seq(1L, 2L).toDF("k")
    val orphans = child.join(parent, Seq("k"), "left_anti").count()
    assert(orphans === 1L)
  }

  test("q304: dims broadcast into the anti-joins") {
    val plan = planOf("q304_fk_audit")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("LeftAnti"))
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- q305 Welch ----

  test("q305: every source pair reports, and t/df replay on the driver") {
    val rows = run("q305_welch_ttest").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySource = docs.groupBy(_._1).map { case (s2, xs) => s2 -> xs.map(_._2) }
    val sources = bySource.keys.toSeq.sorted
    assert(rows.size === sources.size * (sources.size - 1) / 2)
    for (i <- sources.indices; j <- (i + 1) until sources.size) {
      val (sa, sb) = (sources(i), sources(j))
      val (xa, xb) = (bySource(sa), bySource(sb))
      def mv(xs: Iterable[Long]): (Double, Double, Int) = {
        val n = xs.size; val sx = xs.map(BigInt(_)).sum.toDouble
        val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum.toDouble
        (sx / n, (n * sxx - sx * sx) / (n.toDouble * (n - 1)), n)
      }
      val (ma, va2, na) = mv(xa); val (mb, vb2, nb) = mv(xb)
      val se2 = va2 / na + vb2 / nb
      val t = (ma - mb) / math.sqrt(se2)
      val df = se2 * se2 /
        ((va2 / na) * (va2 / na) / (na - 1) + (vb2 / nb) * (vb2 / nb) / (nb - 1))
      val got = rows((sa, sb))
      assert(got._1 === na.toLong && got._2 === nb.toLong)
      assert(math.abs(got._3 - math.round(1000 * t)) <= 1L, s"t for ($sa,$sb)")
      assert(math.abs(got._4 - math.round(1000 * df)) <= 1L, s"df for ($sa,$sb)")
      // Welch df is always between min(n)-1 and n_a+n_b-2
      assert(got._4 >= 1000L * (math.min(na, nb) - 1) - 1L)
      assert(got._4 <= 1000L * (na + nb - 2) + 1L)
    }
  }

  // ---- q306 dedup method agreement ----

  test("q306: both methods catch every planted twin; identities and overlap formula hold") {
    val r = run("q306_dedup_agreement").collect().head
    val (nm, nw, nb, onlyM, onlyW, bp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nm === nb + onlyM)
    assert(nw === nb + onlyW)
    assert(nb >= 10L, "the 10 planted twins must be flagged by BOTH methods")
    assert(bp === 10000L * nb / math.max(nm + nw - nb, 1L))
    assert(bp > 0L && bp <= 10000L)
    // the planted twin pairs specifically appear in both pair sets
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")
    val twins = docs.filter(col("doc_id") < 10)
      .selectExpr("doc_id + 1000000 AS doc_id", "concat(text, ' graftagreetail') AS text")
    val uni = docs.union(twins)
    val mhPairs = graft.dedup.Dedup.nearDupPairs(uni, threshold = 0.7)
      .select("id_a", "id_b").collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
    (0L until 10L).foreach { d =>
      assert(mhPairs.contains((d, d + 1000000L)), s"twin $d missing from minhash pairs")
    }
  }

  // ---- q307 bloom sizing ----

  test("q307: m/k follow the 1% FPR formula from exact NDVs") {
    val rows = run("q307_bloom_sizing").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val (n, ndv, m, kib, k) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ndv > 0L && ndv <= n)
      assert(m === math.ceil(ndv * 9.585).toLong, r.getString(0))
      assert(kib === m / 8192)
      assert(k === 7L)
    }
    val byName = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    // unique-key columns: NDV == row count
    val docs = rows.find(_.getString(0) == "documents.doc_id").get
    assert(docs.getLong(1) === docs.getLong(2))
    // FK columns have fewer distincts than rows
    assert(byName("lineitem.l_suppkey") < byName("lineitem.l_orderkey"))
  }

  // ---- q308 normalization gain ----

  test("q308: the 60 planted variants fold into 30 canonical keys; raw hashing sees none of it") {
    val r = run("q308_norm_dedup_gain").collect().head
    val (n, rawSurplus, normSurplus, gain) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val base = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(n === base + 60L)
    // variants are raw-distinct from everything (upper/double-space/accent)
    assert(rawSurplus === 0L)
    // each of the 30 (v1, v2) pairs collapses to ONE canonical key
    assert(normSurplus >= 30L)
    assert(gain === normSurplus - rawSurplus)
  }

  test("q308: the chain canonicalizes case, whitespace, NFC form, and accents together") {
    import spark.implicits._
    val df = Seq(
      ("Foo  Bar café", "foo bar CAFÉ"),
      ("  x Y ", "x y")).toDF("a", "b")
    def chain(c: org.apache.spark.sql.Column) =
      trim(regexp_replace(
        graft.functions.TextNormFunctions.graftStripAccents(
          graft.functions.TextNormFunctions.graftNfc(lower(c))), "\\s+", " "))
    df.select(chain(col("a")).as("ca"), chain(col("b")).as("cb")).collect()
      .foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  // ---- q309 burst values ----

  test("q309: ratios replay a driver contingency recompute and the cut is the global top-20") {
    val rows = run("q309_burst_values").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 20)
    val ev = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("CAST(to_date(ts) AS STRING) AS day",
        "CAST(get_json_object(props, '$.k') AS BIGINT) AS kv").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val dk = ev.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val dt = dk.groupBy(_._1._1).map { case (d, xs) => d -> xs.values.sum }
    val kt = dk.groupBy(_._1._2).map { case (k, xs) => k -> xs.values.sum }
    val grand = dk.values.sum
    val all = dk.toSeq.filter(_._2 >= 3L).map { case ((d, k), c) =>
      val ratio = 10000L * c * grand / (dt(d) * kt(k))
      ((d, k), c, 1000L * dt(d) * kt(k) / grand, ratio)
    }
    val want = all.sortBy(x => (-x._4, x._1._1, x._1._2)).take(20)
    assert(rows.length === math.min(20, all.length))
    rows.zip(want).foreach { case ((d, k, c, e, rb), ((wd, wk), wc, we, wr)) =>
      assert((d, k, c, e, rb) === ((wd, wk, wc, we, wr)))
    }
  }

  // ---- q310 DAU/MAU ----

  test("q310: stickiness replays a driver distinct-count rollup; ratio bounded by (1/days, 1]") {
    val rows = run("q310_dau_mau").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val ev = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("CAST(to_date(ts) AS STRING) AS day", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byMonth = ev.groupBy(_._1.substring(0, 7))
    rows.foreach { case (m, nDays, dauSum, mau, dauAvg, stick) =>
      val xs = byMonth(m.substring(0, 7))
      val days = xs.map(_._1).distinct
      assert(nDays === days.length.toLong)
      val wantDau = days.map(d => xs.filter(_._1 == d).map(_._2).distinct.length.toLong).sum
      assert(dauSum === wantDau)
      assert(mau === xs.map(_._2).distinct.length.toLong)
      assert(dauAvg === 1000L * dauSum / nDays)
      assert(stick === 10000L * dauSum / (nDays * mau))
      assert(stick > 10000L / (nDays * math.max(1L, nDays)) && stick <= 10000L)
    }
  }

  // ---- q311 new vs returning ----

  test("q311: identities hold — new+returning=active per day, Σnew = total users, day one is all-new") {
    val rows = run("q311_new_returning").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (d, act, nw, ret) =>
      assert(act === nw + ret, s"day $d")
      assert(nw >= 0L && ret >= 0L)
    }
    val totalUsers = graft.tables.Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum === totalUsers, "every user is new exactly once")
    assert(rows.head._4 === 0L, "nobody can return on the first observed day")
  }

  // ---- q312 RFM ----

  test("q312: segment rollup conserves customers and money; codes are valid 111..555") {
    val rows = run("q312_rfm_segments").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (code, _, _) =>
      val (r, f, m) = (code / 100, (code / 10) % 10, code % 10)
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5, s"code $code")
    }
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val nCust = orders.select("o_custkey").distinct().count()
    assert(rows.map(_._2).sum === nCust)
    val totalCents = orders
      .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS c")
      .agg(sum("c")).head.getLong(0)
    assert(rows.map(_._3).sum === totalCents)
    // quintiles are equi-depth: each R digit holds ~n/5 customers
    val byR = rows.groupBy(_._1 / 100).view.mapValues(_.map(_._2).sum).toMap
    assert(byR.keySet === Set(1L, 2L, 3L, 4L, 5L))
    byR.values.foreach(v => assert(math.abs(v - nCust / 5) <= nCust / 5 / 2 + 1))
  }

  test("q312: ranks come from the prefix primitive — no single-partition window") {
    assert(!planOf("q312_rfm_segments").contains("Window ["))
  }

  // ---- q313 Pareto coverage ----

  test("q313: coverage points replay a driver sort; thresholds are monotone") {
    val rows = run("q313_pareto_coverage").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(50, 80, 90))
    val cents = spark.read.parquet(s"$sf0001/orders.parquet")
      .selectExpr("o_custkey AS ck", "CAST(round(o_totalprice * 100) AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, xs) => (k, xs.map(_._2).sum) }.toSeq
    val sorted = cents.sortBy(x => (-x._2, x._1)).map(_._2)
    val total = sorted.sum
    def need(pct: Int): Long = {
      var cum = 0L; var k = 0L
      sorted.takeWhile { c => val short = cum * 100 < pct.toLong * total; cum += c; short }
        .foreach(_ => k += 1)
      k
    }
    rows.foreach { case (pct, n, bp) =>
      assert(n === need(pct), s"pct $pct")
      assert(bp === 10000L * n / cents.size)
    }
    assert(rows(0)._2 <= rows(1)._2 && rows(1)._2 <= rows(2)._2)
    // concentration exists: 50% of revenue takes < 50% of customers
    assert(rows(0)._3 < 5000L)
  }

  test("q313: the running mass is the prefix primitive — no single-partition window") {
    assert(!planOf("q313_pareto_coverage").contains("Window ["))
  }

  // ---- q314 ship lag ----

  test("q314: lags replay a driver join; percentiles bracket the mean sanely") {
    val rows = run("q314_ship_lag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val li = spark.sql(
      s"""SELECT o_orderpriority AS pri,
         |  CAST(datediff(to_date(l_shipdate), to_date(o_orderdate)) AS BIGINT) AS lag
         |FROM parquet.`$sf0001/lineitem.parquet`
         |JOIN parquet.`$sf0001/orders.parquet` ON l_orderkey = o_orderkey""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byPri = li.groupBy(_._1)
    assert(rows.map(_._1).toSet === byPri.keySet)
    rows.foreach { case (pri, n, meanMilli, p50, p90, maxD) =>
      val lags = byPri(pri).map(_._2).sorted
      assert(n === lags.length.toLong)
      assert(maxD === lags.max)
      assert(math.abs(meanMilli -
        math.round(1000.0 * lags.sum / lags.length)) <= 1L)
      def pc(p: Double): Double = {
        val pos = p * (lags.length - 1)
        val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
        if (lo == hi) lags(lo).toDouble
        else (hi - pos) * lags(lo) + (pos - lo) * lags(hi)
      }
      assert(math.abs(p50 - math.round(1000 * pc(0.5))) <= 1L)
      assert(math.abs(p90 - math.round(1000 * pc(0.9))) <= 1L)
      assert(p50 <= p90 && p90 <= 1000L * maxD + 1L)
    }
  }

  // ---- q315 Simpson's audit ----

  test("q315: signs and correlations replay exact integer moments; pooled row present") {
    val rows = run("q315_simpsons").collect()
    val byGrp = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toMap
    assert(byGrp.contains("ALL"))
    assert(byGrp("ALL")._4 === 0L, "the pooled row cannot flip vs itself")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_returnflag AS g", "CAST(round(l_quantity) AS BIGINT) AS x",
        "CAST(round(l_extendedprice) AS BIGINT) AS y").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def moments(xs: Seq[(Long, Long)]): (Long, Long, Long, Long, Long, Long) = {
      val n = xs.size.toLong
      (n, xs.map(_._1).sum, xs.map(_._2).sum,
        xs.map(v => v._1 * v._1).sum, xs.map(v => v._1 * v._2).sum,
        xs.map(v => v._2 * v._2).sum)
    }
    def covSign(m: (Long, Long, Long, Long, Long, Long)): Long = {
      val c = m._1 * m._5 - m._2 * m._3
      if (c > 0) 1L else if (c < 0) -1L else 0L
    }
    val pooled = moments(li.map(v => (v._2, v._3)))
    assert(byGrp("ALL")._2 === covSign(pooled))
    li.groupBy(_._1).foreach { case (g, xs) =>
      val m = moments(xs.map(v => (v._2, v._3)))
      val got = byGrp(g)
      assert(got._1 === m._1)
      assert(got._2 === covSign(m), s"group $g sign")
      val den = math.sqrt((m._1 * m._4 - m._2 * m._2).toDouble *
        (m._1 * m._6 - m._3 * m._3).toDouble)
      if (den > 0) {
        val want = math.round(1000 * (m._1 * m._5 - m._2 * m._3).toDouble / den)
        assert(math.abs(got._3.get - want) <= 1L, s"group $g corr")
      }
      assert(got._4 === (if (covSign(m) != covSign(pooled)) 1L else 0L))
    }
  }

  // ---- q316 mix decomposition ----

  test("q316: the Oaxaca identity holds — Σmix + Σrate ≈ Δ overall mean") {
    val rows = run("q316_mix_decomposition").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val ev = graft.tables.Tables.events(spark, sf0001)
      .selectExpr("event_type AS t", "ts div 1000 AS tus",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = ev.map(_._2).min; val hi = ev.map(_._2).max
    val bd = lo + (hi - lo) / 2
    val h1 = ev.filter(_._2 < bd); val h2 = ev.filter(_._2 >= bd)
    def mean(xs: Array[(String, Long, Long)]) =
      xs.map(_._3).sum.toDouble / xs.length
    val delta = mean(h2) - mean(h1)
    val sumTerms = rows.map(r => (r._6 + r._7).toDouble / 1000000).sum
    // per-type micro rounding accumulates ≤ 0.5e-6 per term
    assert(math.abs(sumTerms - delta) <= rows.length * 1e-6 + 1e-3,
      s"identity: terms $sumTerms vs delta $delta")
    // cell counts replay
    rows.foreach { case (t, n1, n2, _, _, _, _) =>
      assert(n1 === h1.count(_._1 == t).toLong)
      assert(n2 === h2.count(_._1 == t).toLong)
    }
  }

  // ---- q317 ratio-metric CI ----

  test("q317: ratio, delta-method SE, and z replay a driver user-level computation") {
    val got = run("q317_ratio_metric_ci").collect().head
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val users = ev.groupBy(_._1).map { case (u, xs) =>
      (md5Long(s"$u|did") % 2L, xs.count(_._2 == "purchase").toLong, xs.length.toLong)
    }.toSeq
    def armStats(t: Long): (Long, Double, Double) = {
      val xs = users.filter(_._1 == t)
      val n = xs.size
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val r = sx.toDouble / sy
      val vx = (n.toDouble * xs.map(v => v._2 * v._2).sum - sx.toDouble * sx) / (n.toDouble * (n - 1))
      val vy = (n.toDouble * xs.map(v => v._3 * v._3).sum - sy.toDouble * sy) / (n.toDouble * (n - 1))
      val vxy = (n.toDouble * xs.map(v => v._2 * v._3).sum - sx.toDouble * sy) / (n.toDouble * (n - 1))
      val ybar = sy.toDouble / n
      (n.toLong, r, (vx - 2 * r * vxy + r * r * vy) / (n * ybar * ybar))
    }
    val (nt, rt, vt) = armStats(1L); val (nc, rc, vc) = armStats(0L)
    assert(got.getLong(0) === nt && got.getLong(1) === nc)
    assert(math.abs(got.getLong(2) - math.round(1e6 * rt)) <= 1L)
    assert(math.abs(got.getLong(3) - math.round(1e6 * rc)) <= 1L)
    val se = math.sqrt(vt + vc)
    assert(math.abs(got.getLong(5) - math.round(1e6 * se)) <= 1L)
    assert(math.abs(got.getLong(6) - math.round(1000 * (rt - rc) / se)) <= 1L)
    assert(got.getLong(5) > 0L, "delta-method SE must be positive")
  }

  // ---- q318 uplift trend ----

  test("q318: daily gaps and the OLS slope replay on the driver") {
    val got = run("q318_uplift_trend").collect().head
    val ev = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("CAST(to_date(ts) AS STRING) AS day", "user_id",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mind = ev.map(_._1).min
    val pts = ev.groupBy(_._1).toSeq.flatMap { case (d, xs) =>
      val t = xs.filter(e => md5Long(s"${e._2}|did") % 2L == 1L)
      val c = xs.filter(e => md5Long(s"${e._2}|did") % 2L == 0L)
      if (t.isEmpty || c.isEmpty) None
      else {
        val i = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(mind), java.time.LocalDate.parse(d))
        val g = 1000 * (t.map(_._3).sum.toDouble / t.length -
          c.map(_._3).sum.toDouble / c.length)
        // SQL round() is half-AWAY-FROM-ZERO; math.round is floor(x+.5),
        // which differs on negative exact halves
        val gap = if (g >= 0) math.round(g) else -math.round(-g)
        Some((i, gap))
      }
    }
    assert(got.getLong(0) === pts.size.toLong)
    assert(got.getLong(1) === pts.map(_._2).sum)
    val n = pts.size.toDouble
    val (si, sd) = (pts.map(_._1).sum.toDouble, pts.map(_._2).sum.toDouble)
    val sii = pts.map(p => p._1 * p._1).sum.toDouble
    val sid = pts.map(p => p._1 * p._2).sum.toDouble
    val slope = (n * sid - si * sd) / (n * sii - si * si)
    assert(math.abs(got.getLong(3) - math.round(1000 * slope)) <= 1L)
  }

  // ---- q319 IVF tuning ----

  test("q319: recall is monotone in nprobe and full-probe is near-exhaustive") {
    val rows = run("q319_ivf_tuning").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8))
    rows.foreach { case (_, hits, bp) =>
      assert(bp === hits * 10000 / 50)
      assert(hits >= 0L && hits <= 50L)
    }
    rows.sliding(2).foreach { case Array((_, _, a), (_, _, b)) =>
      assert(b >= a, "probing more buckets can only add candidates")
    }
    // 8 of 16 buckets probed must beat 1 of 16 on this corpus
    assert(rows.last._3 > rows.head._3)
    // md5 buckets aren't geometric, so the 150-vector sf0.001 fixture
    // caps out around 70% at nprobe=8 — pin a floor, not perfection
    assert(rows.last._3 >= 5000L, "half the buckets should recover ≥50%")
  }

  // ---- q320 EB shrinkage ----

  test("q320: shrinkage replays a driver MOM prior and pulls small sources harder") {
    val rows = run("q320_eb_shrunk_rates").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("source", "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS keep")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val g = docs.groupBy(_._1).map { case (s2, xs) =>
      (s2, xs.length.toLong, xs.map(_._2.toLong).sum)
    }.toSeq.sortBy(_._1)
    val rates = g.map(v => v._3.toDouble / v._2)
    var sr = 0.0; var srr = 0.0
    rates.foreach { r => sr += r }; rates.foreach { r => srr += r * r }
    val k = g.size.toDouble
    val m = sr / k; val v = srr / k - m * m
    val common = m * (1 - m) / v - 1
    val (al, be) = if (v <= 0 || common <= 0) (1.0, 1.0) else (m * common, (1 - m) * common)
    val byS = rows.map(r => r._1 -> r).toMap
    g.foreach { case (s2, n, x) =>
      val got = byS(s2)
      assert(got._2 === n && got._3 === x)
      assert(math.abs(got._4 - math.round(1000.0 * x / n)) <= 1L)
      val shrunk = 1000 * (x + al) / (n + al + be)
      assert(math.abs(got._5 - math.round(shrunk)) <= 1L, s"source $s2")
      // shrinkage moves every source TOWARD the prior mean
      val prior = al / (al + be)
      val raw = x.toDouble / n
      if (raw > prior)
        assert(got._5 <= got._4 + 1L, s"$s2: above-prior source must shrink down")
      else if (raw < prior)
        assert(got._5 >= got._4 - 1L, s"$s2: below-prior source must shrink up")
    }
  }

  // ---- q321 Mantel-Haenszel ----

  test("q321: cells, per-stratum ORs, and the MH pool replay on the driver") {
    val rows = run("q321_mantel_haenszel").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(rows.contains("ALL(MH)"))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("source", "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS e",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val strata = docs.groupBy(_._1).map { case (s2, xs) =>
      s2 -> (xs.count(v => v._2 == 1 && v._3 == 1).toLong,
        xs.count(v => v._2 == 1 && v._3 == 0).toLong,
        xs.count(v => v._2 == 0 && v._3 == 1).toLong,
        xs.count(v => v._2 == 0 && v._3 == 0).toLong)
    }
    strata.foreach { case (s2, (a, b, c, d)) =>
      val got = rows(s2)
      assert((got._1, got._2, got._3, got._4) === ((a, b, c, d)), s"stratum $s2")
      if (b * c == 0) assert(got._5.isEmpty)
      else assert(math.abs(got._5.get -
        math.round(1000.0 * a * d / (b.toDouble * c))) <= 1L)
    }
    var num = 0.0; var den = 0.0
    strata.toSeq.sortBy(_._1).foreach { case (_, (a, b, c, d)) =>
      val n = (a + b + c + d).toDouble
      num += a.toDouble * d / n; den += b.toDouble * c / n
    }
    val pooled = rows("ALL(MH)")
    assert((pooled._1, pooled._2, pooled._3, pooled._4) ===
      ((strata.values.map(_._1).sum, strata.values.map(_._2).sum,
        strata.values.map(_._3).sum, strata.values.map(_._4).sum)))
    if (den == 0) assert(pooled._5.isEmpty)
    else assert(math.abs(pooled._5.get - math.round(1000 * num / den)) <= 1L)
  }

  // ---- q322 dow index ----

  test("q322: indices are exact integers, mass-weighted-average to 10000 bp, dow matches the calendar") {
    val rows = run("q322_dow_index").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0L && r._1 <= 6L))
    val nn = rows.map(_._2).sum; val ss = rows.map(_._3).sum
    rows.foreach { case (_, n, s2, bp) =>
      assert(bp === 10000L * s2 * nn / (n * ss))
    }
    // driver dow replay on a sample: 1970-01-05 was a Monday → dow 0
    val ev = graft.tables.Tables.eventsTs(spark, sf0001)
      .selectExpr("CAST(to_date(ts) AS STRING) AS day").limit(50).collect()
      .map(r => java.time.LocalDate.parse(r.getString(0)))
    ev.foreach { d =>
      val want = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(1970, 1, 5), d) % 7
      assert(want === (d.getDayOfWeek.getValue - 1).toLong,
        "mod-7 arithmetic must equal ISO Monday=0 day-of-week")
    }
  }
}
