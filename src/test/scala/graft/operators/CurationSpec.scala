package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-6 curation operators (q237–q240): semantic contracts on the
  * planted fixtures plus the plan shapes that must survive 100×.
  */
class CurationSpec extends SparkSpec {

  private def run(name: String, dir: String = sf0001) =
    graft.SparkEntry.queries(name)(spark, dir)

  private def planOf(name: String): String =
    run(name).queryExecution.executedPlan.toString

  // ---- q238 record linkage: semantics ----

  test("q238: every planted dupe pair is recovered with the exact FS score") {
    val rows = run("q238_record_linkage")
      .filter(col("id_b") >= 1000000L && col("id_a") === col("id_b") - 1000000L)
      .select("id_a", "score_milli", "decision")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // 60 planted dupes: name lev=1 (+5000), bal drift 5¢ (+3000),
    // segment kept (+1500) unless custkey % 3 == 0 (UNKNOWN, −2500)
    assert(rows.size === 60, s"expected all 60 planted pairs, got ${rows.size}")
    rows.foreach { case (k, (score, dec)) =>
      if (k % 3 == 0) assert(score == 5500L && dec == "possible",
        s"custkey $k: segment-lost dupe must score 5500/possible, got $score/$dec")
      else assert(score == 9500L && dec == "match",
        s"custkey $k: clean dupe must score 9500/match, got $score/$dec")
    }
  }

  test("q238: a dupe whose balance crosses the kilobucket still links via the name-suffix block") {
    // the two blocking passes are a union: drop pass 1 mentally — the
    // name suffix is untouched by the typo, so every planted pair is
    // reachable through block 2 alone. Assert the weaker union property
    // actually holds on data: no planted pair is missing even where the
    // +5¢ drift crosses a 10-dollar... (kilobucket = $1000) boundary.
    val u = graft.tables.Tables.customer(spark, sf0001)
      .filter(col("c_custkey") < 60)
      .select(col("c_custkey").as("k"),
        (round(col("c_acctbal") * 100).cast("long")).as("bal_c"))
      .withColumn("crosses",
        expr("(bal_c + 100000) div 100000") =!=
          expr("(bal_c + 5 + 100000) div 100000"))
    val crossing = u.filter(col("crosses")).select("k")
      .collect().map(_.getLong(0)).toSet
    val found = run("q238_record_linkage")
      .filter(col("id_b") >= 1000000L)
      .select((col("id_b") - 1000000L).as("k"))
      .collect().map(_.getLong(0)).toSet
    crossing.foreach(k => assert(found.contains(k),
      s"custkey $k crossed the balance block but must link via name block"))
  }

  test("q238: plan stays equi-join — no product, no unguarded block") {
    val plan = planOf("q238_record_linkage")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"blocked linkage must never plan a product join:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"live-block cap must gate pairs via a semi-join:\n$plan")
  }

  // ---- q237 Zipf fit: scale shape + fixture sanity ----

  test("q237: no single-partition window — ranking is the Scale primitive") {
    val plan = planOf("q237_zipf_fit")
    assert(!plan.contains("Window"),
      s"vocabulary ranking must use globalRank, not a global window:\n$plan")
  }

  test("q237: alpha is positive and the top token matches a direct count") {
    val row = run("q237_zipf_fit").collect().head
    val alpha = row.getAs[Long]("alpha_milli")
    assert(alpha > 0, s"Zipf alpha must be positive, got $alpha")
    val top = graft.tables.Tables.documents(spark, sf0001)
      .select(explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("tok"))
      .groupBy("tok").count().orderBy(col("count").desc, col("tok"))
      .limit(1).collect().head
    assert(row.getAs[String]("top_token") == top.getString(0))
    assert(row.getAs[Long]("top_cnt") == top.getLong(1))
  }

  // ---- q239 char-LM: broadcast contract + smoothing floor ----

  test("q239: the trained LM joins as a broadcast (corpus never shuffles for it)") {
    val plan = planOf("q239_charlm_perplexity")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-bounded LM table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no product joins in the scoring path:\n$plan")
  }

  test("q239: cross-entropy is bounded below by the best bigram's smoothed logprob") {
    // every per-bigram logprob ≤ ln(max smoothed p) < 0, so
    // xent_micro ≥ −1e6·ln(max p) > 0 for every doc
    val xs = run("q239_charlm_perplexity").select("xent_micro")
      .collect().map(_.getLong(0))
    assert(xs.nonEmpty && xs.forall(_ > 0),
      "cross-entropy must be strictly positive for every scored doc")
  }

  // ---- q240 Good–Turing: mass identities ----

  test("q240: p0 equals singleton trigram share and r* stays near r for the body") {
    val rows = run("q240_good_turing").collect()
    assert(rows.nonEmpty, "trigram tail must be non-empty")
    val r1 = rows.find(_.getAs[Long]("r") == 1L)
    assert(r1.isDefined, "corpus must have singleton trigrams")
    // recompute p0 directly: Σ r·S(r) telescopes to the trigram total
    val sAll = run("q240_good_turing")
    val p0 = rows.head.getAs[Long]("p0_ppm")
    assert(p0 > 0 && p0 < 1000000, s"p0 out of range: $p0")
    // identity: r_star uses the NEXT bucket — a zero next bucket zeroes it
    rows.foreach { r =>
      if (r.getAs[Long]("s_next") == 0L)
        assert(r.getAs[Long]("r_star_milli") == 0L)
    }
  }

  test("q240: no window, no product — two aggs and a tiny equi-join") {
    val plan = planOf("q240_good_turing")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"S(r) lookup must stay an equi-join over the aggregate:\n$plan")
  }

  // ---- q241 Pareto frontier ----

  test("q241: frontier is a strict staircase and mutually non-dominated") {
    val rows = run("q241_pareto_frontier")
      .select("n_chars", "ttr_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // output is ordered x desc; y must strictly increase along it
    rows.sliding(2).foreach {
      case Array((x1, y1), (x2, y2)) =>
        assert(x1 > x2 && y2 > y1,
          s"($x1,$y1) vs ($x2,$y2): frontier must be strictly monotone")
      case _ =>
    }
    // no pair dominates another
    for (a <- rows; b <- rows if a != b)
      assert(!(a._1 >= b._1 && a._2 >= b._2),
        s"$a dominates $b — not a frontier")
  }

  test("q241: skyline runs on Scale primitives — no single-partition window") {
    val plan = planOf("q241_pareto_frontier")
    assert(!plan.contains("Window"),
      s"exclusive prefix max must be the Scale primitive + rank join:\n$plan")
  }

  // ---- q242 conformal ----

  test("q242: prediction sets are sane — coverage and set size within bounds") {
    val rows = run("q242_conformal").collect()
    assert(rows.map(_.getAs[String]("label")).sorted.toSeq ==
      Seq("en", "other"))
    rows.foreach { r =>
      val cov = r.getAs[Long]("coverage_ppm")
      val sz = r.getAs[Long]("avg_set_size_milli")
      assert(cov >= 0 && cov <= 1000000)
      // avg set size ∈ [0, 2] classes (milli)
      assert(sz >= 0 && sz <= 2000)
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_test"))
    }
  }

  test("q242: thresholds collapse to one broadcast row (no product joins)") {
    val plan = planOf("q242_conformal")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row threshold table must broadcast:\n$plan")
  }

  // ---- q243 DBSCAN ----

  test("dbscanFromPairs: path, triangle, pair, star, singleton topologies") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L, 21L, 22L,
      30L, 40L, 41L, 42L).toDF("vec_id")
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // path of 5
      (10L, 11L),                             // isolated pair
      (20L, 21L), (21L, 22L), (20L, 22L),     // triangle
      (40L, 41L), (40L, 42L)                  // star: hub 40
    ).toDF("id_a", "id_b")
    val got = graft.similarity.Similarity
      .dbscanFromPairs(nodes, pairs, minPts = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    // path: interior core (cluster 2 = min core), endpoints border
    assert(got(2L) == ("core", 2L) && got(3L) == ("core", 2L) &&
      got(4L) == ("core", 2L))
    assert(got(1L) == ("border", 2L) && got(5L) == ("border", 2L))
    // pair of two: degree 1 each, no core neighbor → noise
    assert(got(10L) == ("noise", -1L) && got(11L) == ("noise", -1L))
    // triangle: all degree 2 → all core, one cluster labeled 20
    assert(got(20L) == ("core", 20L) && got(21L) == ("core", 20L) &&
      got(22L) == ("core", 20L))
    // star: hub is an ISOLATED core (no core neighbor) keeping its own
    // id; leaves are borders of it
    assert(got(30L) == ("noise", -1L))
    assert(got(40L) == ("core", 40L))
    assert(got(41L) == ("border", 40L) && got(42L) == ("border", 40L))
  }

  test("q243: planted chains resolve to exactly 3 cores + 2 borders each; naturals noise") {
    val rows = run("q243_dbscan").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    (0 until 5).foreach { c =>
      val ids = (0 until 5).map(i => 2000000L + 10 * c + i)
      val cl = 2000001L + 10 * c // min CORE id of the chain
      assert(rows(ids.head) == ("border", cl) && rows(ids.last) == ("border", cl))
      ids.slice(1, 4).foreach(id => assert(rows(id) == ("core", cl)))
    }
    val naturals = rows.filter(_._1 < 2000000L)
    assert(naturals.values.forall(_ == ("noise", -1L)),
      "no natural embedding sits within eps of another")
  }

  test("q243: candidate generation is the bucket join — no product surface") {
    val plan = planOf("q243_dbscan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"DBSCAN neighbors must come from the banded LSH join:\n$plan")
  }

  // ---- q244 k-center coreset ----

  test("q244: coverage radius is non-increasing and the first pick is the true argmax") {
    val rows = run("q244_kcenter_coreset").collect()
      .sortBy(_.getAs[Int]("step"))
    assert(rows.length == 5)
    assert(rows.head.getAs[Long]("vec_id") == 0L &&
      rows.head.getAs[Long]("maxmin_micro") == 0L)
    val radii = rows.tail.map(_.getAs[Long]("maxmin_micro"))
    radii.sliding(2).foreach {
      case Array(a, b) => assert(b <= a,
        s"greedy maxmin radius must not increase: $a then $b")
      case _ =>
    }
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 5,
      "centers must be distinct")
    // step 1 is the plain farthest point from the seed — recompute
    val seed = graft.tables.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val far = graft.tables.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") > 0)
      .collect().map { r =>
        val e = r.getSeq[Float](1).map(_.toDouble)
        val d = e.zip(seed).foldLeft(0.0) { case (acc, (x, y)) =>
          acc + (x - y) * (x - y)
        }
        (r.getLong(0), math.round(1000000d * d))
      }.maxBy { case (id, d) => (d, -id) }
    assert(rows(1).getAs[Long]("vec_id") == far._1,
      s"step-1 center must be the farthest point ${far._1}")
  }

  // ---- q245 Wasserstein drift ----

  test("q245: W1 is non-negative and bounded by the metric range; all sources present") {
    val rows = run("q245_wasserstein_drift").collect()
    assert(rows.length == 20, s"expected 20 sources, got ${rows.length}")
    val range = graft.tables.Tables.documents(spark, sf0001)
      .agg((max("n_chars") - min("n_chars")).cast("long")).head.getLong(0)
    rows.foreach { r =>
      val w1 = r.getAs[Long]("w1_ppm_chars")
      assert(w1 >= 0 && w1 <= 1000000L * range,
        s"${r.getString(0)}: W1 $w1 outside [0, 1e6·range]")
    }
  }

  test("q245: cumulative windows are per-source partitioned; adjacency is a rank join") {
    val plan = planOf("q245_wasserstein_drift")
    // the only Window is the per-source CDF — partitioned by source
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(source"),
      s"no unpartitioned window allowed:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"1-row totals must broadcast:\n$plan")
  }

  // ---- q246 TextRank ----

  test("q246: exactly 20 keywords, ranks above the teleport floor, centrality ≠ raw frequency") {
    val rows = run("q246_textrank").collect()
    assert(rows.length == 20)
    // every surviving node has co-occurrence edges, so its rank stays
    // above the bare teleport mass
    rows.foreach(r => assert(r.getAs[Long]("rank_micro") >= 150000L))
    // ranking must be by centrality: ties in rank broken by token asc
    val ranks = rows.map(r => (r.getAs[Long]("rank_micro"),
      r.getAs[String]("token")))
    ranks.sliding(2).foreach {
      case Array((r1, t1), (r2, t2)) =>
        assert(r1 > r2 || (r1 == r2 && t1 < t2),
          s"order violated: ($r1,$t1) before ($r2,$t2)")
      case _ =>
    }
  }

  test("q246: graph build is one scan + vocabulary-sized joins — no product") {
    val plan = planOf("q246_textrank")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"co-occurrence graph + PageRank must stay equi-keyed:\n$plan")
  }

  // ---- q247 KMV ----

  test("q247: sketch identities — matches ≤ k, union_est ≥ k−1, exact jaccard in range") {
    val rows = run("q247_kmv_sketch").collect()
    assert(rows.length == 10, "5 sources → 10 pairs")
    rows.foreach { r =>
      val k = r.getAs[Long]("kmin_used")
      assert(k >= 1 && k <= 64)
      assert(r.getAs[Long]("matches") <= k)
      assert(r.getAs[Long]("union_est") >= k - 1,
        "saturated estimator can never fall below k−1")
      val ej = r.getAs[Long]("exact_jacc_milli")
      assert(ej >= 0 && ej <= 1000)
      val je = r.getAs[Long]("jacc_est_milli")
      assert(je >= 0 && je <= 1000)
    }
  }

  // ---- q248 Theil–Sen ----

  test("q248: pair count is the day-pair triangle; slope within the data's range") {
    val r = run("q248_theil_sen").collect().head
    val nd = r.getAs[Long]("n_days")
    assert(r.getAs[Long]("n_pairs") == nd * (nd - 1) / 2)
  }

  test("q248: median pick is a globalRank — no single-partition window") {
    val plan = planOf("q248_theil_sen")
    assert(!plan.contains("Window"),
      s"slope median must be a rank pick over the Scale primitive:\n$plan")
  }

  // ---- q249 Mann–Whitney ----

  test("q249: U identities — u1+u2 = 2·n1·n2, sample sizes complete, effect bounded") {
    val r = run("q249_mann_whitney").collect().head
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    assert(n1 + n2 == 500L)
    assert(r.getAs[Long]("u1_x2") + r.getAs[Long]("u2_x2") == 2 * n1 * n2,
      "doubled U statistics must partition the pair mass")
    val e = r.getAs[Long]("rank_biserial_milli")
    assert(e >= -1000 && e <= 1000)
  }

  test("q249: tie-ranks come from value-grain prefix sums — no window") {
    val plan = planOf("q249_mann_whitney")
    assert(!plan.contains("Window"),
      s"rank2 must come from the prefix-sum primitive:\n$plan")
  }

  // ---- q250 changepoint ----

  test("q250: delta is the mean gap at the reported split; day in calendar range") {
    val r = run("q250_changepoint").collect().head
    assert(r.getAs[Long]("delta_milli") ==
      math.abs(r.getAs[Long]("left_mean_milli") -
        r.getAs[Long]("right_mean_milli")))
    val days = graft.tables.Tables.events(spark, sf0001)
      .select(expr("ts div 86400000000000").as("day"))
      .agg(min("day"), max("day")).head
    val sd = r.getAs[Long]("split_day")
    assert(sd >= days.getLong(0) && sd < days.getLong(1),
      "split must fall strictly before the last day")
  }

  test("q250: prefix sums carry the totals — no window, no second aggregation pass") {
    val plan = planOf("q250_changepoint")
    assert(!plan.contains("Window"),
      s"cumulative volume must be the Scale prefix sum:\n$plan")
  }

  // ---- q251 weighted median ----

  test("q251: at least half the token mass sits at/below the median, strictly less below it") {
    import graft.textops.TextAnalysis
    val med = run("q251_weighted_median").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val d = graft.tables.Tables.documents(spark, sf0001)
      .select(col("lang"), col("n_chars"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("w"))
      .filter(col("w") >= 1)
    med.foreach { case (lang, (tw, v)) =>
      val below = d.filter(col("lang") === lang && col("n_chars") < v)
        .agg(coalesce(sum("w"), lit(0L))).head.getLong(0)
      val atOrBelow = d.filter(col("lang") === lang && col("n_chars") <= v)
        .agg(coalesce(sum("w"), lit(0L))).head.getLong(0)
      assert(2 * atOrBelow >= tw, s"$lang: median $v too small")
      assert(2 * below < tw, s"$lang: median $v not minimal")
    }
  }

  // ---- q252 PCA power iteration ----

  test("q252: max-norm invariant holds and the direction beats the uniform start on Rayleigh quotient") {
    val v = run("q252_pca_power").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(v.size == 64)
    assert(v.values.map(math.abs).max == 1000000L,
      "renormalization must pin max |loading| to exactly 1e6")
    // recompute the centered moment matrix the query's way (micro
    // quantization + truncating mean) and compare Rayleigh quotients
    val rows = graft.tables.Tables.embeddings(spark, sf0001)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.round(1000000d * x)).toArray)
    val n = rows.length
    val d = rows.head.length
    val mu = Array.tabulate(d)(i => rows.map(_(i)).sum / n) // trunc like div
    val xc = rows.map(r => Array.tabulate(d)(i => (r(i) - mu(i)).toDouble))
    def rayleigh(vec: Array[Double]): Double = {
      val mv = xc.foldLeft(new Array[Double](d)) { (acc, row) =>
        val dot = row.indices.foldLeft(0.0)((s, i) => s + row(i) * vec(i))
        row.indices.foreach(i => acc(i) += row(i) * dot)
        acc
      }
      val num = vec.indices.foldLeft(0.0)((s, i) => s + vec(i) * mv(i))
      val den = vec.foldLeft(0.0)((s, x) => s + x * x)
      num / den
    }
    val got = rayleigh(Array.tabulate(d)(i => v(i + 1).toDouble))
    val uniform = rayleigh(Array.fill(d)(1.0))
    assert(got > uniform,
      s"power iteration must increase the Rayleigh quotient: $got <= $uniform")
  }

  // ---- q253 F1 threshold ----

  test("q253: reported cut is the true F1 argmax over every observed threshold") {
    import graft.textops.TextAnalysis
    val r = run("q253_f1_threshold").collect().head
    val (tp, fp, fn) = (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"))
    assert(r.getAs[Long]("f1_milli") == 2000 * tp / (2 * tp + fp + fn))
    assert(r.getAs[Long]("recall_milli") == 1000 * tp / (tp + fn))
    // brute-force the sweep
    val scored = graft.tables.Tables.documents(spark, sf0001)
      .select(col("lang"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select((col("lang") === "en").as("y"),
        expr("(1000 * cast(size(filter(toks, t -> array_contains(" +
          "array('the','a','an','and','or','of','to','in','is','it'), t)" +
          ")) as bigint)) div size(toks)").as("sc"))
      .collect().map(x => (x.getBoolean(0), x.getLong(1)))
    val bestF1 = scored.map(_._2).distinct.map { t =>
      val tp2 = scored.count { case (y, s) => y && s >= t }.toLong
      val fp2 = scored.count { case (y, s) => !y && s >= t }.toLong
      val fn2 = scored.count { case (y, s) => y && s < t }.toLong
      2000 * tp2 / (2 * tp2 + fp2 + fn2)
    }.max
    assert(r.getAs[Long]("f1_milli") == bestF1,
      s"reported F1 ${r.getAs[Long]("f1_milli")} != brute-force max $bestF1")
  }

  // ---- q254 filter parity ----

  test("q254: parity is relative to the best language and the four-fifths flag is consistent") {
    val rows = run("q254_filter_parity").collect()
    assert(rows.length == 5)
    val best = rows.map(_.getAs[Long]("keep_milli")).max
    rows.foreach { r =>
      val keep = r.getAs[Long]("keep_milli")
      val parity = r.getAs[Long]("parity_milli")
      assert(parity == 1000 * keep / best)
      assert(parity <= 1000)
      assert(r.getAs[Boolean]("below_four_fifths") == (1000 * keep < 800 * best))
      assert(r.getAs[Long]("kept") <= r.getAs[Long]("n"))
    }
    assert(rows.exists(_.getAs[Long]("parity_milli") == 1000),
      "the best language must sit at parity 1000")
  }

  // ---- q255 personalized PageRank ----

  test("personalizedPageRankMicro: exact mass flow on a directed chain; 0 beyond the horizon") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = graft.graph.Graph
      .personalizedPageRankMicro(edges, seeds, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-computed: teleport 150000 only at the seed, damping 85/100
    assert(got(1L) == 150000L)
    assert(got(2L) == 127500L) // 150000*85/100
    assert(got(3L) == 108375L) // 127500*85/100
    assert(got(4L) == 614125L) // 722500*85/100 (wavefront)
    assert(got(5L) == 0L, "mass cannot travel further than `iterations` hops")
  }

  test("q255: seeds hold the top ranks and every positive rank is seed-reachable mass") {
    val rows = run("q255_personalized_ppr").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 30)
    val seedIds = (0 until 5).map(1000000000000L + _).toSet
    val top5 = rows.sortBy { case (id, r) => (-r, id) }.take(5).map(_._1).toSet
    assert(top5 == seedIds,
      s"the 5 seeds must dominate the PPR ranking, got $top5")
    rows.foreach { case (_, r) => assert(r > 0) }
  }

  // ---- q256 Kneser–Ney ----

  test("q256: cross-entropy is positive and the training language scores strictly lowest") {
    val x = run("q256_kneser_ney")
    val rows = x.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("kn_xent_micro") > 0))
    val byLang = x.join(
        graft.tables.Tables.documents(spark, sf0001).select("doc_id", "lang"),
        "doc_id")
      .groupBy("lang").agg(avg("kn_xent_micro").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val en = byLang("en")
    byLang.filter(_._1 != "en").foreach { case (lang, m) =>
      assert(en < m,
        s"KN LM trained on en must perplex $lang more: en=$en $lang=$m")
    }
  }

  test("q256: all LM tables broadcast — the bigram stream shuffles only per doc") {
    val plan = planOf("q256_kneser_ney")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary-bounded KN tables must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row discount table must broadcast:\n$plan")
  }

  // ---- q257 cross-correlation lag scan ----

  test("q257: all 15 lags reported, r bounded, overlap shrinks toward the lag extremes") {
    val rows = run("q257_xcorr_lag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (-7L to 7L),
      "one row per lag in [-7, 7], ordered")
    rows.foreach { case (lag, n, r) =>
      assert(math.abs(r) <= 1000L, s"lag $lag: |r_milli| $r > 1000")
      assert(n > 0, s"lag $lag: empty overlap")
    }
    val n0 = rows.find(_._1 == 0L).get._2
    Seq(-7L, 7L).foreach { l =>
      assert(rows.find(_._1 == l).get._2 <= n0,
        s"overlap at lag $l must not exceed the aligned overlap")
    }
  }

  test("q257: lag-0 r_milli equals a direct integer-Pearson recompute of the day series") {
    val day = graft.tables.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def series(t: String): Map[Long, Long] = {
      val s = day.filter(_._1 == t).map(x => x._2 -> x._3).toMap
      val m = 1000L * s.values.sum / s.size // positive: trunc == floor
      s.map { case (d, c) => d -> (1000L * c - m) }
    }
    val a = series("click")
    val b = series("purchase")
    val common = a.keySet.intersect(b.keySet).toSeq
    val dot = common.map(d => BigInt(a(d)) * BigInt(b(d))).sum
    val sa2 = common.map(d => BigInt(a(d)) * BigInt(a(d))).sum
    val sb2 = common.map(d => BigInt(b(d)) * BigInt(b(d))).sum
    // the q212 recipe: exact-int sums < 2^53, IEEE sqrt/divide, HALF_UP
    val expected = BigDecimal(
      1000d * dot.toDouble / math.sqrt(sa2.toDouble * sb2.toDouble))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val got = run("q257_xcorr_lag").filter(col("lag") === 0L)
      .collect().head.getLong(2)
    assert(got == expected, s"lag-0 r_milli $got != recompute $expected")
  }

  test("q257: lags broadcast — no day-by-day product anywhere in the plan") {
    val plan = planOf("q257_xcorr_lag")
    assert(!plan.contains("CartesianProduct"),
      s"15-row lag table and 1-row means must broadcast:\n$plan")
  }

  // ---- q258 Fisher discriminability ----

  test("q258: top-10 matches an exact driver recompute over every dimension") {
    val rows = graft.tables.Tables.embeddings(spark, sf0001)
      .select("label", "embedding").collect()
      .map(r => (r.get(0),
        r.getSeq[Float](1).map(x => BigDecimal(1000000d * x)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray))
    val d = rows.head._2.length
    val fisher = (1 to d).flatMap { i =>
      val byLabel = rows.groupBy(_._1).map { case (_, rs) =>
        val xs = rs.map(_._2(i - 1))
        (xs.length.toLong, xs.sum, xs)
      }
      val muC = byLabel.map { case (n, sx, xs) => (n, sx / n, xs) } // Long / truncates like div
      val mu = byLabel.map(_._2).sum / byLabel.map(_._1).sum
      val w = muC.map { case (_, m, xs) =>
        xs.map(x => BigInt(x - m) * BigInt(x - m)).sum }.sum
      val b = muC.map { case (n, m, _) =>
        BigInt(n) * (BigInt(m - mu) * BigInt(m - mu)) }.sum
      if (w > 0) {
        // HUGEINT // floors; b, w >= 0 so floor == BigInt /
        Some(i -> (b * 1000000 / w).toLong)
      } else None
    }
    val expected = fisher.sortBy { case (i, f) => (-f, i) }.take(10)
    val got = run("q258_fisher_ratio").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == expected, s"top-10 Fisher mismatch:\n got $got\n exp $expected")
    assert(got.map(_._2) == got.map(_._2).sorted(Ordering[Long].reverse),
      "fisher_micro must be non-increasing")
  }

  test("q258: class and global mean tables broadcast back onto the cell stream") {
    val plan = planOf("q258_fisher_ratio")
    assert(plan.contains("BroadcastHashJoin"),
      s"label×dim-bounded stats must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q259 Jensen–Shannon source drift ----

  test("q259: JSD bounded by ln 2, coverage sane, and one source replays exactly on the driver") {
    val rows = run("q259_js_divergence").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    val ln2pico = math.round(math.log(2) * 1e12)
    rows.foreach { case (src, nTypes, covPpm, jsd) =>
      assert(nTypes > 0, src)
      assert(covPpm > 0 && covPpm <= 1000000L, s"$src coverage $covPpm")
      // per-term rounding can wobble the sum by < 1 pico per term
      assert(jsd >= -nTypes && jsd <= ln2pico + nTypes,
        s"$src: jsd_pico $jsd outside [0, ln2]")
    }
    // exact replay of one source with the same per-term pico rounding
    val toks = graft.tables.Tables.documents(spark, sf0001)
      .select(col("source"),
        explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val srcName = rows.head._1
    val n = toks.map(_._3).sum
    val cq = toks.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._3).sum }
    val mine = toks.filter(_._1 == srcName).map(x => x._2 -> x._3).toMap
    val ns = mine.values.sum
    def pico(x: Double): Long = BigDecimal(1e12 * x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val present = mine.map { case (t, cS) =>
      val p = cS.toDouble / ns
      val q = cq(t).toDouble / n
      pico((p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))) / 2)
    }.sum
    val cov = mine.keysIterator.map(cq).sum // iterator: a Set.map would dedup equal counts
    val absent = pico(math.log(2) * (1 - cov.toDouble / n) / 2)
    val got = rows.find(_._1 == srcName).get._4
    assert(got == present + absent,
      s"$srcName: jsd_pico $got != driver replay ${present + absent}")
  }

  test("q259: totals broadcast; the only shuffle-sized key is the token grain") {
    val plan = planOf("q259_js_divergence")
    assert(!plan.contains("CartesianProduct"),
      s"1-row totals and the source-grain table must broadcast:\n$plan")
  }

  // ---- q260 Benford audit ----

  test("q260: all 9 digits, mass conserved, expected shares are the Benford constants") {
    val rows = run("q260_benford").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1L to 9L))
    val total = rows.map(_._2).sum
    val nLineitem = graft.tables.Tables.lineitem(spark, sf0001).count()
    assert(total == nLineitem, s"observed mass $total != lineitem $nLineitem")
    rows.foreach { case (d, _, expPpm, chi) =>
      val want = math.round(1e6 * math.log(1 + 1.0 / d) / math.log(10))
      assert(expPpm == want, s"digit $d: expected_ppm $expPpm != $want")
      assert(chi >= 0L)
    }
    assert(math.abs(rows.map(_._3).sum - 1000000L) <= 9,
      "Benford shares must sum to 1 within per-digit rounding")
  }

  test("q260: one scan, 9-key aggregate, total broadcast — no product, no window") {
    val plan = planOf("q260_benford")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  // ---- q261 Heaps' law ----

  test("q261: exponent in (0,1), totals exact, and the fit replays on the driver curve") {
    val r = run("q261_heaps_fit").collect().head
    val (nPts, beta, lnk, nTok, vocab) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(beta > 0 && beta < 1000, s"Heaps beta_milli $beta outside (0,1)")
    val docs = graft.tables.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.textops.TextAnalysis.wsTokens(col("text")).as("toks"))
      .collect().map(x => x.getLong(0) -> x.getSeq[String](1))
      .sortBy(_._1)
    assert(nTok == docs.map(_._2.length.toLong).sum)
    assert(vocab == docs.flatMap(_._2).distinct.length.toLong)
    // replay: first-occurrence growth curve + micro-ln least squares
    val seen = collection.mutable.Set[String]()
    var (cumN, cumV) = (0L, 0L)
    val pts = docs.map { case (_, toks) =>
      cumN += toks.length
      toks.foreach(t => if (seen.add(t)) cumV += 1)
      (math.round(1e6 * math.log(cumN.toDouble)),
        math.round(1e6 * math.log(cumV.toDouble)))
    }.filter(p => p._1 >= 0 && p._2 >= 0)
    assert(nPts == pts.length.toLong)
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    def truncDiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates
    val betaExp = truncDiv((n * sxy - sx * sy) * 1000, n * sxx - sx * sx)
    assert(BigInt(beta) == betaExp, s"beta $beta != replay $betaExp")
    val lnkExp = truncDiv(sy * 1000 - betaExp * sx, n * 1000)
    assert(BigInt(lnk) == lnkExp, s"lnk $lnk != replay $lnkExp")
  }

  test("q261: growth curve comes from Scale prefix passes — no single-partition window") {
    val plan = planOf("q261_heaps_fit")
    assert(!plan.contains("Window"),
      s"prefix sums must be the Scale primitives, not a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q262 Gini of doc lengths ----

  test("q262: per-language Gini matches the exact sorted-rank recompute") {
    val got = run("q262_gini_lengths").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 5)
    val byLang = graft.tables.Tables.documents(spark, sf0001)
      .select(col("lang"),
        size(graft.textops.TextAnalysis.wsTokens(col("text")))
          .cast("long").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1)
    got.foreach { case (lang, nDocs, gini) =>
      val xs = byLang(lang).map(_._2).sorted
      assert(nDocs == xs.length.toLong)
      val n = BigInt(xs.length)
      val t = xs.map(BigInt(_)).sum
      val s2 = xs.zipWithIndex.map { case (x, i) =>
        BigInt(2) * (i + 1) * x }.sum
      val expect = (s2 - (n + 1) * t) * 1000 / (n * t)
      assert(BigInt(gini) == expect, s"$lang: gini $gini != $expect")
      assert(gini >= 0 && gini < 1000)
    }
  }

  test("q262: the only window runs per-language over the bounded length grain") {
    val plan = planOf("q262_gini_lengths")
    assert(!plan.contains("CartesianProduct"), plan)
    // the window must be partitioned (by lang), never a global sort
    assert(!plan.contains("Window [") ||
      plan.contains("partitionBy") || plan.contains("lang"),
      s"window must carry a partition spec:\n$plan")
  }

  // ---- q263 chi-square independence ----

  test("q263: full 100-cell frame, mass conserved, marginals consistent, cells replay") {
    val rows = run("q263_chisq_independence").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.length == 100, "20 sources x 5 langs incl. zero cells")
    val docs = graft.tables.Tables.documents(spark, sf0001)
      .groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows.map(_._2._1).sum == docs.values.sum)
    val rTot = docs.groupBy(_._1._1).map { case (s, xs) => s -> xs.values.sum }
    val cTot = docs.groupBy(_._1._2).map { case (l, xs) => l -> xs.values.sum }
    val n = docs.values.sum
    rows.foreach { case ((src, lang), (o, expMilli, chi)) =>
      assert(o == docs.getOrElse((src, lang), 0L))
      val r = rTot(src); val c = cTot(lang)
      assert(expMilli == BigInt(1000) * r * c / n,
        s"($src,$lang) expected_milli")
      val e = r.toDouble * c / n
      val want = BigDecimal(1e6 * ((o - e) * (o - e)) / e)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(chi == want, s"($src,$lang) chi $chi != $want")
    }
    // each source's expected mass rebuilds its row total within rounding
    rTot.foreach { case (src, r) =>
      val got = rows.filter(_._1._1 == src).map(_._2._2).sum
      assert(math.abs(got - 1000 * r) <= 5, s"$src marginal drift")
    }
  }

  test("q263: bounded marginal frame — broadcasts only, no raw product of documents") {
    val plan = planOf("q263_chisq_independence")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  // ---- q264 isotonic calibration ----

  test("q264: map is monotone, bounded, and equals true PAVA within one micro") {
    val rows = run("q264_isotonic_calibration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "score-ordered")
    rows.map(_._4).sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0) <= w(1),
        "isotonic map must be non-decreasing")
    }
    rows.foreach { case (_, nn, pos, iso) =>
      assert(pos <= nn)
      assert(iso >= 0 && iso <= 1000000L)
    }
    // true PAVA on the grain (exact rationals), compare at micro
    case class Block(var n: Long, var pos: Long)
    val blocks = collection.mutable.ArrayBuffer[Block]()
    rows.foreach { case (_, nn, pos, _) =>
      blocks += Block(nn, pos)
      while (blocks.length >= 2 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        // pool while decreasing: pos_a/n_a >= pos_b/n_b (cross-multiplied)
        a.pos * b.n >= b.pos * a.n
      }) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.n += b.n; blocks.last.pos += b.pos
      }
    }
    // expand blocks back over the score rows
    var idx = 0
    val flat = new Array[(Long, Long)](rows.length)
    blocks.foreach { b =>
      var consumed = 0L
      while (consumed < b.n) {
        flat(idx) = (b.pos, b.n); consumed += rows(idx)._2; idx += 1
      }
    }
    assert(idx == rows.length, "PAVA blocks must tile the grain")
    rows.zip(flat).foreach { case ((sc, _, _, iso), (bp, bn)) =>
      val exact = 1e6 * bp / bn
      assert(math.abs(iso - exact) <= 1.0,
        s"score $sc: iso $iso vs PAVA ${exact}")
    }
  }

  test("q264: no window anywhere; the grain pair join stays off the row-level path") {
    // the tail plan is checkpoint-truncated (Scale.scan pins
    // its output), so assert the visible tail plus the head stage the
    // same way the query builds it: the i<=j join must broadcast.
    val plan = planOf("q264_isotonic_calibration")
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val cum = graft.tables.Tables.documents(spark, sf0001)
      .groupBy(col("n_chars").as("sc")).agg(count(lit(1)).as("cn"))
    val a = cum.select(col("sc").as("si"), col("cn").as("cna"))
    val b = cum.select(col("sc").as("sj"), col("cn").as("cnb"))
    val pairPlan = a.join(broadcast(b), col("sj") >= col("si"))
      .queryExecution.executedPlan.toString
    assert(pairPlan.contains("BroadcastNestedLoopJoin"), pairPlan)
  }

  // ---- q265 Kendall tau-b ----

  test("q265: pair identities hold and the whole row replays on the driver") {
    val r = run("q265_kendall_tau").collect().head
    val (nDays, conc, disc, ta, tb, tau) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val day = graft.tables.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val av = day.filter(_._1 == "click").map(x => x._2 -> x._3).toMap
    val bv = day.filter(_._1 == "purchase").map(x => x._2 -> x._3).toMap
    val joint = av.keySet.intersect(bv.keySet).toSeq.sorted
      .map(d => (av(d), bv(d)))
    assert(nDays == joint.length.toLong)
    var (c2, d2, ta2, tb2, n02) = (0L, 0L, 0L, 0L, 0L)
    for (i <- joint.indices; j <- (i + 1) until joint.length) {
      val da = joint(i)._1 - joint(j)._1
      val db = joint(i)._2 - joint(j)._2
      n02 += 1
      if (da * db > 0) c2 += 1 else if (da * db < 0) d2 += 1
      if (da == 0) ta2 += 1
      if (db == 0) tb2 += 1
    }
    assert(n02 == nDays * (nDays - 1) / 2)
    assert((conc, disc, ta, tb) == ((c2, d2, ta2, tb2)))
    val expect =
      if (n02 == ta2 || n02 == tb2) 0L
      else BigDecimal(1000d * (c2 - d2) /
        math.sqrt((n02 - ta2).toDouble * (n02 - tb2).toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(tau == expect, s"tau_b_milli $tau != replay $expect")
    assert(math.abs(tau) <= 1000)
  }

  test("q265: the day-pair join broadcasts the calendar-bounded series") {
    val plan = planOf("q265_kendall_tau")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q266 reliability / ECE ----

  test("q266: bin table replays exactly and ECE closes over the bins") {
    import graft.textops.TextAnalysis
    val rows = run("q266_reliability_ece").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (bin, nB, pos, acc, conf, gap, _) =>
      assert(bin >= 0 && bin <= 9)
      assert(pos <= nB)
      assert(acc == 1000 * pos / nB)
      assert(gap == math.abs(acc - conf))
      assert(conf >= 0 && conf <= 1000)
    }
    val scored = graft.tables.Tables.documents(spark, sf0001)
      .select(col("lang"), TextAnalysis.wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select((col("lang") === "en").as("y"),
        expr("(1000 * cast(size(filter(toks, t -> array_contains(" +
          "array('the','a','an','and','or','of','to','in','is','it'), t)" +
          ")) as bigint)) div size(toks)").as("sc"))
      .collect().map(x => (x.getBoolean(0), x.getLong(1)))
    assert(rows.map(_._2).sum == scored.length.toLong)
    val byBin = scored.groupBy(x => math.min(x._2 / 100, 9L))
    rows.foreach { case (bin, nB, pos, _, conf, _, _) =>
      val xs = byBin(bin)
      assert(nB == xs.length.toLong)
      assert(pos == xs.count(_._1).toLong)
      assert(conf == xs.map(_._2).sum / xs.length)
    }
    val n = rows.map(_._2).sum
    val sg = rows.map(r => r._2 * r._6).sum
    val ece = rows.head._7
    assert(rows.forall(_._7 == ece), "ECE is one corpus-level number")
    assert(ece == 1000 * sg / n)
  }

  test("q266: one scan, bounded bins — no window, no product") {
    val plan = planOf("q266_reliability_ece")
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q267 Neyman stratified sample ----

  test("q267: allocations close the budget exactly and the draw replays by hash order") {
    val rows = run("q267_neyman_sample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 5)
    assert(rows.map(_._4).sum == 1000L, "largest-remainder must close to B")
    val docs = graft.tables.Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    rows.foreach { case (lang, nDocs, stdMicro, alloc, picked, sumIds) =>
      val xs = docs.filter(_._2 == lang)
      assert(nDocs == xs.length.toLong)
      // std replay with the same IEEE expression
      val n = xs.length.toDouble
      val sx = xs.map(_._3).sum.toDouble
      val sxx = xs.map(x => BigDecimal(x._3) * BigDecimal(x._3)).sum.toDouble
      val want = BigDecimal(1e6 * math.sqrt(n * sxx - sx * sx) / n)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(stdMicro == want, s"$lang std $stdMicro != $want")
      assert(picked == math.min(alloc, nDocs))
      // replay the deterministic draw: md5-smallest `alloc` ids
      val hashed = graft.tables.Tables.documents(spark, sf0001)
        .filter(col("lang") === lang)
        .select(col("doc_id"),
          shiftright(graft.textops.TextAnalysis.md5Long(concat(
            col("doc_id").cast("string"), lit("|neyman"))), 8).as("hv"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, hv) => (hv, id) }
        .take(alloc.toInt).map(_._1)
      assert(sumIds == hashed.sum, s"$lang: sampled set differs")
    }
    // Neyman: bigger N*sigma gets at least as much budget
    val byWeight = rows.sortBy(r => -(BigInt(r._2) * BigInt(r._3)))
    assert(byWeight.map(_._4).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1) - 1), // remainder +1 can wobble by one
      "allocation must follow the N*sigma ordering within rounding")
  }

  test("q267: selection is a bounded TopK aggregate, not a row-level rank") {
    val plan = planOf("q267_neyman_sample")
    assert(!plan.contains("Window ["),
      s"no per-stratum row_number window allowed:\n$plan")
  }

  // ---- q268 entropy rate ----

  test("q268: entropy and evenness replay exactly for one source; bounds hold") {
    val rows = run("q268_entropy_rate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 20)
    rows.foreach { case (src, types, toks, h, ev) =>
      assert(types >= 1 && types <= toks, src)
      assert(h >= 0, src)
      assert(ev >= 0 && ev <= 1000, s"$src evenness $ev")
    }
    val counts = graft.tables.Tables.documents(spark, sf0001)
      .select(col("source"),
        explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val src = rows.head._1
    val mine = counts.filter(_._1 == src).map(x => x._2 -> x._3)
    val ns = mine.map(_._2).sum
    val h2 = mine.map { case (_, c) =>
      val p = c.toDouble / ns
      BigDecimal(-1e12 * p * math.log(p))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    val got = rows.find(_._1 == src).get
    assert(got._2 == mine.length.toLong)
    assert(got._3 == ns)
    assert(got._4 == h2, s"$src h_pico ${got._4} != replay $h2")
    val evExp =
      if (mine.length <= 1) 0L
      else BigDecimal(h2.toDouble / (1e9 * math.log(mine.length.toDouble)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(got._5 == evExp)
  }

  test("q268: token-grain shuffle only; totals broadcast") {
    val plan = planOf("q268_entropy_rate")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  // ---- q269 intra-doc repetition ----

  test("q269: ranking identities hold and the top doc replays from its text") {
    val rows = run("q269_intra_repetition").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    assert(rows.map(_._4).toSeq ==
      rows.map(_._4).sorted(Ordering[Long].reverse).toSeq)
    rows.foreach { case (_, total, dup, ppm) =>
      assert(dup <= total)
      assert(ppm == 1000000L * dup / total)
    }
    val (topDoc, total, dup, _) = rows.head
    val text = graft.tables.Tables.documents(spark, sf0001)
      .filter(col("doc_id") === topDoc).select("text")
      .collect().head.getString(0)
    val toks = text.split("\\s+").filter(_.nonEmpty)
    val grams = toks.sliding(3).filter(_.length == 3)
      .map(g => (g.mkString(" "), g.map(_.length.toLong).sum)).toSeq
    val byGram = grams.groupBy(_._1)
    val total2 = grams.map(_._2).sum
    val dup2 = byGram.valuesIterator
      .filter(_.length >= 2).map(_.map(_._2).sum).sum
    assert(total == total2, s"doc $topDoc trigram mass")
    assert(dup == dup2, s"doc $topDoc duplicate mass")
  }

  test("q269: explode + two keyed aggregates — no window, no product") {
    val plan = planOf("q269_intra_repetition")
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q270 vocabulary attribution ----

  test("q270: every token is introduced exactly once and attribution replays") {
    val rows = run("q270_vocab_attribution").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 20)
    val stream = graft.tables.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"),
        explode(graft.textops.TextAnalysis.wsTokens(col("text"))).as("tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val firstSrc = stream.groupBy(_._3).map { case (_, xs) =>
      xs.minBy(_._1)._2
    }.toSeq
    val introExp = firstSrc.groupBy(identity).map { case (s, xs) =>
      s -> xs.length.toLong }
    val vocab = stream.map(_._3).distinct.length.toLong
    assert(rows.map(_._3).sum == vocab,
      "introduction counts must partition the vocabulary")
    rows.foreach { case (src, nTypes, intro, rate, share) =>
      assert(intro == introExp.getOrElse(src, 0L), s"$src attribution")
      val types2 = stream.filter(_._2 == src).map(_._3).distinct.length.toLong
      assert(nTypes == types2)
      assert(intro <= nTypes)
      assert(rate == 1000000L * intro / nTypes)
      assert(share == 1000000L * intro / vocab)
    }
  }

  test("q270: token-grain shuffles only; summaries broadcast") {
    val plan = planOf("q270_vocab_attribution")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q271 centroid health ----

  test("q271: one label replays exactly on the driver; bounds and outlier minimality hold") {
    val rows = run("q271_centroid_health").collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, mean, mn, _) =>
      assert(n > 0)
      assert(math.abs(mean) <= 1000000L && math.abs(mn) <= 1000000L)
      assert(mn <= mean)
    }
    val label = rows.head._1
    val vecs = graft.tables.Tables.embeddings(spark, sf0001)
      .filter(col("label") === label).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => BigDecimal(1000000d * x)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray)
    val d = vecs.head._2.length
    val nL = vecs.length
    val mu = Array.tabulate(d) { i =>
      val sx = vecs.map(_._2(i)).sum
      sx / nL // Long / truncates like div
    }
    val smm = mu.map(m => BigInt(m) * BigInt(m)).sum
    val coss = vecs.map { case (id, xs) =>
      val dot = xs.indices.map(i => BigInt(xs(i)) * BigInt(mu(i))).sum
      val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
      val c =
        if (sxx == 0 || smm == 0) 0L
        else BigDecimal(1e6 * dot.toDouble /
          (math.sqrt(sxx.toDouble) * math.sqrt(smm.toDouble)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (id, c)
    }
    val got = rows.find(_._1 == label).get
    val sc = coss.map(x => BigInt(x._2)).sum
    val meanExp = (sc / nL).toLong // BigInt / truncates
    assert(got._3 == meanExp, s"mean ${got._3} != $meanExp")
    val mnExp = coss.map(_._2).min
    assert(got._4 == mnExp)
    assert(got._5 == coss.filter(_._2 == mnExp).map(_._1).min)
  }

  test("q271: centroid and norms broadcast back onto the cell stream") {
    val plan = planOf("q271_centroid_health")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q272 McNemar ----

  test("q272: counts replay against the composed reference classifier") {
    import graft.textops.TextAnalysis
    val r = run("q272_mcnemar").collect().head
    val (n, accA, accB, bd, cd, chi) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val cl = graft.tables.Tables.documents(spark, sf0001)
      .select(col("lang"), col("text"),
        TextAnalysis.wsTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select((col("lang") === "en").as("y"),
        // the independent builtin-composed reference form
        (TextAnalysis.langIdComposed(col("text")) === "en").as("a"),
        (lit(1000L) * size(filter(col("toks"), w => w.isin(
          "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))
          .cast("long") >= lit(150L) * size(col("toks")).cast("long"))
          .as("b"))
      .collect().map(x => (x.getBoolean(0), x.getBoolean(1), x.getBoolean(2)))
    assert(n == cl.length.toLong)
    val okA = cl.count { case (y, a, _) => a == y }.toLong
    val okB = cl.count { case (y, _, b) => b == y }.toLong
    assert(accA == 1000 * okA / n)
    assert(accB == 1000 * okB / n)
    val bd2 = cl.count { case (y, a, b) => a == y && b != y }.toLong
    val cd2 = cl.count { case (y, a, b) => a != y && b == y }.toLong
    assert((bd, cd) == ((bd2, cd2)))
    assert(okA - okB == bd - cd, "disagreements must explain the accuracy gap")
    val chiExp =
      if (bd + cd == 0) 0L
      else BigDecimal(1e6 * (bd - cd).toDouble * (bd - cd) / (bd + cd))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(chi == chiExp)
  }

  // ---- q273 Cohen's kappa ----

  test("q273: contingency closes, gate A is exactly the Gopher keep, kappa replays") {
    import graft.textops.TextAnalysis
    val r = run("q273_gate_kappa").collect().head
    val (a, b, c, d, n) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(a + b + c + d == n)
    val docs = graft.tables.Tables.documents(spark, sf0001)
    assert(n == docs.count())
    val gopherKept = TextAnalysis.gopherRules(docs)
      .filter(col("len_ok") && col("mean_len_ok") && col("sym_ok") &&
        col("alpha_ok") && col("stop_ok")).count()
    assert(a + b == gopherKept, "gate A must be exactly the Gopher keep")
    assert(r.getLong(5) == 1000 * (a + d) / n) // po
    val e = BigInt(a + b) * BigInt(a + c) + BigInt(c + d) * BigInt(b + d)
    assert(BigInt(r.getLong(6)) == e * 1000 / (BigInt(n) * BigInt(n))) // pe
    val den = BigInt(n) * BigInt(n) - e
    val kExp =
      if (den == 0) BigInt(1000)
      else {
        val num = (BigInt(n) * BigInt(a + d) - e) * 1000
        // truncation toward zero, matching Spark div / the oracle CASE
        if (num.signum >= 0) num / den else -((-num) / den)
      }
    assert(BigInt(r.getLong(7)) == kExp, s"kappa ${r.getLong(7)} != $kExp")
    assert(math.abs(r.getLong(7)) <= 1000)
  }

  test("q272/q273: single-scan aggregates — no window, no product, no shuffle-sized join") {
    Seq("q272_mcnemar", "q273_gate_kappa").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Window ["), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
  }

  // ---- q274 weighted sample ----

  test("q274: the draw replays key-exactly and oversamples heavy docs") {
    val rows = run("q274_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 100)
    assert(rows.map(_._3).toSeq ==
      rows.map(_._3).sorted(Ordering[Long].reverse).toSeq)
    val all = graft.tables.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.textops.TextAnalysis.wsTokens(col("text")))
          .cast("long").as("w"))
      .filter(col("w") >= 1)
      .select(col("doc_id"), col("w"),
        shiftright(graft.textops.TextAnalysis.md5Long(concat(
          col("doc_id").cast("string"), lit("|aes"))), 8).as("hv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keyed = all.map { case (id, w, hv) =>
      val key = BigDecimal(1e12 *
        math.log((hv.toDouble + 1) / 4503599627370497.0) / w)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (id, w, key)
    }
    val expect = keyed.sortBy { case (id, _, k) => (-k, id) }.take(100)
    assert(rows.toSeq == expect.toSeq, "sampled set must replay exactly")
    val meanSampled = rows.map(_._2).sum.toDouble / rows.length
    val meanAll = all.map(_._2).sum.toDouble / all.length
    assert(meanSampled > meanAll,
      s"weight-proportional draw must oversample heavy docs: $meanSampled <= $meanAll")
  }

  test("q274: bounded global heap — no window, no row-level ranking") {
    val plan = planOf("q274_weighted_sample")
    assert(!plan.contains("Window ["), plan)
    // the heap is a typed Aggregator (Object/SortAggregate), never a sort
    // of the corpus; the only Sort permitted is over the 100-row result
    assert(plan.contains("Aggregate"), plan)
  }

  // ---- q275 Markov transitions ----

  test("q275: matrix and stationary vector replay exactly on the driver") {
    val rows = run("q275_markov_transitions").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.nonEmpty && rows.length <= 25)
    val ev = graft.tables.Tables.events(spark, sf0001)
      .select("user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val s = xs.sortBy(x => (x._2, x._3)).map(_._4)
      s.zip(s.drop(1))
    }
    val tc = trans.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(_._2._1).sum == trans.length.toLong)
    val rc = tc.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    rows.foreach { case ((f, t), (c, pMilli, _)) =>
      assert(c == tc((f, t)))
      assert(pMilli == 1000 * c / rc(f))
    }
    // stationary: 3 rounds of v <- (v * P_milli) / 1000 in integers
    val types = rc.keys.toSeq.sorted
    var v = types.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      v = types.map { t =>
        val nv = types.map { f =>
          tc.get((f, t)).map(c => v(f) * (1000 * c / rc(f))).getOrElse(0L)
        }.sum / 1000
        t -> nv
      }.toMap
    }
    rows.foreach { case ((_, t), (_, _, st)) =>
      assert(st == v(t), s"stationary($t) $st != ${v(t)}")
    }
  }

  test("q275: the only row-level window is the per-user pairing; matvecs broadcast") {
    val plan = planOf("q275_markov_transitions")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q276 BH drift screen ----

  test("q276: chi, p-value and the BH cutoff all replay on the driver") {
    val rows = run("q276_bh_drift_screen").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == 20)
    assert(rows.map(_._4).toSeq == (1L to 20L), "ranked by p ascending")
    val docs = graft.tables.Tables.documents(spark, sf0001)
      .groupBy("source", "lang").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rTot = docs.groupBy(_._1._1).map { case (s, xs) => s -> xs.values.sum }
    val cTot = docs.groupBy(_._1._2).map { case (l, xs) => l -> xs.values.sum }
    val n = docs.values.sum
    val langs = cTot.keys.toSeq
    rows.foreach { case (src, chi, p, _, _) =>
      val r = rTot(src)
      val chiExp = langs.map { l =>
        val o = docs.getOrElse((src, l), 0L)
        val e = r.toDouble * cTot(l) / n
        BigDecimal(1e6 * (o - e) * (o - e) / e)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      assert(chi == chiExp, s"$src chi $chi != $chiExp")
      val x = chi.toDouble / 1e6
      val pExp = BigDecimal(1e6 * math.exp(-x / 2) * (1 + x / 2))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(p == pExp, s"$src p $p != $pExp")
    }
    val m = rows.length.toLong
    val kstar = rows.map { case (_, _, p, rk, _) =>
      if (m * p <= rk * 50000L) rk else 0L }.max
    rows.foreach { case (src, _, _, rk, sig) =>
      assert(sig == (rk <= kstar), s"$src BH verdict at rank $rk")
    }
    // monotone: p never decreases with rank
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
  }

  // ---- q277 mutual information ----

  test("q277: MI and joint entropy replay exactly; normalized IQR bounded") {
    val r = run("q277_source_lang_mi").collect().head
    val (mi, hj, nCells, iqr) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    val docs = graft.tables.Tables.documents(spark, sf0001)
      .groupBy("source", "lang").count().collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val rTot = docs.groupBy(_._1._1).map { case (s, xs) => s -> xs.values.sum }
    val cTot = docs.groupBy(_._1._2).map { case (l, xs) => l -> xs.values.sum }
    val n = docs.values.sum
    def pico(x: Double) = BigDecimal(1e12 * x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val miExp = docs.map { case ((s, l), o) =>
      pico(o.toDouble / n *
        math.log(o.toDouble * n / (rTot(s).toDouble * cTot(l))))
    }.sum
    val hjExp = docs.map { case (_, o) =>
      pico(-(o.toDouble / n) * math.log(o.toDouble / n))
    }.sum
    assert(nCells == docs.size.toLong)
    assert(mi == miExp, s"mi $mi != $miExp")
    assert(hj == hjExp)
    assert(iqr == (if (hj == 0) 0L else 1000 * mi / hj))
    assert(iqr >= 0 && iqr <= 1000)
    assert(mi >= -nCells, "MI nonneg up to per-cell rounding")
  }

  test("q276/q277: contingency-grain plans — broadcasts only, no product") {
    Seq("q276_bh_drift_screen", "q277_source_lang_mi").foreach { q =>
      assert(!planOf(q).contains("CartesianProduct"), q)
    }
  }

  // ---- q278 Mann-Kendall ----

  test("q278: S, ties and z replay on the driver; pair identities hold") {
    val r = run("q278_mann_kendall").collect().head
    val (s, nDays, tc, z) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    val days = graft.tables.Tables.events(spark, sf0001)
      .select(expr("ts div 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).sortBy(_._1)
    assert(nDays == days.length.toLong)
    var s2 = 0L
    for (i <- days.indices; j <- (i + 1) until days.length)
      s2 += java.lang.Long.signum(days(j)._2 - days(i)._2)
    assert(s == s2)
    val tc2 = days.groupBy(_._2).values.map(_.length.toLong)
      .filter(_ >= 2).map(t => t * (t - 1) * (2 * t + 5)).sum
    assert(tc == tc2)
    val n = days.length.toLong
    val varr = (n.toDouble * (n - 1) * (2 * n + 5) - tc) / 18.0
    val zExp =
      if (s == 0 || varr <= 0) 0L
      else BigDecimal(1000 * (s.toDouble - (if (s > 0) 1 else -1)) /
        math.sqrt(varr)).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(z == zExp, s"z $z != $zExp")
  }

  test("q278: calendar-bounded pair join broadcasts") {
    assert(!planOf("q278_mann_kendall").contains("CartesianProduct"))
  }

  // ---- q279 burstiness ----

  test("q279: gaps, moments and B replay on the driver for every type") {
    val rows = run("q279_burstiness").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val ev = graft.tables.Tables.events(spark, sf0001)
      .select("user_id", "event_type", "ts", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gapsByType = ev.groupBy(x => (x._1, x._2)).toSeq.flatMap {
      case ((_, t), xs) =>
        val s = xs.sortBy(x => (x._3, x._4)).map(_._3)
        s.zip(s.drop(1)).map { case (a, b) => t -> (b - a) / 1000000000L }
    }.groupBy(_._1)
    rows.foreach { case (t, nG, mean, std, b) =>
      val gs = gapsByType(t).map(_._2)
      assert(nG == gs.length.toLong, s"$t gap count")
      assert(mean == gs.sum / gs.length)
      val n = gs.length.toDouble
      val sx = gs.sum.toDouble
      val sxx = gs.map(g => BigDecimal(g) * BigDecimal(g)).sum.toDouble
      val stdExp = BigDecimal(1e6 * math.sqrt(n * sxx - sx * sx) / n)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(std == stdExp, s"$t std $std != $stdExp")
      assert(math.abs(b) <= 1000)
      val num = 1000L * (std - 1000000L * mean)
      val den = std + 1000000L * mean
      val bExp = if (den == 0) 0L
        else if (num >= 0) num / den else -((-num) / den)
      assert(b == bExp, s"$t B $b != $bExp")
    }
  }

  test("q279: per-(user,type) pairing window only; no product") {
    assert(!planOf("q279_burstiness").contains("CartesianProduct"))
  }

  // ---- q280 cluster size spectrum ----

  test("q280: histogram and tail slope replay against a driver-planted simulation") {
    val rows = run("q280_cluster_spectrum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    val texts = graft.tables.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val planted = texts.flatMap { case (id, tx) =>
      val extra =
        if (id % 10 == 1 && id < 301) 1
        else if (id % 10 == 2 && id < 102) 3
        else if (id % 10 == 3 && id < 33) 7
        else 0
      Seq.fill(1 + extra)(tx)
    }
    val hist = planted.groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    assert(rows.map(r => r._1 -> r._2).toMap == hist,
      "cluster-size histogram must replay")
    val tail = hist.filter(_._1 >= 2).toSeq.map { case (sz, nc) =>
      (math.round(1e6 * math.log(sz.toDouble)),
        math.round(1e6 * math.log(nc.toDouble)))
    }
    val n = BigInt(tail.length)
    val sx = tail.map(p => BigInt(p._1)).sum
    val sy = tail.map(p => BigInt(p._2)).sum
    val sxy = tail.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = tail.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val num = (n * sxy - sx * sy) * 1000
    val den = n * sxx - sx * sx
    val slopeExp =
      if (n <= 1 || den == 0) BigInt(0)
      else if (num.signum >= 0) num / den else -((-num) / den)
    rows.foreach { case (_, _, slope, nPts) =>
      assert(BigInt(slope) == slopeExp, s"slope $slope != $slopeExp")
      assert(nPts == tail.length.toLong)
    }
    assert(slopeExp < 0, "bigger dup families must be rarer (negative slope)")
  }

  test("q280: digest aggregate + bounded histogram — no window, no product") {
    val plan = planOf("q280_cluster_spectrum")
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q281 assortativity ----

  test("q281: r replays on a driver-built graph and sits in [-1000, 1000]") {
    val r = run("q281_assortativity").collect().head
    val (m, rMilli) = (r.getLong(0), r.getLong(1))
    assert(math.abs(rMilli) <= 1000)
    val pairs = graft.tables.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_suppkey")
      .join(graft.tables.Tables.orders(spark, sf0001)
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000000000L).as("s"),
        col("o_custkey").as("c")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val edges = pairs.flatMap { case (s, c) => Seq((s, c), (c, s)) }
    assert(m == edges.length.toLong)
    val deg = edges.groupBy(_._1).map { case (n, xs) => n -> xs.length.toLong }
    val jk = edges.map { case (s, c) => (deg(s), deg(c)) }
    val mm = BigInt(jk.length)
    val sj = jk.map(p => BigInt(p._1)).sum
    val sk = jk.map(p => BigInt(p._2)).sum
    val sjk = jk.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sjj = jk.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val skk = jk.map(p => BigInt(p._2) * BigInt(p._2)).sum
    val vj = mm * sjj - sj * sj
    val vk = mm * skk - sk * sk
    val expect =
      if (vj == 0 || vk == 0) 0L
      else BigDecimal(1000 * (mm * sjk - sj * sk).toDouble /
        (math.sqrt(vj.toDouble) * math.sqrt(vk.toDouble)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(rMilli == expect, s"r $rMilli != $expect")
    // the symmetric edge list makes j/k moments equal by construction
    assert(sj == sk && sjj == skk)
  }

  // ---- q282 CUPED ----

  test("q282: theta and rho-squared replay; reduction bounded in [0, 1e6]") {
    val r = run("q282_cuped").collect().head
    val (nU, theta, rho2) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(rho2 >= 0 && rho2 <= 1000000L)
    val pv = graft.tables.Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        round(lit(100d) * col("value")).cast("long").as("cents"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val mid = (pv.map(_._2).min + pv.map(_._2).max + 1) / 2
    val u = pv.groupBy(_._1).map { case (_, xs) =>
      (xs.filter(_._2 < mid).map(_._3).sum,
        xs.filter(_._2 >= mid).map(_._3).sum)
    }.toSeq
    assert(nU == u.length.toLong)
    val n = BigInt(u.length)
    val sx = u.map(p => BigInt(p._1)).sum
    val sy = u.map(p => BigInt(p._2)).sum
    val sxy = u.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = u.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val syy = u.map(p => BigInt(p._2) * BigInt(p._2)).sum
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    val cv = n * sxy - sx * sy
    val thetaExp = if (vx == 0) 0L
      else BigDecimal(1e6 * cv.toDouble / vx.toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(theta == thetaExp, s"theta $theta != $thetaExp")
    val rho2Exp = if (vx == 0 || vy == 0) 0L
      else BigDecimal(1e6 * cv.toDouble * cv.toDouble /
        (vx.toDouble * vy.toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(rho2 == rho2Exp, s"rho2 $rho2 != $rho2Exp")
  }

  test("q281/q282: moment plans — no window, no product") {
    Seq("q281_assortativity", "q282_cuped").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Window ["), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  // ---- q283 negative sampling ----

  test("q283: every sampled pair is a true non-edge and the draw replays trial-exactly") {
    val rows = run("q283_negative_sampling").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    val pairs = graft.tables.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_suppkey")
      .join(graft.tables.Tables.orders(spark, sf0001)
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val custs = graft.tables.Tables.customer(spark, sf0001)
      .select("c_custkey").collect().map(_.getLong(0)).sorted
    val nc = custs.length.toLong
    // replay the md5 trial stream through the engine's md5Long (same expr)
    val sups = pairs.map(_._1).toSeq.distinct.sorted
    import spark.implicits._
    val hashed = sups.flatMap(s => (0L until 8L).map(t => (s, t)))
      .toDF("s", "t")
      .select(col("s"), col("t"),
        pmod(graft.textops.TextAnalysis.md5Long(concat(col("s").cast("string"),
          lit("|"), col("t").cast("string"), lit("|negsamp"))), lit(nc)).as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = hashed
      .map { case (s, t, rk) => (s, t, custs(rk.toInt)) }
      .filter { case (s, _, c) => !pairs.contains((s, c)) }
      .groupBy(_._1).map { case (s, xs) =>
        val sorted = xs.sortBy(_._2)
        (s, sorted.head._3,
          if (sorted.length >= 2) Some(sorted(1)._3) else None,
          xs.length.toLong)
      }.toSeq.sortBy(_._1)
    assert(rows.toSeq == expect, "negative draw must replay")
    rows.foreach { case (s, n1, n2, _) =>
      assert(!pairs.contains((s, n1)), s"($s,$n1) is a real edge")
      n2.foreach(n => assert(!pairs.contains((s, n))))
    }
  }

  test("q283: trials and customer count broadcast; anti-join carries the edge set") {
    assert(!planOf("q283_negative_sampling").contains("CartesianProduct"))
  }

  // ---- q284 hard negatives ----

  test("q284: positives share the probe label, negatives never do, top-1 replays") {
    val rows = run("q284_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 5)
    val vecs = graft.tables.Tables.embeddings(spark, sf0001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.get(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val byId = vecs.map(v => v._1 -> v).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val na = a.foldLeft(0.0)((s, x) => s + x * x)
      val nb = b.foldLeft(0.0)((s, x) => s + x * x)
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.foreach { case (q, posId, posSim, negId, negSim, margin) =>
      val (_, qLabel, qEmb) = byId(q)
      assert(byId(posId)._2 == qLabel, s"probe $q positive label")
      assert(byId(negId)._2 != qLabel, s"probe $q negative label")
      assert(margin == posSim - negSim)
      // exact top-1 replay per side (micro-rounded, id tiebreak)
      def best(same: Boolean): (Long, Long) =
        vecs.filter(v => v._1 != q && (v._2 == qLabel) == same)
          .map(v => (v._1, BigDecimal(1e6 * cos(qEmb, v._3))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
          .minBy { case (id, sm) => (-sm, id) }
      assert((posId, posSim) == best(same = true), s"probe $q positive")
      assert((negId, negSim) == best(same = false), s"probe $q negative")
    }
  }

  // ---- q285 packing report ----

  test("q285: every statistic replays from a driver-simulated token stream") {
    val r = run("q285_packing_report").collect().head
    val (nD, nT, nW, str, pad, util) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val ws = graft.tables.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.textops.TextAnalysis.wsTokens(col("text")))
          .cast("long").as("w"))
      .filter(col("w") >= 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).sortBy(_._1)
    assert(nD == ws.length.toLong)
    assert(nT == ws.map(_._2).sum)
    assert(nW == (nT + 2047) / 2048)
    assert(pad == nW * 2048 - nT)
    assert(util == 1000000L * nT / (nW * 2048))
    var cum = 0L
    var straddlers = 0L
    ws.foreach { case (_, w) =>
      val lo = cum; val hi = cum + w - 1
      if (lo / 2048 != hi / 2048) straddlers += 1
      cum += w
    }
    assert(str == straddlers, s"straddlers $str != $straddlers")
  }

  test("q285: the token stream is one Scale prefix pass — no window") {
    assert(!planOf("q285_packing_report").contains("Window ["))
  }

  // ---- q286 LSH tuning ----

  test("q286: wider bands shrink the candidate surface at full planted recall") {
    val rows = run("q286_lsh_tuning").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(x => (x._1, x._2)).toSeq == Seq((56L, 7L), (88L, 11L)))
    val Seq(a, b) = rows.toSeq
    // the planted chains step 10 degrees; cos 10 deg = 0.985 >= 0.966,
    // so every adjacent pair is ground truth and both configs must
    // recover all of them (miss probability < 1e-2 per pair and the
    // whole pipeline is deterministic given the pinned planes)
    assert(a._6 == 1000L && b._6 == 1000L, "full planted recall")
    assert(a._5 == 20L && b._5 == 20L, "5 chains x 4 adjacent pairs")
    assert(b._3 < a._3,
      s"11-bit bands must cut the candidate surface: ${b._3} !< ${a._3}")
    rows.foreach { case (_, _, cand, ver, found, _) =>
      assert(ver >= found)
      assert(cand >= ver, "verified pairs are a subset of candidates")
    }
  }

  test("q286: candidate counting is one bucket aggregate — no pair explode, no product") {
    val plan = planOf("q286_lsh_tuning")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // ---- q287 shard skew ----

  test("q287: mass conserved across 32 shards, loads close to 32M ppm, hot keys replay") {
    val rows = run("q287_shard_skew").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == (0L until 32L))
    val orders = graft.tables.Tables.orders(spark, sf0001)
      .select(col("o_custkey"),
        round(lit(100d) * col("o_totalprice")).cast("long").as("cents"),
        pmod(graft.textops.TextAnalysis.md5Long(concat(
          col("o_custkey").cast("string"), lit("|shard"))), lit(32L)).as("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == orders.length.toLong)
    assert(rows.map(_._3).sum == orders.map(_._2).sum)
    // per-shard load ppm sums to ~32M (floor loses < 32 ppm)
    val loadSum = rows.map(_._7).sum
    assert(loadSum <= 32000000L && loadSum > 32000000L - 32 * 32,
      s"load ppm column must close: $loadSum")
    // hot-key attribution replays per shard
    val byShard = orders.groupBy(_._3)
    rows.foreach { case (sh, nRows, cents, nKeys, hotK, hotN, _) =>
      val xs = byShard(sh)
      assert(nRows == xs.length.toLong)
      assert(cents == xs.map(_._2).sum)
      val keyCounts = xs.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
      assert(nKeys == keyCounts.size.toLong)
      val expect = keyCounts.toSeq.maxBy { case (k, n) => (n, k) }
      assert((hotK, hotN) == ((expect._1, expect._2)), s"shard $sh hot key")
    }
  }

  test("q287: key-grain aggregate then 32-row summary — no window, no product") {
    val plan = planOf("q287_shard_skew")
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
