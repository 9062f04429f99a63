package graft.operators

import graft.SparkSpec
import graft.SparkEntry
import org.apache.spark.sql.functions._

/** Semantic invariants for the q68–q74 advanced-analytics set — the
  * properties that must hold beyond the DuckDB oracle's value equality.
  */
class AnalyticsSpec extends SparkSpec {

  private def run(name: String, dir: String = sf001) =
    SparkEntry.queries(name)(spark, dir)

  test("q68: grand total row equals the sum of the detail level") {
    val rows = run("q68_grouping_sets").collect()
    val detail = rows.filter(_.getAs[Long]("grp_id") == 0L)
    val grand = rows.filter(_.getAs[Long]("grp_id") == 3L)
    assert(grand.length == 1)
    val detailN = detail.map(_.getAs[Long]("n")).sum
    assert(grand.head.getAs[Long]("n") == detailN)
    // sums agree to rounding noise (each level is independently rounded)
    val detailSum = detail.map(_.getAs[Double]("sum_base")).sum
    assert(math.abs(grand.head.getAs[Double]("sum_base") - detailSum) < 0.1)
  }

  test("q69: percentiles are monotone within each group") {
    run("q69_percentiles").collect().foreach { r =>
      val ps = Seq("p25_price", "p50_price", "p90_price", "p99_price")
        .map(r.getAs[Double])
      assert(ps == ps.sorted, s"non-monotone percentiles: $ps")
    }
  }

  test("q70: gap-fill grid is complete and event counts are conserved") {
    val out = run("q70_gapfill").cache()
    val types = out.select("event_type").distinct().count()
    val hours = out.select("hour").distinct().count()
    assert(out.count() == types * hours, "grid must be the full cross product")
    val total = out.agg(sum("n_events")).head.getLong(0)
    val expected = graft.tables.Tables.events(spark, sf001).count()
    assert(total == expected, "resample must conserve the event count")
    out.unpersist()
  }

  test("q71: funnel stage counts are non-increasing") {
    val counts = run("q71_funnel").orderBy("stage")
      .collect().map(_.getAs[Long]("n_users")).toSeq
    assert(counts.length == 4)
    assert(counts == counts.sorted.reverse, s"funnel must narrow: $counts")
    assert(counts.head > 0)
  }

  test("q72: bloom pre-filter changes nothing vs the exact dictionary join") {
    val bloom = run("q72_bloom_decontaminate").collect().toSeq
    val exact = run("q58_decontaminate").collect().toSeq
    assert(bloom == exact, "confirm-join must cancel bloom false positives")
  }

  test("q73: planted twin docs keep only their divergent tail chunk") {
    val out = run("q73_chunk_dedup").cache()
    val twins = out.filter(col("doc_id") >= 1000000L).collect()
    assert(twins.length == 10)
    twins.foreach { r =>
      assert(r.getAs[Long]("n_kept") == 1L,
        s"twin ${r.getAs[Long]("doc_id")} kept ${r.getAs[Long]("n_kept")} chunks")
    }
    // ownership is a partition: kept never exceeds total
    assert(out.filter(col("n_kept") > col("n_chunks")).count() == 0)
    out.unpersist()
  }

  test("q75: sessionization partitions all events into gap-bounded sessions") {
    val out = run("q75_sessionize").cache()
    val total = out.agg(sum("n_events")).head.getLong(0)
    assert(total == graft.tables.Tables.events(spark, sf001).count(),
      "every event must land in exactly one session")
    assert(out.filter(col("dur_us") < 0).count() == 0)
    // session ids are dense from 1 per user
    val ids = out.groupBy("user_id")
      .agg(min("session_id").as("lo"), max("session_id").as("hi"),
        count(lit(1)).as("k")).collect()
    ids.foreach { r =>
      assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == r.getAs[Long]("k"))
    }
    out.unpersist()
  }

  test("q76: rolling 7-day distinct dominates the daily distinct") {
    val rolling = run("q76_rolling_distinct")
      .withColumnRenamed("wd", "d").withColumnRenamed("u7", "u")
    val daily = graft.tables.Tables.eventsTs(spark, sf001)
      .select(col("event_type"), date_trunc("day", col("ts")).as("d"), col("user_id"))
      .distinct()
      .groupBy("event_type", "d").agg(countDistinct("user_id").as("u1"))
    val violations = rolling.join(daily, Seq("event_type", "d"))
      .filter(col("u") < col("u1")).count()
    assert(violations == 0, "window count must be >= its last day's count")
  }

  test("q77: histogram conserves the row count within bounded buckets") {
    val out = run("q77_histogram").collect()
    assert(out.map(_.getAs[Long]("cnt")).sum ==
      graft.tables.Tables.events(spark, sf001).count())
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 19)
      assert(r.getAs[Double]("hi") - r.getAs[Double]("lo") == 5.0)
    }
  }

  test("q78: rarity ranking is descending and strictly positive") {
    val rows = run("q78_rarity_score").collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Long]("rarity")).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.last > 0)
  }

  test("q79: anomaly ranking is by descending |z| with sane magnitudes") {
    val rows = run("q79_anomaly").collect()
    assert(rows.length == 20)
    val zs = rows.map(r => math.abs(r.getAs[Double]("z"))).toSeq
    assert(zs == zs.sorted.reverse, "must rank by |z| descending")
    // uniform-ish event values: extreme z would mean a broken moment calc
    assert(zs.head < 10.0 && zs.head > 0.5)
  }

  test("q80: collocations are frequent well-formed bigrams ranked by PMI") {
    val rows = run("q80_collocations").collect()
    assert(rows.length == 20)
    val pmis = rows.map(_.getAs[Double]("pmi")).toSeq
    assert(pmis == pmis.sorted.reverse)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ab") >= 5L)
      assert(r.getAs[String]("pair").split(" ").length == 2)
    }
  }

  test("q81: weighted sample keeps ≈ the mean quality fraction, deterministically") {
    val docs = graft.tables.Tables.documents(spark, sf001)
    val kept = run("q81_weighted_sample").count().toDouble
    val total = docs.count().toDouble
    val meanQ = docs
      .agg(avg(graft.textops.TextAnalysis.qualityScore(col("text")))).head.getDouble(0)
    // law of large numbers at n=500: keep rate within ±7pp of mean quality
    assert(math.abs(kept / total - meanQ) < 0.07,
      s"keep rate ${kept / total} vs mean quality $meanQ")
    // content-addressed coin: identical under repartitioning
    val ids1 = run("q81_weighted_sample").collect().map(_.getLong(0)).toSeq
    val ids2 = SparkEntry.queries("q81_weighted_sample")(spark, sf001)
      .repartition(13).orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids1 == ids2)
  }

  test("q74: count-min never underestimates and tracks heavy hitters") {
    val rows = run("q74_countmin").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_cnt")
      val est = r.getAs[Long]("cms_est")
      assert(est >= exact, s"CMS underestimated ${r.getAs[String]("w")}")
    }
  }

  test("q99: equi-depth bins are balanced, ordered, and conserve rows") {
    val rows = run("q99_equidepth_bins").collect()
    assert(rows.map(_.getAs[Int]("bin")).toSeq == (1 to 10))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1, s"ntile bins must differ by <=1 row: ${ns.toSeq}")
    // bins cover non-overlapping ascending cent ranges
    rows.sortBy(_.getAs[Int]("bin")).sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi_cents") <= b.getAs[Long]("lo_cents"))
    }
  }

  test("q100: skew report is internally consistent") {
    val r = run("q100_skew_report").head
    val (nRows, nKeys) = (r.getAs[Long]("n_rows"), r.getAs[Long]("n_keys"))
    val maxCnt = r.getAs[Long]("max_cnt")
    assert(nKeys > 0 && nRows >= nKeys && maxCnt >= nRows / nKeys)
    assert(r.getAs[Long]("max_share_bp") == 10000 * maxCnt / nRows)
    assert(r.getAs[Long]("n_hot") >= 0 && r.getAs[Long]("n_hot") < nKeys)
  }

  test("q153: the k-anonymity histogram partitions the whole customer table") {
    val rows = run("q153_k_anonymity").collect()
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val customers = spark.read.parquet(s"$sf001/customer.parquet").count()
    assert(total == customers, s"histogram covers $total of $customers rows")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_customers") ==
        r.getAs[Long]("grp_size") * r.getAs[Long]("n_groups"))
    }
  }

  test("q156: information inequalities hold — 0 ≤ MI ≤ min(H(lang), H(source))") {
    val r = run("q156_mutual_info").head
    val (mi, hl, hs) = (r.getAs[Long]("mi_micronat"),
      r.getAs[Long]("h_lang_micronat"), r.getAs[Long]("h_source_micronat"))
    assert(mi >= 0 && hl >= 0 && hs >= 0)
    assert(mi <= math.min(hl, hs), s"MI $mi exceeds an entropy bound ($hl, $hs)")
    // H ≤ ln(support): 5 langs, 20 sources on this corpus
    assert(hl <= math.round(1e6 * math.log(r.getAs[Long]("n_lang").toDouble)) + 1)
    assert(hs <= math.round(1e6 * math.log(r.getAs[Long]("n_source").toDouble)) + 1)
  }

  test("q157: Luhn verdicts match a sequential reference checksum") {
    val rows = run("q157_luhn_pii").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cand = r.getAs[String]("cand")
      assert(cand.length == 16 && cand.forall(_.isDigit))
      // standard Luhn: from the right, double every second digit
      val total = cand.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = 2 * d; if (x > 9) x - 9 else x } else d
      }.sum
      assert(r.getAs[Long]("luhn_total") == total)
      assert(r.getAs[Boolean]("luhn_valid") == (total % 10 == 0))
    }
  }

  test("q158: association-rule arithmetic is internally consistent") {
    val rows = run("q158_assoc_rules").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nab, na, nb) = (r.getAs[Long]("nab"), r.getAs[Long]("na"), r.getAs[Long]("nb"))
      assert(nab >= 3 && nab <= math.min(na, nb), "support exceeds an item count")
      assert(r.getAs[Long]("conf_ab_bp") == 10000 * nab / na)
      assert(r.getAs[Long]("conf_ab_bp") <= 10000)
      assert(r.getAs[Long]("lift_micro") > 0)
    }
    val lifts = rows.map(_.getAs[Long]("lift_micro")).toSeq
    assert(lifts == lifts.sorted.reverse, "must rank by lift descending")
  }

  test("q159: PSI of a distribution against itself is exactly zero") {
    // same-seed halves differ, so the catalog value is nonzero — but the
    // METRIC must vanish when ref == actual; replay the q159 math with
    // both halves set to the full corpus
    import graft.textops.TextAnalysis
    val toks = split(col("text"), " ")
    val m = graft.tables.Tables.documents(spark, sf001).select(
      least(floor(size(filter(toks,
          w => w.isin("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))
        .cast("long") * 10L / size(toks).cast("long")), lit(9L)).as("bucket"))
    val g = m.groupBy("bucket").agg(count(lit(1)).as("na"))
      .withColumn("nb", col("na"))
    val tot = g.agg(sum("na").as("ta"), sum("nb").as("tb"), count(lit(1)).as("nbk"))
    val pa = (col("na") + 1).cast("double") / (col("ta") + col("nbk"))
    val pb = (col("nb") + 1).cast("double") / (col("tb") + col("nbk"))
    val terms = g.crossJoin(tot)
      .select(round(lit(1000000) * (pa - pb) * log(pa / pb)).cast("long").as("q"))
      .collect().map(_.getLong(0))
    assert(terms.forall(_ == 0L))
    // and the shipped query's terms are finite and its buckets valid
    run("q159_psi_drift").collect().foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") <= 9)
      assert(math.abs(r.getAs[Long]("psi_micro")) < 10000000L)
    }
  }

  test("q160: the monthly-histogram state brackets the exact median") {
    val r = run("q160_incremental_quantile").head
    assert(r.getAs[Boolean]("bracketed"))
    assert(r.getAs[Boolean]("incremental_merge_exact"))
    val (lo, hi, ex) = (r.getAs[Long]("p50_bucket_lo"),
      r.getAs[Long]("p50_bucket_hi"), r.getAs[Long]("exact_p50"))
    assert(hi - lo == 10000L, "bucket width must be $100 in cents")
    assert(ex >= lo && ex < hi)
    assert(r.getAs[Long]("n_rows") ==
      spark.read.parquet(s"$sf001/lineitem.parquet").count())
  }

  test("q161: transition probabilities are a stochastic matrix in basis points") {
    val rows = run("q161_event_transitions").collect()
    assert(rows.nonEmpty)
    // per prev-state: floor(10000*n/np) sums to within n_states of 10000
    rows.groupBy(_.getAs[String]("prev")).foreach { case (prev, rs) =>
      val bpSum = rs.map(_.getAs[Long]("prob_bp")).sum
      assert(bpSum <= 10000 && bpSum > 10000 - rs.length,
        s"$prev rows sum to $bpSum bp")
    }
    // transitions conserve: total n = events - one first-event per user
    val ev = graft.tables.Tables.events(spark, sf001)
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == want)
  }

  test("q162: budget fill is greedy-prefix exact per source") {
    val rows = run("q162_token_budget_fill").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tok_kept") <= 300L)
      assert(r.getAs[Long]("fill_bp") <= 10000L)
    }
    // sequential reference: sort each source by (md5-order, id), take
    // docs while the running token total stays within budget
    import org.apache.spark.sql.functions.{col, size, split}
    val docs = graft.tables.Tables.documents(spark, sf001)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        graft.textops.TextAnalysis.md5Long(col("doc_id").cast("string")).as("ord"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = docs.groupBy(_._1).flatMap { case (src, ds) =>
      var cum = 0L
      val kept = ds.sortBy(d => (d._4, d._2)).takeWhile { d =>
        cum += d._3; cum <= 300L
      }
      if (kept.isEmpty) None
      else Some(src -> (kept.size.toLong, kept.map(_._3).sum))
    }
    val got = rows.map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("n_kept"), r.getAs[Long]("tok_kept"))).toMap
    assert(got == want, s"got $got want $want")
  }

  test("q164: fingerprints are partition-invariant and change on any row edit") {
    val base = run("q164_dataset_fingerprint")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // recompute over a different partitioning — XOR folds must agree
    import graft.textops.TextAnalysis
    val again = graft.tables.Tables.documents(spark, sf001).repartition(13)
      .select(col("source"), TextAnalysis.md5Long(
        concat_ws("|", col("doc_id").cast("string"), md5(col("text")))).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base == again)
    // flipping one document's text flips exactly that source's fingerprint
    val mutated = graft.tables.Tables.documents(spark, sf001)
      .withColumn("text", when(col("doc_id") === 7, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val changedSrc = graft.tables.Tables.documents(spark, sf001)
      .filter(col("doc_id") === 7).select("source").head.getString(0)
    val mut = mutated
      .select(col("source"), TextAnalysis.md5Long(
        concat_ws("|", col("doc_id").cast("string"), md5(col("text")))).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    base.foreach { case (src, n, fp) =>
      if (src == changedSrc) assert(mut(src) != ((n, fp)), "edit went undetected")
      else assert(mut(src) == ((n, fp)), s"unrelated source $src drifted")
    }
  }

  test("q165: shards carry the whole corpus in near-equal token mass") {
    val rows = run("q165_token_shards").collect()
    val docs = graft.tables.Tables.documents(spark, sf001)
    val totalTok = docs.agg(sum(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    assert(rows.map(_.getAs[Long]("tokens")).sum == totalTok,
      "shards must conserve the corpus token mass")
    val maxDoc = docs.agg(max(size(split(col("text"), " ")).cast("long")))
      .head.getLong(0)
    val shards = rows.map(_.getAs[Long]("shard")).sorted.toSeq
    assert(shards == (shards.min to shards.max).toSeq, "shard ids must be dense")
    // start-based assignment: every shard except the last is within one
    // max-document of the 2000-token target
    rows.sortBy(_.getAs[Long]("shard")).dropRight(1).foreach { r =>
      assert(math.abs(r.getAs[Long]("tokens") - 2000L) < maxDoc,
        s"shard ${r.getAs[Long]("shard")} mass ${r.getAs[Long]("tokens")}")
    }
  }

  test("q166: no near-dup pair ever crosses a split boundary") {
    val split = run("q166_leakage_safe_split").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // recompute the pair set the query clustered on
    import graft.dedup.Dedup
    val docs = graft.tables.Tables.documents(spark, sf001).select("doc_id", "text")
    val twins = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graftplantedtail")).as("text"))
    val pairs = Dedup.nearDupPairs(docs.union(twins), threshold = 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "planted twins must produce pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dups $a/$b landed in ${split(a)}/${split(b)} — leakage")
    }
    // and the split is still roughly 80/10/10 over clusters
    val frac = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(frac("train") > frac.getOrElse("val", 0) &&
      frac("train") > frac.getOrElse("test", 0))
  }

  test("q167: the deletion cascade reconciles against direct recomputation") {
    val rows = run("q167_deletion_sweep").collect()
      .map(r => r.getAs[String]("tbl") ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_purged"), r.getAs[Long]("n_kept")))
      .toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem", "events"))
    rows.values.foreach { case (t, p, k) => assert(t == p + k && p >= 0) }
    // the cascade is closed: purging all subjects' orders leaves no
    // lineitem of a purged order behind
    val cust = spark.read.parquet(s"$sf001/customer.parquet")
    val subj = cust.filter(col("c_custkey") % 97 === 0).count()
    assert(rows("customer")._2 == subj)
    assert(rows("orders")._2 >= subj || subj == 0,
      "every subject has >= 1 order in TPC-H-ish data")
    assert(rows("lineitem")._2 >= rows("orders")._2,
      "each purged order carries >= 1 lineitem")
  }

  test("q152: every cohort retains 100% of itself at week offset 0") {
    val rows = run("q152_retention_cohort").collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_week"))
    byCohort.foreach { case (cw, rs) =>
      val at0 = rs.filter(_.getAs[Long]("week_offset") == 0L)
      assert(at0.length == 1, s"cohort $cw missing its offset-0 row")
      assert(at0.head.getAs[Long]("retention_bp") == 10000L,
        s"cohort $cw offset-0 retention != 100%")
      // later offsets never exceed the cohort size
      val size0 = at0.head.getAs[Long]("n_users")
      rs.foreach(r => assert(r.getAs[Long]("n_users") <= size0))
      rs.foreach(r => assert(r.getAs[Long]("retention_bp") <= 10000L))
    }
  }

  test("q199: NB confusion matrix equals a sequential reference classifier") {
    val got = run("q199_nb_langid", sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    // sequential reference: same split rule, same Laplace weights, same
    // micro-unit quantization, same argmax tie-break — computed with
    // plain Scala collections on the driver
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (train, test) =
      docs.partition(d => graft.HashReplay.md5Long(s"${d._1}|graftnb") % 10000 < 8000)
    assert(test.nonEmpty && train.nonEmpty)
    val ct = scala.collection.mutable.Map.empty[(String, String), Long]
    train.foreach { case (_, l, t) =>
      t.split(" ", -1).foreach(tok => ct((l, tok)) = ct.getOrElse((l, tok), 0L) + 1) }
    val nl = ct.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = ct.keys.map(_._2).toSet.size.toLong
    val dl = train.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val dTot = train.length.toLong
    def q(x: Double): Long = math.round(1e6 * math.log(x))
    val langs = dl.keys.toSeq.sorted
    val prior = langs.map(l => l -> q(dl(l).toDouble / dTot)).toMap
    val w0 = langs.map(l => l -> q(1.0 / (nl(l) + v))).toMap
    val conf = scala.collection.mutable.Map.empty[(String, String), Long]
    test.foreach { case (_, trueLang, t) =>
      val toks = t.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong)
      val pred = langs.map { l =>
        val s = prior(l) + toks.map { case (tok, cnt) =>
          cnt * ct.get((l, tok)).map(c => q((c + 1).toDouble / (nl(l) + v)))
            .getOrElse(w0(l))
        }.sum
        (-s, l)
      }.min._2
      conf((trueLang, pred)) = conf.getOrElse((trueLang, pred), 0L) + 1
    }
    assert(got == conf.toMap, s"got $got\nexpected $conf")
  }

  test("q203: Wilson bounds equal a driver-side recompute; bound sits below the raw rate") {
    val rows = run("q203_wilson_rank", sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, got) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val nd = n.toDouble; val ph = k.toDouble / nd
      val want = math.round(1000000 * ((ph + (1.96 * 1.96) / (2 * nd)
        - 1.96 * math.sqrt(ph * (1 - ph) / nd
          + (1.96 * 1.96) / (4 * nd * nd)))
        / (1 + (1.96 * 1.96) / nd)))
      assert(got == want, s"${r.getString(0)}: got $got want $want")
      // the lower bound never reaches the raw rate (unless p̂ = 0)
      if (k > 0) assert(got < math.round(1000000 * ph))
    }
    // ranking is exactly by (wilson_lb_q desc, source)
    val ranked = rows.sortBy(_.getLong(4))
    val resorted = rows.sortBy(r => (-r.getLong(3), r.getString(0)))
    assert(ranked.map(_.getString(0)).toSeq == resorted.map(_.getString(0)).toSeq)
  }

  test("q204: train_pos is the (decile, round-robin, source) total order, deciles balanced") {
    val rows = run("q204_curriculum", sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val n = rows.length
    assert(rows.map(_._4).sorted.toSeq == (1L to n).toSeq,
      "train_pos must be a permutation of 1..n")
    // decile sizes are ntile-balanced (within 1)
    val sizes = rows.groupBy(_._3).values.map(_.size)
    assert(sizes.max - sizes.min <= 1, sizes.toSeq.sorted)
    // the order interleaves: within a decile, position p of every source
    // precedes position p+1 of every source
    rows.groupBy(_._3).foreach { case (_, ds) =>
      val bySource = ds.groupBy(_._2).values
      val rounds = bySource.map(_.map(_._4).sorted.toVector)
      // round r of any source < round r+1 of any source
      val maxByRound = rounds.flatMap(_.zipWithIndex).groupBy(_._2)
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      maxByRound.sliding(2).foreach {
        case Seq(a, b) => assert(a.max < b.min,
          "a later round started before an earlier round finished")
        case _ =>
      }
    }
  }

  test("q205: PR curve is internally consistent") {
    val rows = run("q205_minhash_pr", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(5000L, 6000L, 7000L, 8000L, 9000L))
    // actual positives (tp+fn) never increase as the threshold rises
    val actuals = rows.map(r => r._2 + r._4)
    assert(actuals.zip(actuals.tail).forall { case (a, b) => a >= b }, actuals.toSeq)
    rows.foreach { case (tau, tp, fp, fn, prec, rec) =>
      if (tp + fp > 0)
        assert(prec == 10000L * tp / (tp + fp), s"precision at $tau")
      if (tp + fn > 0)
        assert(rec == 10000L * tp / (tp + fn), s"recall at $tau")
      assert(prec <= 10000L && rec <= 10000L)
    }
    // the planted tail twins are found somewhere: some tau has tp > 0
    assert(rows.exists(_._2 > 0))
  }

  test("q206: dedup zeroes the laundered source; shares are conserved ppm partitions") {
    val rows = run("q206_dedup_mixture_shift", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val byName = rows.map(r => r._1 -> r).toMap
    // the duplicate-laundering source loses everything
    val dup = byName("srcdup")
    assert(dup._2 > 0 && dup._3 == 0L && dup._5 == 0L,
      s"srcdup must be zeroed by dedup: $dup")
    // every real source keeps all its tokens (originals win min(doc_id))
    rows.filter(_._1 != "srcdup").foreach { r =>
      assert(r._3 == r._2, s"${r._1} lost tokens it owned first") }
    // ppm shares partition the whole (floor rounding loses < n_sources ppm)
    val sb = rows.map(_._4).sum; val sa = rows.map(_._5).sum
    assert(sb > 1000000L - rows.length && sb <= 1000000L)
    assert(sa > 1000000L - rows.length && sa <= 1000000L)
    // deltas say: real sources gained exactly what srcdup lost (in ppm space)
    rows.foreach { r => assert(r._6 == r._5 - r._4) }
    assert(rows.filter(_._1 != "srcdup").forall(_._6 >= 0))
  }

  test("q207: bootstrap CI equals a sequential driver-side replay of the same resamples") {
    val got = run("q207_bootstrap_ci", sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val stops = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val toks = r.getString(2).split(" ", -1)
        (r.getLong(0), r.getString(1),
          toks.count(stops) * 1000000L / toks.length)
      }
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val scores = ds.sortBy(_._1).map(_._3) // rn order = doc_id order
      val n = scores.length
      val means = (0 until 200).map { b =>
        val s = (0 until n).map { j =>
          scores((graft.HashReplay.md5Long(s"bs:$src:$b:$j") % n).toInt)
        }.sum
        (s / n, b)
      }.sorted
      val (nd, mean, lo, hi) = got(src)
      assert(nd == n && mean == scores.sum / n, s"$src point estimate")
      assert(lo == means(4)._1 && hi == means(195)._1,
        s"$src CI: got ($lo,$hi) want (${means(4)._1},${means(195)._1})")
      assert(lo <= hi)
    }
  }

  test("q208: half-langid agrees with whole-doc langId on the halves; planted tails are Spanish") {
    import graft.textops.TextAnalysis
    val rows = run("q208_code_switch", sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    val planted = rows.filter(_._1 >= 1000000L)
    assert(planted.length == 10)
    planted.foreach { p =>
      assert(p._3 == "es", s"planted tail of ${p._1} not Spanish: $p") }
    // mixed is exactly the disagreement flag
    rows.foreach(r => assert(r._4 == (r._2 != r._3)))
    // spot-check 20 docs: applying the library langId to each half
    // reproduces the query's per-half labels
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 20).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    import spark.implicits._
    val byId = rows.map(r => r._1 -> r).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val half = (toks.length + 1) / 2
      val df = Seq((toks.take(half).mkString(" "), toks.drop(half).mkString(" ")))
        .toDF("h", "t")
        .select(TextAnalysis.langId($"h"), TextAnalysis.langId($"t")).head()
      assert(byId(id)._2 == df.getString(0) && byId(id)._3 == df.getString(1),
        s"doc $id half labels drifted from TextAnalysis.langId")
    }
  }

  test("q211: every canary surfaces exactly at its plant site, nowhere else") {
    val got = run("q211_canary_audit", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.operators.PipelineQueries.canaries.zipWithIndex
      .map { case (c, i) => (c, i.toLong * 7L) }.toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("q212: whitening params equal a driver recompute; applying them standardizes") {
    val got = run("q212_embedding_whiten", sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // HALF_UP away from zero — Spark/DuckDB round(), NOT math.round
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => rnd(x.toDouble * 1e6)))
    val dims = vecs.head.length
    assert(got.size == dims)
    (0 until dims).foreach { d =>
      val col = vecs.map(_(d))
      val n = col.length
      val mean = rnd(col.sum.toDouble / n)
      val varq2 = col.map(q => (q - mean) * (q - mean)).sum / n
      val std = rnd(math.sqrt(varq2.toDouble))
      val (gn, gm, gs) = (got(d + 1L)._1, got(d + 1L)._2, got(d + 1L)._3)
      assert(gn == n && gm == mean && gs == std, s"dim ${d + 1}")
      // applying (x - mean)/std standardizes: |mean'| ≪ 1, var' ≈ 1
      val z = col.map(q => (q - mean).toDouble / std)
      assert(math.abs(z.sum / n) < 0.01)
      val v = z.map(x => x * x).sum / n
      assert(v > 0.9 && v < 1.1, s"dim ${d + 1} post-var $v")
    }
  }

  test("q214: chi-squared terms equal the exact integer formula; verdict is consistent") {
    val rows = run("q214_split_gof", sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.map(_._1).sorted.toSeq == Seq("test", "train", "val"))
    val n = rows.map(_._2).sum
    rows.foreach { case (split, obs, term, chi2, ok) =>
      val w = if (split == "train") 8000L else 1000L
      val num = BigInt(10000L * obs - n * w)
      val want = (num * num * 1000000 / (BigInt(10000) * n * w)).toLong
      assert(term == want, s"$split term")
      assert(chi2 == rows.map(_._3).sum, "chi2 must be the term sum")
      assert(ok == (chi2 <= 5991465L))
    }
  }

  test("q218: Neyman never loses to proportional; values equal a driver recompute") {
    val r = run("q218_neyman_alloc", sf0001).head()
    val (n, vp, vn, gain) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(vn <= vp && gain >= 0, s"Cauchy-Schwarz violated: $vp $vn $gain")
    // driver recompute of the whole chain
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val stops = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").collect()
      .map { row =>
        val toks = row.getString(1).split(" ", -1)
        (row.getString(0), toks.count(stops) * 1000000L / toks.length)
      }
    val per = docs.groupBy(_._1).toSeq.map { case (_, ds) =>
      val sc = ds.map(_._2)
      val nh = sc.length.toLong
      val mean = rnd(sc.sum.toDouble / nh)
      val varq = sc.map(q => BigInt(q - mean) * BigInt(q - mean)).sum / nh
      (nh, rnd(math.sqrt(varq.toDouble)))
    }.toSeq
    val nn = per.map(_._1).sum
    val a = per.map { case (nh, s) => BigInt(nh) * s * s }.sum
    val b = per.map { case (nh, s) => BigInt(nh) * s }.sum
    assert(n == nn)
    assert(vp == (a / nn).toLong && vn == (b * b / (BigInt(nn) * nn)).toLong)
    assert(gain == ((a * nn - b * b) * 10000 / (a * nn)).toLong)
  }

  test("q220: IDF weighting punishes a rare-token divergence far beyond plain jaccard") {
    val rows = run("q220_idf_jaccard", sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 10)
    rows.foreach { case (id, inter, union, jacc, widf) =>
      // the twin differs by exactly one (corpus-unseen) token
      assert(union == inter + 1, s"pair $id")
      assert(jacc == 10000L * inter / union)
      // that token carries the maximum possible idf, so the weighted
      // score drops far below the count-based one
      assert(widf < jacc - 2000, s"pair $id: widf $widf vs jacc $jacc")
      assert(widf >= 0 && widf <= 10000)
    }
  }
}
