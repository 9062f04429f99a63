package graft.operators

import graft.catalog.QueryDef
import graft.operators.OracleSql.pctlSql
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced analytics + scale-path operators, round-2 extension set:
  * grouping sets, exact percentiles, time-series gap-fill with forward
  * fill, funnel analysis, bloom-filter decontamination, chunk-level
  * exact-substring dedup, and a count-min sketch with an exact oracle.
  *
  * Reference surface: the MapReduce engine has none of these (SURVEY.md
  * §2.4 ABSENT rows); they are the Spark-first extension surface a
  * training-data pipeline needs on top of the reference's scan → map →
  * shuffle → reduce core (/root/reference/src/mr/worker.go:76-190).
  *
  * Scale notes (100 TB):
  *  - grouping sets / percentiles: single shuffle each; percentiles use
  *    exact integer cents so the result is partition-order independent.
  *  - gap-fill: the grid is |types| × |hours| (tiny) — built from a
  *    broadcastable aggregate, never by exploding the fact table.
  *  - funnel: all four stages key the shuffle on user_id, so Catalyst
  *    reuses one exchange; state per user is O(1).
  *  - bloom decontamination: the benchmark-gram bloom filter (~1 MB)
  *    replaces a multi-GB broadcast dictionary at the scan; the exact
  *    confirm-join then runs on the ~1% of grams that pass, restoring
  *    exactness (bloom has no false negatives).
  *  - chunk dedup: one shuffle on chunk hash; ownership by global
  *    (doc_id, chunk_idx) min is a window over that same partitioning.
  *  - count-min: the sketch is 4×1024 longs regardless of corpus size —
  *    the canonical fixed-memory heavy-hitter scale path; estimates are
  *    checked against exact counts by the oracle.
  */
object AnalyticsQueries {

  private val toksSql = OracleSql.wsTokens()

  val defs: Seq[QueryDef] = Seq(

    // ---- grouping sets (explicit, beyond rollup/cube) ----
    QueryDef(
      "q68_grouping_sets",
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
         |       coalesce(l_linestatus, 'ALL') AS lstat,
         |       GROUPING(l_returnflag, l_linestatus) AS grp_id,
         |       round(CAST(sum(${Exact.centsSql("l_extendedprice")}) AS DOUBLE) / 100, 2) AS sum_base,
         |       count(*) AS n
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         |ORDER BY grp_id, rflag, lstat""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")),
            Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(Exact.cents(col("l_extendedprice"))).cast("double") / 100, 2).as("sum_base"),
          count(lit(1)).as("n"),
          grouping_id().as("grp_id"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstat"),
          col("grp_id"), col("sum_base"), col("n"))
        .orderBy("grp_id", "rflag", "lstat")
    },

    // ---- exact percentiles (interpolated, on exact integer cents) ----
    // The oracle replicates Spark Percentile's interpolation formula
    // ((h-rank)*v[l] + (rank-l)*v[h]) term-for-term on a sorted list, so
    // both engines run the same double arithmetic on the same exact ints
    // → identical bits. Final rounding is integer-quantized at scale 0
    // (round(x*10^k) → BIGINT → /10^k): round(x, k) is NOT portable —
    // Spark rounds the exact decimal of the double (BigDecimal HALF_UP)
    // while DuckDB rounds the scaled double, and they disagree on
    // half-way inputs (observed on q70 at sf0.1).
    QueryDef(
      "q69_percentiles", {
        def q4(x: String): String = s"CAST(round(($x) * 10000) AS BIGINT) / 10000.0"
        s"""WITH c AS (SELECT l_returnflag, ${Exact.centsSql("l_extendedprice")} AS cents, l_quantity
           |           FROM lineitem),
           |a AS (SELECT l_returnflag, count(*) AS n,
           |             list(cents ORDER BY cents) AS pc,
           |             list(l_quantity ORDER BY l_quantity) AS qt
           |      FROM c GROUP BY l_returnflag)
           |SELECT l_returnflag,
           |       ${q4(pctlSql("pc", "0.25") + " / 100")} AS p25_price,
           |       ${q4(pctlSql("pc", "0.50") + " / 100")} AS p50_price,
           |       ${q4(pctlSql("pc", "0.90") + " / 100")} AS p90_price,
           |       ${q4(pctlSql("pc", "0.99") + " / 100")} AS p99_price,
           |       ${q4(pctlSql("qt", "0.50"))} AS p50_qty,
           |       n
           |FROM a ORDER BY l_returnflag""".stripMargin
      }) { (s, dir) =>
      def q4(c: org.apache.spark.sql.Column) =
        round(c * 10000).cast("long") / 10000.0
      val cents = Exact.cents(col("l_extendedprice"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          q4(percentile(cents, lit(0.25)) / 100).as("p25_price"),
          q4(percentile(cents, lit(0.50)) / 100).as("p50_price"),
          q4(percentile(cents, lit(0.90)) / 100).as("p90_price"),
          q4(percentile(cents, lit(0.99)) / 100).as("p99_price"),
          q4(percentile(col("l_quantity"), lit(0.50))).as("p50_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ---- time-series gap-fill: hourly resample + forward fill ----
    QueryDef(
      "q70_gapfill",
      s"""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hour,
         |                  ${Exact.centsSql("value")} AS vc
         |           FROM events),
         |h AS (SELECT event_type, hour, count(*) AS cnt, sum(vc) AS sc
         |      FROM e GROUP BY 1, 2),
         |b AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
         |grid AS (SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |         FROM (SELECT DISTINCT event_type FROM e), b),
         |j AS (SELECT g.event_type, g.hour, h.cnt,
         |             CAST(round(CAST(h.sc AS DOUBLE) * 100 / h.cnt) AS BIGINT) AS avg_q
         |      FROM grid g LEFT JOIN h ON g.event_type = h.event_type AND g.hour = h.hour)
         |SELECT event_type, hour, coalesce(cnt, 0) AS n_events,
         |       last_value(avg_q IGNORE NULLS) OVER (
         |         PARTITION BY event_type ORDER BY hour
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 10000.0 AS filled_avg
         |FROM j ORDER BY event_type, hour""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
          Exact.cents(col("value")).as("vc"))
      val hourly = ev.groupBy("event_type", "hour")
        .agg(count(lit(1)).as("cnt"), sum("vc").as("sc"))
      val bounds = ev.agg(min("hour").as("h0"), max("hour").as("h1"))
      val grid = ev.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("avg_q", round(col("sc").cast("double") * 100 / col("cnt")).cast("long"))
        .select(col("event_type"), col("hour"),
          coalesce(col("cnt"), lit(0L)).as("n_events"),
          (last(col("avg_q"), ignoreNulls = true).over(w) / 10000.0).as("filled_avg"))
        .orderBy("event_type", "hour")
    },

    // ---- funnel analysis: staged first-event ordering per user ----
    QueryDef(
      "q71_funnel",
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > s0.t0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_signup' AS stage, count(*) AS n_users FROM s0
        |  UNION ALL SELECT '2_view', count(*) FROM s1
        |  UNION ALL SELECT '3_click', count(*) FROM s2
        |  UNION ALL SELECT '4_purchase', count(*) FROM s3)
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select("user_id", "event_type", "ts")
      def stage(prev: org.apache.spark.sql.DataFrame, evType: String,
                prevT: String, outT: String) =
        ev.filter(col("event_type") === evType)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevT))
          .groupBy("user_id").agg(min("ts").as(outT))
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t0"))
      val s1 = stage(s0, "view", "t0", "t1")
      val s2 = stage(s1, "click", "t1", "t2")
      val s3 = stage(s2, "purchase", "t2", "t3")
      def cnt(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n_users")).select(lit(label).as("stage"), col("n_users"))
      cnt(s0, "1_signup")
        .unionByName(cnt(s1, "2_view"))
        .unionByName(cnt(s2, "3_click"))
        .unionByName(cnt(s3, "4_purchase"))
        .orderBy("stage")
    },

    // ---- bloom-filter decontamination (scale path; exact result) ----
    // The bloom pre-filter admits ~1% false positives; the broadcast
    // confirm-join removes them, so the output is exactly q58's. At
    // 100 TB the win is that the scan-side filter is a fixed ~1 MB
    // sketch instead of the full gram dictionary. The sketch is built
    // and probed with Spark's native BloomFilterAggregate /
    // BloomFilterMightContain expressions (the machinery behind runtime
    // row-group filters): the build is a distributed aggregate, the
    // probe stays in whole-stage codegen — nothing is collected to or
    // evaluated on the driver (the former Scala-closure UDF probe was).
    QueryDef(
      "q72_bloom_decontaminate", PipelineQueries.decontaminationOracleSql) { (s, dir) =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
      import org.apache.spark.sql.graftbridge.Bridge
      val (bench, train) = PipelineQueries.decontaminationGrams(s, dir)
      // same sizing as the classic bloomFilter(col, n=100000, fpp=0.01)
      val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(100000L, 0.01)
      val bloomDf = bench.agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("g"))),
        Literal(100000L), Literal(numBits)).toAggregateExpression()).as("bf"))
      val mightContain = Bridge.column(BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        Bridge.expression(xxhash64(col("g")))))
      train
        .filter(mightContain)
        .join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("doc_id")
    },

    // ---- chunk-level exact-substring dedup (ExactSubstr-style) ----
    // Fixed 16-token chunks, global first-occurrence ownership by
    // (doc_id, chunk_idx); near-identical docs (the planted twins) keep
    // only their divergent tail chunk.
    QueryDef(
      "q73_chunk_dedup",
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 1000000, text || ' chunktail' || doc_id
         |           FROM documents WHERE doc_id < 10),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |c0 AS (SELECT doc_id, toks,
         |              unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS ci
         |       FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, ci,
         |             ${OracleSql.md5Long("array_to_string(list_slice(toks, ci*16 + 1, ci*16 + 16), ' ')")} AS h
         |      FROM c0),
         |r AS (SELECT doc_id, ci, row_number() OVER (PARTITION BY h ORDER BY doc_id, ci) AS rn
         |      FROM c)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // tail salted with the source doc_id: each twin's divergent chunk is
      // globally unique even if two sources have %16==0 token counts
      // (where the tail chunk would otherwise be the bare marker token)
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" chunktail"), col("doc_id")).as("text"))
      graft.dedup.Dedup.chunkOwnership(docs.unionByName(twins), chunkTokens = 16)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    },

    // ---- lag-gap sessionization (batch; complements session_window) ----
    // 30-minute inactivity gap splits sessions; durations in exact
    // microseconds so both engines agree bit-for-bit.
    QueryDef(
      "q75_sessionize",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM o)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events,
        |       epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.eventsTs(s, dir).select("user_id", "ts", "event_id")
      ev.withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull
            || unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max("ts")) - unix_micros(min("ts"))).as("dur_us"))
        .orderBy("user_id", "session_id")
    },

    // ---- sliding 7-day distinct users (contribution expansion) ----
    // Exact rolling distinct without windowed DISTINCT (which neither
    // engine supports): each active (type, day, user) contributes to the
    // 7 window-end days it falls into, then a plain distinct-agg counts.
    // Scale: ×7 row expansion of the *daily-distinct* set (small), no n²,
    // no unbounded state — the standard scalable rolling-distinct shape.
    QueryDef(
      "q76_rolling_distinct",
      """WITH p AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS d, user_id FROM events),
        |b AS (SELECT min(date_trunc('day', ts)) AS d0, max(date_trunc('day', ts)) AS d1 FROM events),
        |x AS (SELECT event_type, user_id,
        |             unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wd
        |      FROM p)
        |SELECT event_type, wd, count(DISTINCT user_id) AS u7
        |FROM x, b WHERE wd BETWEEN d0 AND d1
        |GROUP BY event_type, wd
        |ORDER BY event_type, wd""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir)
        .select(col("event_type"), date_trunc("day", col("ts")).as("d"), col("user_id"))
      val pairs = ev.distinct()
      val bounds = ev.agg(min("d").as("d0"), max("d").as("d1"))
      pairs
        .select(col("event_type"), col("user_id"),
          explode(sequence(col("d"),
            col("d") + expr("interval 6 days"), expr("interval 1 day"))).as("wd"))
        .crossJoin(broadcast(bounds))
        .filter(col("wd").between(col("d0"), col("d1")))
        .groupBy("event_type", "wd")
        .agg(countDistinct("user_id").as("u7"))
        .orderBy("event_type", "wd")
    },

    // ---- fixed-bin histogram (portable width_bucket) ----
    QueryDef(
      "q77_histogram",
      s"""WITH v AS (SELECT least(CAST(floor(CAST(${Exact.centsSql("value")} AS DOUBLE) / 500) AS BIGINT), 19) AS bucket
         |           FROM events)
         |SELECT bucket,
         |       round(bucket * 5.0, 2) AS lo,
         |       round(bucket * 5.0 + 5.0, 2) AS hi,
         |       count(*) AS cnt
         |FROM v GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(least(floor(Exact.cents(col("value")).cast("double") / 500).cast("long"), lit(19L)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .select(col("bucket"),
          round(col("bucket") * 5.0, 2).as("lo"),
          round(col("bucket") * 5.0 + 5.0, 2).as("hi"),
          col("cnt"))
        .orderBy("bucket")
    },

    // ---- unigram rarity scoring (integer perplexity stand-in) ----
    // Rare-token-heavy documents score high: score = Σ floor(1e9 / df).
    // All-integer arithmetic keeps it engine-portable; a real pipeline
    // swaps the weight for -log p from a trained LM — same plan shape
    // (token explode → df join → per-doc sum).
    QueryDef(
      "q78_rarity_score",
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tk GROUP BY w)
         |SELECT doc_id, CAST(sum(CAST(floor(1000000000 / df) AS BIGINT)) AS BIGINT) AS rarity
         |FROM tk JOIN df USING (w)
         |GROUP BY doc_id
         |ORDER BY rarity DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val tk = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.wsTokens(col("text"))).as("w"))
      val df = tk.groupBy("w").agg(countDistinct("doc_id").as("df"))
      tk.join(df, "w")
        .groupBy("doc_id")
        .agg(sum(floor(lit(1000000000L) / col("df")).cast("long")).as("rarity"))
        .orderBy(col("rarity").desc, col("doc_id"))
        .limit(20)
    },

    // ---- z-score anomaly ranking (exact integer moments) ----
    // Per-type mean/std from exact integer sums (q43 pattern): both
    // engines evaluate the identical double formula on identical exact
    // moments, so z-scores are bit-equal before quantization. 100 TB:
    // one partial-agg shuffle for moments, broadcast back — no second
    // pass over the data for the ranking.
    QueryDef(
      "q79_anomaly",
      s"""WITH v AS (SELECT event_id, event_type, value,
         |                  ${Exact.centsSql("value")} AS vc FROM events),
         |m AS (SELECT event_type, count(*) AS n,
         |             CAST(sum(vc) AS DOUBLE) AS sx,
         |             CAST(sum(CAST(vc AS HUGEINT) * CAST(vc AS HUGEINT)) AS DOUBLE) AS sxx
         |      FROM v GROUP BY event_type),
         |z AS (SELECT v.event_id, v.event_type, v.value,
         |             CAST(round((v.vc * m.n - m.sx) / sqrt(m.n * m.sxx - m.sx * m.sx) * 10000) AS BIGINT) AS zq
         |      FROM v JOIN m USING (event_type))
         |SELECT event_id, event_type, value, zq / 10000.0 AS z
         |FROM z ORDER BY abs(zq) DESC, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val vc = Exact.cents(col("value"))
      val v = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"), vc.as("vc"))
      val vcd = col("vc").cast("decimal(38,0)")
      val m = v.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("vc").cast("double").as("sx"),
          sum(vcd * vcd).cast("double").as("sxx"))
      v.join(broadcast(m), "event_type")
        .withColumn("zq",
          round((col("vc") * col("n") - col("sx"))
            / sqrt(col("n") * col("sxx") - col("sx") * col("sx")) * 10000).cast("long"))
        .select(col("event_id"), col("event_type"), col("value"),
          (col("zq") / 10000.0).as("z"))
        .orderBy(abs(col("zq")).desc, col("event_id"))
        .limit(20)
    },

    // ---- PMI collocation extraction (bigram association mining) ----
    // pmi = ln(p(ab) / (p(a)p(b))) with all counts exact integers and the
    // ratio assembled through 128-bit products; quantized at 1e-4 like
    // q62's tf-idf (libm vs DuckDB ln differ ≤1 ulp, far below the
    // quantum). Two shuffles: bigram counts + unigram counts.
    QueryDef(
      "q80_collocations",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (SELECT array_to_string(list_slice(toks, i, i + 1), ' ') AS pair,
         |              toks[i] AS w1, toks[i+1] AS w2
         |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)),
         |pc AS (SELECT pair, any_value(w1) AS w1, any_value(w2) AS w2, count(*) AS n_ab
         |       FROM bg GROUP BY pair),
         |uc AS (SELECT unnest(toks) AS w FROM t),
         |u AS (SELECT w, count(*) AS n_w FROM uc GROUP BY w),
         |tot AS (SELECT (SELECT count(*) FROM uc) AS nt, (SELECT count(*) FROM bg) AS np)
         |SELECT pair, n_ab,
         |       CAST(round(ln(CAST(CAST(n_ab AS HUGEINT) * nt * nt AS DOUBLE)
         |                     / CAST(CAST(np AS HUGEINT) * a.n_w * b.n_w AS DOUBLE)) * 10000) AS BIGINT)
         |         / 10000.0 AS pmi
         |FROM pc JOIN u a ON pc.w1 = a.w JOIN u b ON pc.w2 = b.w CROSS JOIN tot
         |WHERE n_ab >= 5
         |ORDER BY pmi DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
      val bg = t.filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(
            concat_ws(" ", slice(col("toks"), i + 1, lit(2))).as("pair"),
            element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("b"))
        .select("b.pair", "b.w1", "b.w2")
      val pc = bg.groupBy("pair")
        .agg(first("w1").as("w1"), first("w2").as("w2"), count(lit(1)).as("n_ab"))
      val uc = t.select(explode(col("toks")).as("w"))
      val u = uc.groupBy("w").agg(count(lit(1)).as("n_w"))
      val tot = uc.agg(count(lit(1)).as("nt")).crossJoin(bg.agg(count(lit(1)).as("np")))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      pc.join(u.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "na"), "w1")
        .join(u.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "nb"), "w2")
        .crossJoin(broadcast(tot))
        .filter(col("n_ab") >= 5)
        .withColumn("pmi",
          round(log((dec(col("n_ab")) * dec(col("nt")) * dec(col("nt"))).cast("double")
            / (dec(col("np")) * dec(col("na")) * dec(col("nb"))).cast("double")) * 10000)
            .cast("long") / 10000.0)
        .select(col("pair"), col("n_ab"), col("pmi"))
        .orderBy(col("pmi").desc, col("pair"))
        .limit(20)
    },

    // ---- quality-weighted deterministic sampling (data mixing) ----
    // Each doc keeps with probability = its quality score, decided by a
    // content-addressed coin (md5 of doc_id vs quality basis points): no
    // RNG, no coordinator, identical on any engine/partitioning — the
    // per-document form of q52's uniform hash sampling, used for
    // quality-proportional training mixes. The oracle re-derives the
    // quality formula (same profile as q33's mirror; Scala source of
    // truth is TextAnalysis.qualityScore).
    QueryDef(
      "q81_weighted_sample", {
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
           |q AS (SELECT doc_id,
           |             least(len(toks) / 100.0, 1.0) AS len_score,
           |             CASE WHEN length(text) = 0 THEN 0.0
           |                  ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))
           |                       * 1.0 / length(text) END AS punct_ratio,
           |             CASE WHEN len(toks) = 0 THEN 0.0
           |                  ELSE CAST(len(list_filter(toks, w -> list_contains(${PipelineQueries.textStopwordsSql}, w))) AS DOUBLE)
           |                       / len(toks) END AS stop_ratio
           |      FROM t),
           |b AS (SELECT doc_id,
           |             CAST(round((len_score * 0.4 + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.4
           |                  + least(stop_ratio * 5.0, 1.0) * 0.2) * 10000) AS BIGINT) AS quality_bp
           |      FROM q)
           |SELECT doc_id, quality_bp
           |FROM b
           |WHERE ${OracleSql.md5Long("CAST(doc_id AS VARCHAR)")} % 10000 < quality_bp
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          round(TextAnalysis.qualityScoreRaw(col("text")) * 10000).cast("long").as("quality_bp"))
        .filter(pmod(TextAnalysis.md5Long(col("doc_id").cast("string")), lit(10000)) < col("quality_bp"))
        .orderBy("doc_id")
    },

    // ---- ANN via a PERSISTED IVF index (index lifecycle) ----
    // Build once → write bucket-partitioned parquet + centroid table →
    // search the persisted form. Results are identical to the in-memory
    // q46 build (floats round-trip parquet bit-exactly), so the same
    // full-replay oracle value-checks the persisted path end to end.
    QueryDef(
      "q82_ann_indexed", PipelineQueries.ivfOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      // deterministic per-corpus location, overwritten on re-run — a
      // fresh temp dir per invocation would leak a full corpus copy
      // every verify/bench pass (and an index is a durable artifact by
      // nature: rebuilding it must land in the same place)
      val indexDir = s"${sys.props("java.io.tmpdir")}/graft-ivf-index-" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      graft.similarity.Similarity.writeIvfIndex(emb, indexDir, nBuckets = 16)
      graft.similarity.Similarity
        .ivfTopKIndexed(s, indexDir, queries, k = 10, nprobe = 4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },

    // ---- bag-semantics set ops (EXCEPT ALL / INTERSECT ALL) ----
    // q12 covers set-semantics union/intersect/except; these are the
    // multiset forms (multiplicity-aware), aggregated to counts so the
    // compare is order-insensitive.
    QueryDef(
      "q83_setops_all",
      """WITH ea AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2
        |            EXCEPT ALL
        |            SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1),
        |ia AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 3
        |       INTERSECT ALL
        |       SELECT l_orderkey FROM lineitem WHERE l_linenumber >= 2)
        |SELECT op, l_orderkey, n FROM (
        |  SELECT 'except_all' AS op, l_orderkey, count(*) AS n FROM ea GROUP BY 2
        |  UNION ALL
        |  SELECT 'intersect_all', l_orderkey, count(*) FROM ia GROUP BY 2)
        |ORDER BY op, l_orderkey""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      def keys(cond: org.apache.spark.sql.Column) =
        li.filter(cond).select("l_orderkey")
      val ln = col("l_linenumber")
      val ea = keys(ln <= 2).exceptAll(keys(ln === 1))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("l_orderkey"), col("n"))
      val ia = keys(ln <= 3).intersectAll(keys(ln >= 2))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("l_orderkey"), col("n"))
      ea.unionByName(ia).orderBy("op", "l_orderkey")
    },

    // ---- higher-order map functions (map_filter / transform_values) ----
    // The Spark side genuinely manipulates MapType columns
    // (map_from_entries → map_filter → transform_values → map_values →
    // aggregate); the oracle computes the semantically-equal scalars with
    // filtered aggregates, keeping map internals out of the compare.
    QueryDef(
      "q84_map_higher_order",
      s"""WITH pre AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CAST(sum(${Exact.centsSql("l_extendedprice")}) AS BIGINT) AS c
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT l_orderkey,
         |       count(*) AS n_entries,
         |       CAST(count(*) FILTER (WHERE l_linenumber <= 2) AS INT) AS kept,
         |       CAST(coalesce(sum(c) FILTER (WHERE l_linenumber <= 2), 0) AS BIGINT) AS kept_cents,
         |       CAST(sum(c) * 2 AS BIGINT) AS doubled_cents
         |FROM pre
         |GROUP BY l_orderkey
         |HAVING count(*) >= 4
         |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      val sumVals = (mm: org.apache.spark.sql.Column) =>
        aggregate(map_values(mm), lit(0L), (acc, v) => acc + v)
      Tables.lineitem(s, dir)
        // line numbers repeat per order in the synthetic data; map keys
        // must be unique → pre-aggregate per (order, linenumber)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(Exact.cents(col("l_extendedprice"))).as("c"))
        .groupBy("l_orderkey")
        .agg(map_from_entries(
          collect_list(struct(col("l_linenumber"), col("c")))).as("m"))
        .filter(size(map_keys(col("m"))) >= 4)
        .select(col("l_orderkey"),
          size(map_keys(col("m"))).cast("long").as("n_entries"),
          size(map_keys(map_filter(col("m"), (k, _) => k <= 2))).as("kept"),
          sumVals(map_filter(col("m"), (k, _) => k <= 2)).as("kept_cents"),
          sumVals(transform_values(col("m"), (_, v) => v * 2)).as("doubled_cents"))
        .orderBy("l_orderkey")
    },

    // ---- date arithmetic breadth (add / last_day / trunc / diff) ----
    QueryDef(
      "q85_date_arith",
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) AS d,
        |       CAST(o_orderdate AS DATE) + 30 AS plus30,
        |       last_day(CAST(o_orderdate AS DATE)) AS eom,
        |       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        |       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_left
        |FROM orders WHERE o_orderkey < 100
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val d = to_date(col("o_orderdate"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          d.as("d"),
          date_add(d, 30).as("plus30"),
          last_day(d).as("eom"),
          trunc(d, "mm").as("month_start"),
          datediff(lit("1998-12-31").cast("date"), d).as("days_left"))
        .orderBy("o_orderkey")
    },

    // ---- count-min sketch heavy hitters (exact oracle) ----
    // 4 rows × 1024 buckets over the portable md5-60bit hash: the sketch
    // is replayed bucket-for-bucket in DuckDB, and its min-estimates are
    // reported next to exact counts for the top-20 words.
    QueryDef(
      "q74_countmin",
      s"""WITH toks AS (SELECT unnest($toksSql) AS w FROM documents),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (SELECT r, ${OracleSql.md5Long("r || ':' || w")} % 1024 AS b FROM toks, rs),
         |cms AS (SELECT r, b, count(*) AS c FROM cells GROUP BY 1, 2),
         |exact AS (SELECT w, count(*) AS exact_cnt FROM toks GROUP BY 1),
         |top AS (SELECT w, exact_cnt FROM exact ORDER BY exact_cnt DESC, w LIMIT 20),
         |lk AS (SELECT w, exact_cnt, r, ${OracleSql.md5Long("r || ':' || w")} % 1024 AS b FROM top, rs)
         |SELECT w, exact_cnt, min(c) AS cms_est
         |FROM lk JOIN cms USING (r, b)
         |GROUP BY w, exact_cnt
         |ORDER BY exact_cnt DESC, w""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.wsTokens(col("text"))).as("w"))
      def bucket(r: Int, w: org.apache.spark.sql.Column) =
        pmod(TextAnalysis.md5Long(concat(lit(s"$r:"), w)), lit(1024))
      // ONE scan: each token emits its 4 (row, bucket) cells via
      // posexplode — not 4 unioned re-scans of the corpus
      def cellsOf(df: org.apache.spark.sql.DataFrame) = df.select(
        df.columns.toIndexedSeq.map(col) :+
          posexplode(array((0 until 4).map(r => bucket(r, col("w"))): _*))
            .as(Seq("r", "b")): _*)
      val cms = cellsOf(toks).groupBy("r", "b").agg(count(lit(1)).as("c"))
      val exact = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      val top = exact.orderBy(col("exact_cnt").desc, col("w")).limit(20)
      cellsOf(top).join(broadcast(cms), Seq("r", "b"))
        .groupBy("w", "exact_cnt")
        .agg(min("c").as("cms_est"))
        .orderBy(col("exact_cnt").desc, col("w"))
    },

    // ---- approximate percentile (GK sketch) with a value contract ----
    // Same pattern as q50: the sketch itself is engine-specific, so the
    // output is the exact (oracle-replayable) quantized median plus a
    // deterministic bound check — percentile_approx at accuracy 1000 has
    // rank error ≤0.1%, asserted against the exact p45/p55 envelope
    // (±5% rank, a 50× margin). At 100 TB the approx path is a fixed-size
    // mergeable sketch per group instead of a sorted-list holistic agg.
    QueryDef(
      "q86_approx_quantile", {
        s"""WITH c AS (SELECT l_returnflag, ${Exact.centsSql("l_extendedprice")} AS cents
           |           FROM lineitem),
           |a AS (SELECT l_returnflag, count(*) AS n,
           |             list(cents ORDER BY cents) AS pc
           |      FROM c GROUP BY l_returnflag)
           |SELECT l_returnflag,
           |       CAST(round(${pctlSql("pc", "0.5")}) AS BIGINT) AS p50_cents,
           |       true AS approx_in_bound
           |FROM a ORDER BY l_returnflag""".stripMargin
      }) { (s, dir) =>
      val cents = Exact.cents(col("l_extendedprice"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(percentile(cents, lit(0.5))).cast("long").as("p50_cents"),
          percentile_approx(cents, lit(0.5), lit(1000)).as("ap"),
          percentile(cents, lit(0.45)).as("lo"),
          percentile(cents, lit(0.55)).as("hi"))
        .select(col("l_returnflag"), col("p50_cents"),
          (col("ap") >= floor(col("lo")) && col("ap") <= ceil(col("hi")))
            .as("approx_in_bound"))
        .orderBy("l_returnflag")
    },

    // ---- intra-document repetition (Gopher-style quality filter) ----
    // Fraction of duplicated 3-grams per document, in basis points —
    // the standard "repetitive junk" signal a training-data pipeline
    // filters on. Narrow map over the scan (no shuffle); integer
    // quantization keeps the ratio engine-portable.
    QueryDef(
      "q87_repetition",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             len(toks) - 2 AS n_grams,
         |             len(list_distinct(list_transform(range(1, len(toks) - 1),
         |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS n_distinct
         |      FROM t WHERE len(toks) >= 3)
         |SELECT doc_id,
         |       CAST(n_grams AS BIGINT) AS n_grams,
         |       CAST(n_distinct AS BIGINT) AS n_distinct,
         |       CAST(floor(CAST((n_grams - n_distinct) * 10000 AS DOUBLE) / n_grams) AS BIGINT) AS dup_bp
         |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sh = TextAnalysis.shingles(col("text"), 3)
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"), sh.as("sh"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_grams"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
        .withColumn("dup_bp",
          floor((col("n_grams") - col("n_distinct")).cast("double") * 10000 / col("n_grams"))
            .cast("long"))
        .orderBy("doc_id")
    },

    // ---- salted join (hot-key skew tool; result == plain join) ----
    // Scale.saltedJoin spreads each fact row over `salts` reducers and
    // replicates the dim side per salt — the manual fallback when a join
    // key is hot AND the dim side is too big to broadcast (AQE skew
    // splitting only handles sort-merge post-shuffle partitions).
    // The oracle is the PLAIN join: salting must be invisible in results.
    QueryDef(
      "q88_salted_join",
      s"""SELECT c_nationkey,
         |       count(*) AS n_orders,
         |       round(CAST(sum(${Exact.centsSql("o_totalprice")}) AS DOUBLE) / 100, 2) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      Scale.saltedJoin(
        Tables.orders(s, dir),
        Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey", salts = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(Exact.cents(col("o_totalprice"))).cast("double") / 100, 2).as("revenue"))
        .orderBy("c_nationkey")
    },

    // ---- group top-k via a bounded-heap Aggregator (holistic UDAF) ----
    // The scalable alternative to the q8 window shape: the typed
    // TopKAggregator ships ≤k entries per group per map task (partial
    // TypedImperativeAggregate), where row_number() would shuffle every
    // group row onto one reducer. The oracle IS the window form — both
    // must agree exactly (unique ids break score ties).
    QueryDef(
      "q89_group_topk",
      s"""SELECT o_orderpriority, o_orderkey, price_cents, rank FROM (
         |  SELECT o_orderpriority, o_orderkey,
         |         ${Exact.centsSql("o_totalprice")} AS price_cents,
         |         row_number() OVER (PARTITION BY o_orderpriority
         |           ORDER BY ${Exact.centsSql("o_totalprice")} DESC, o_orderkey) AS rank
         |  FROM orders) t
         |WHERE rank <= 3
         |ORDER BY o_orderpriority, rank""".stripMargin) { (s, dir) =>
      import graft.functions.{Scored, TopKAggregator}
      val topk = udaf(new TopKAggregator(3), Encoders.product[Scored])
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .groupBy("o_orderpriority")
        .agg(topk(col("price_cents").cast("double"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("o_orderpriority"), col("s.id").as("o_orderkey"),
          col("s.score").cast("long").as("price_cents"),
          (col("pos") + 1).as("rank"))
        .orderBy("o_orderpriority", "rank")
    },

    // ---- distributed global ranking (row_number without the single
    //      partition): Scale.globalRank = prefix sum of ones over a
    //      range-partitioned total order. The q67 global window is the
    //      SQL-surface form; THIS is the 100 TB form — the oracle is the
    //      window itself, so both must agree row-for-row. ----
    QueryDef(
      "q90_global_rank",
      s"""SELECT o_orderkey,
         |       row_number() OVER (ORDER BY ${Exact.centsSql("o_totalprice")} DESC,
         |                          o_orderkey) AS price_rank
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Scale.globalRank(
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            (-Exact.cents(col("o_totalprice"))).as("_neg_cents")),
        "price_rank", "_neg_cents", "o_orderkey")
        .select("o_orderkey", "price_rank")
        .orderBy("o_orderkey")
    },

    // ---- PageRank over the supplier↔customer transaction graph:
    //      iterative join+aggregate, 3 rounds, ALL-INTEGER micro-unit
    //      arithmetic (floor division + long sums) so ranks are
    //      bit-identical on any engine and partitioning — a
    //      double-summed PageRank can't be oracle-gated because float
    //      addition is order-dependent. The oracle unrolls the three
    //      iterations as CTEs (OracleSql.rankCtes with every node a
    //      seed), mirroring Graph.pageRankMicro. ----
    QueryDef(
      "q92_pagerank",
      s"""WITH ${OracleSql.coPurchaseCtes},
         |${OracleSql.rankCtes("SELECT id FROM nodes")}
         |SELECT id, rank_micro FROM r3 ORDER BY id""".stripMargin) { (s, dir) =>
      graft.graph.Graph.pageRankMicro(
          Tables.bothWays(Tables.coPurchasePairs(s, dir)), iterations = 3)
        .orderBy("id")
    },

    // ---- contamination SCORE (q58 flags shared grams; this grades
    //      every training doc by the FRACTION of its 5-grams found in
    //      the eval set — the thresholded form real pipelines gate on).
    //      Fraction in integer basis points ((10000·shared) div total):
    //      no double division, no rounding hazard, hash-stable. Same
    //      broadcast shape as q58 — the corpus never shuffles. ----
    QueryDef(
      "q93_contamination_score",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |         list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
         |              ELSE list_transform(range(1, len(toks) - 3),
         |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |                        toks[i+3] || ' ' || toks[i+4]) END) AS sh
         |  FROM t),
         |b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20),
         |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 20),
         |tot AS (SELECT doc_id, len(sh) AS n_grams FROM s WHERE doc_id >= 20),
         |shared AS (
         |  SELECT doc_id, count(*) AS n_shared FROM tr JOIN b USING (g)
         |  GROUP BY doc_id)
         |SELECT t.doc_id,
         |       CAST(t.n_grams AS BIGINT) AS n_grams,
         |       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared_grams,
         |       CAST(10000 * coalesce(s.n_shared, 0) // t.n_grams AS BIGINT) AS frac_bp,
         |       (10000 * coalesce(s.n_shared, 0) // t.n_grams) >= 500 AS contaminated
         |FROM tot t LEFT JOIN shared s ON t.doc_id = s.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val (bench, train) = PipelineQueries.decontaminationGrams(s, dir)
      val totals = Tables.documents(s, dir).filter(col("doc_id") >= 20)
        .select(col("doc_id"),
          size(array_distinct(TextAnalysis.shingles(col("text"), 5)))
            .cast("long").as("n_grams"))
      val shared = train.join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      totals.join(shared, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared_grams"),
          expr("10000 * coalesce(n_shared, 0L) div n_grams").as("frac_bp"),
          (expr("10000 * coalesce(n_shared, 0L) div n_grams") >= 500)
            .as("contaminated"))
        .orderBy("doc_id")
    },

    // ---- fuzzy (edit-distance ≤ 1) lookup join via SymSpell deletion
    //      neighborhoods: probe strings (25 part names with one char
    //      replaced) match corpus part names without an n² distance
    //      matrix — both sides explode into |s|+1 delete-1 variants,
    //      candidates come from variant equality (provably complete for
    //      ed ≤ 1), and levenshtein verifies the survivors. The probe
    //      side broadcasts; the corpus never shuffles. Oracle: brute
    //      probes × parts levenshtein. ----
    QueryDef(
      "q94_fuzzy_join",
      s"""WITH probes AS (
         |  SELECT p_partkey AS probe_id,
         |         substr(p_name, 1, CAST(p_partkey % len(p_name) AS INT)) || '@' ||
         |         substr(p_name, CAST(p_partkey % len(p_name) AS INT) + 2) AS q
         |  FROM part WHERE p_partkey < 25)
         |SELECT pr.probe_id, p.p_partkey,
         |       CAST(levenshtein(pr.q, p.p_name) AS BIGINT) AS dist
         |FROM probes pr, part p
         |WHERE levenshtein(pr.q, p.p_name) <= 1
         |ORDER BY pr.probe_id, p.p_partkey""".stripMargin) { (s, dir) =>
      val part = Tables.part(s, dir).select("p_partkey", "p_name")
      val probes = part.filter(col("p_partkey") < 25)
        .select(col("p_partkey").as("probe_id"),
          concat(
            col("p_name").substr(lit(1),
              pmod(col("p_partkey"), length(col("p_name"))).cast("int")),
            lit("@"),
            col("p_name").substr(
              pmod(col("p_partkey"), length(col("p_name"))).cast("int") + 2,
              length(col("p_name")))).as("q"))
      val probeVars = probes.select(col("probe_id"), col("q"),
        explode(TextAnalysis.deletionVariants(col("q"))).as("v"))
      val corpusVars = part.select(col("p_partkey"), col("p_name"),
        explode(TextAnalysis.deletionVariants(col("p_name"))).as("v"))
      corpusVars.join(broadcast(probeVars), "v")
        .select("probe_id", "q", "p_partkey", "p_name").distinct()
        .select(col("probe_id"), col("p_partkey"),
          levenshtein(col("q"), col("p_name")).cast("long").as("dist"))
        .filter(col("dist") <= 1)
        .orderBy("probe_id", "p_partkey")
    },

    // ---- snapshot diff / reconciliation: classify every key of two
    //      table versions as added / removed / changed via one
    //      full-outer join on the key — the audit primitive behind
    //      incremental publishing ("what did this pipeline run change?").
    //      The second snapshot is derived deterministically (drop keys
    //      < 50, bump prices for keys 100..149, add back keys < 25 under
    //      new ids). At scale both snapshots bucket by the key
    //      (Scale.writeBucketed) and the join is exchange-free. ----
    QueryDef(
      "q98_snapshot_diff",
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, ${Exact.centsSql("o_totalprice")} AS c
         |  FROM orders),
         |snap AS (
         |  SELECT k, CASE WHEN k BETWEEN 100 AND 149 THEN c + 7 ELSE c END AS c
         |  FROM base WHERE k >= 50
         |  UNION ALL
         |  SELECT k + 1000000000000, c FROM base WHERE k < 25)
         |SELECT coalesce(a.k, b.k) AS k,
         |       CASE WHEN b.k IS NULL THEN 'removed'
         |            WHEN a.k IS NULL THEN 'added'
         |            ELSE 'changed' END AS status,
         |       coalesce(a.c, -1) AS old_cents,
         |       coalesce(b.c, -1) AS new_cents
         |FROM base a FULL JOIN snap b ON a.k = b.k
         |WHERE a.k IS NULL OR b.k IS NULL OR a.c <> b.c
         |ORDER BY k""".stripMargin) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          Exact.cents(col("o_totalprice")).as("c"))
      val snap = base.filter(col("k") >= 50)
        .select(col("k"),
          when(col("k").between(100, 149), col("c") + 7).otherwise(col("c")).as("c"))
        // offset far above the o_orderkey domain (~6e6*sf): a collision
        // with a real key would fan out the full-outer join and leave
        // ORDER BY k non-total
        .union(base.filter(col("k") < 25)
          .select((col("k") + 1000000000000L).as("k"), col("c")))
      val a = base.select(col("k").as("ka"), col("c").as("ca"))
      val b = snap.select(col("k").as("kb"), col("c").as("cb"))
      a.join(b, col("ka") === col("kb"), "full_outer")
        .select(coalesce(col("ka"), col("kb")).as("k"),
          when(col("kb").isNull, "removed")
            .when(col("ka").isNull, "added")
            .otherwise("changed").as("status"),
          coalesce(col("ca"), lit(-1L)).as("old_cents"),
          coalesce(col("cb"), lit(-1L)).as("new_cents"))
        .filter(col("status") =!= "changed" || col("old_cents") =!= col("new_cents"))
        .orderBy("k")
    },

    // ---- equi-depth binning (quantile buckets): exact ntile(10)
    //      semantics over the price order with a unique tie-break — the
    //      feature-engineering twin of q77's fixed-width histogram. The
    //      oracle states it as the SQL window; the Spark side computes
    //      the SAME assignment distributively via Scale.equiDepthBins
    //      (globalRank range-partition + prefix sum, then the
    //      closed-form ntile rule map-side against the broadcast
    //      total). No row ever enters a single-partition
    //      WindowExec (PlanSpec asserts Window-free), so the plan
    //      survives a fact table 100× this size; the lone
    //      SinglePartition exchange aggregates one partial-max row per
    //      partition for the total count. ----
    QueryDef(
      "q99_equidepth_bins",
      s"""WITH t AS (
         |  SELECT ${Exact.centsSql("o_totalprice")} AS cents,
         |         ntile(10) OVER (ORDER BY ${Exact.centsSql("o_totalprice")},
         |                         o_orderkey) AS bin
         |  FROM orders)
         |SELECT bin, count(*) AS n,
         |       min(cents) AS lo_cents, max(cents) AS hi_cents
         |FROM t GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      Scale.equiDepthBins(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), Exact.cents(col("o_totalprice")).as("cents")),
        10, "cents", "o_orderkey")
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min("cents").as("lo_cents"), max("cents").as("hi_cents"))
        .orderBy("bin")
    },

    // ---- key-skew report: the diagnostic a 100 TB deployment runs
    //      BEFORE picking a partitioning/salting strategy — per-key
    //      frequency concentration in pure integer arithmetic (share in
    //      basis points, hot keys = cnt > 2×mean). One aggregation on
    //      the key, one tiny aggregate over the counts. ----
    QueryDef(
      "q100_skew_report",
      """WITH c AS (
        |  SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM c)
        |SELECT m.n_rows, m.n_keys, m.max_cnt,
        |       CAST(10000 * m.max_cnt // m.n_rows AS BIGINT) AS max_share_bp,
        |       (SELECT min(k) FROM c WHERE cnt = m.max_cnt) AS top_key,
        |       CAST((SELECT count(*) FROM c
        |             WHERE cnt > 2 * (m.n_rows // m.n_keys)) AS BIGINT) AS n_hot
        |FROM m""".stripMargin) { (s, dir) =>
      val c = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // referenced three times below; one aggregation
      val m = c.agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
        max("cnt").as("max_cnt"))
      val top = c.join(broadcast(m.select("max_cnt")), col("cnt") === col("max_cnt"))
        .agg(min("k").as("top_key"))
      val hot = c.join(broadcast(m.select(expr("n_rows div n_keys").as("mean_cnt"))),
          col("cnt") > col("mean_cnt") * 2)
        .agg(count(lit(1)).as("n_hot"))
      m.crossJoin(top).crossJoin(hot)
        .select(col("n_rows"), col("n_keys"), col("max_cnt"),
          expr("10000 * max_cnt div n_rows").as("max_share_bp"),
          col("top_key"), col("n_hot"))
    },

    // ---- changelog compaction: latest state per key — the batch form
    //      of UpsertSink's CDC fold (snapshot a feed of events down to
    //      one row per (user, event_type)). Scale shape: ONE partial+
    //      final max(struct) aggregate — lexicographic struct ordering
    //      on (ts_us, event_id) makes "latest, ties to highest id"
    //      deterministic and map-side combinable, where the window-form
    //      oracle shuffles every version of a hot key to one reducer.
    //      µs-truncated ts on BOTH sides (parquet is ns; see eventsTs). ----
    QueryDef(
      "q112_changelog_compact",
      """SELECT user_id, event_type, event_id, ts_us, value FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("event_type"),
          col("m.event_id").as("event_id"), col("m.ts_us").as("ts_us"),
          col("m.value").as("value"))
        .orderBy("user_id", "event_type")
    },

    // ---- exact uniform k-sample without replacement: the k smallest
    //      content-addressed hashes ARE a uniform k-subset (every doc's
    //      rank is a pure function of salt+id), and Spark plans global
    //      ORDER BY+LIMIT as TakeOrderedAndProject — per-partition
    //      bounded top-k then a driver k-merge, never a full sort. Same
    //      sample under any partitioning, appends don't reshuffle
    //      earlier picks beyond displacement. ----
    QueryDef(
      "q113_uniform_sample_k",
      """SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |ORDER BY h, doc_id
        |LIMIT 25""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat(lit("s42:"), col("doc_id").cast("string"))).as("h"))
        .orderBy("h", "doc_id")
        .limit(25)
    },

    // ---- incremental aggregation: fold a new batch's partial
    //      aggregate into a persisted state table WITHOUT rescanning
    //      history — the restartable daily-rollup shape (at 100 TB the
    //      state table is thousands of rows where the history is the
    //      full corpus). The algebraic contract is the whole point and
    //      is what the oracle checks: merge(agg(old), agg(delta)) must
    //      equal agg(old ∪ delta) exactly — integer sums, so no float
    //      re-association can hide a broken merge. ----
    QueryDef(
      "q114_incremental_agg",
      """SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      def partial(df: DataFrame) = df
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      val docs = Tables.documents(s, dir)
      // state = everything aggregated so far; delta = the new batch
      val state = partial(docs.filter(col("doc_id") < 250))
      val delta = partial(docs.filter(col("doc_id") >= 250))
      state.unionByName(delta)
        .groupBy("lang")
        .agg(sum("n_docs").as("n_docs"), sum("total_tokens").as("total_tokens"))
        .orderBy("lang")
    },

    // ---- exact winsorization: clamp the fact-table measure at the
    //      exact p1/p99 rank values (ceil-rank boundary, tie-order
    //      independent), then aggregate per flag — the feature-clipping
    //      pass with approx_percentile's error bars removed. Boundary
    //      ranks come from Scale.globalRank (range partition + O(parts)
    //      offsets), never a single-partition window; the oracle replays
    //      the same ceil-rank rule with a window (fine at oracle scale).
    //      ----
    QueryDef(
      "q137_winsorize",
      s"""WITH t AS (
         |  SELECT ${Exact.centsSql("l_extendedprice")} AS cents,
         |         l_returnflag, l_orderkey, l_linenumber
         |  FROM lineitem),
         |r AS (
         |  SELECT cents,
         |         row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
         |           AS wr,
         |         count(*) OVER () AS n
         |  FROM t),
         |b AS (
         |  SELECT min(CASE WHEN wr = greatest(1, (10 * n + 999) // 1000)
         |                  THEN cents END) AS lo,
         |         max(CASE WHEN wr = least(n, (990 * n + 999) // 1000)
         |                  THEN cents END) AS hi
         |  FROM r)
         |SELECT l_returnflag,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(least(greatest(cents, lo), hi)) AS BIGINT) AS sum_w,
         |       CAST(min(least(greatest(cents, lo), hi)) AS BIGINT) AS min_w,
         |       CAST(max(least(greatest(cents, lo), hi)) AS BIGINT) AS max_w
         |FROM t, b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(Exact.cents(col("l_extendedprice")).as("cents"),
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      Scale.winsorize(li, "cents", loPermille = 10, hiPermille = 990,
          "l_orderkey", "l_linenumber")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents_w").as("sum_w"),
          min("cents_w").as("min_w"),
          max("cents_w").as("max_w"))
        .orderBy("l_returnflag")
    }.copy(headline = true),

    // ---- HLL sketch persistence + incremental merge: the q114 pattern
    //      for DISTINCT counts, where no exact partial aggregate exists.
    //      State = one 16 KB HLL sketch per month (lgK=12); a new month
    //      folds in by sketch union, never rescanning history — at
    //      100 TB the state table is dozens of rows against a full-corpus
    //      countDistinct rescan. Two contracts are asserted as booleans
    //      the oracle expects true: (1) the merged estimate is within 5%
    //      of exact (rse at lgK=12 is ~1.6%, so 5% is a ≥3σ margin);
    //      (2) merge(merge(old months), merge(new months)) ==
    //      merge(all months) EXACTLY — union is register-max, hence
    //      associative, which is precisely what makes the incremental
    //      fold sound. (Union is NOT numerically idempotent in
    //      DataSketches — union(sk, sk) re-targets the gadget and can
    //      shift the estimate — so only associativity is pinned.)
    //      Estimates are partition-invariant (register maxes), so both
    //      booleans are deterministic. ----
    QueryDef(
      "q144_hll_incremental",
      """SELECT CAST(count(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
        |         AS n_months,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       true AS merged_within_5pct,
        |       true AS incremental_merge_exact
        |FROM lineitem""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(date_trunc("month", col("l_shipdate")).as("m"), col("l_partkey"))
      val monthly = li.groupBy("m")
        .agg(hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
        .localCheckpoint() // the "persisted state table"; feeds 3 merges
      val cut = lit("1999-01-01").cast("timestamp")
      val exact = li.agg(
        count_distinct(col("m")).as("n_months"),
        count_distinct(col("l_partkey")).as("exact_parts"))
      val estAll = monthly
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_all"))
      val estTwo = monthly.filter(col("m") < cut)
        .agg(hll_union_agg(col("sk"), lit(false)).as("u"))
        .union(monthly.filter(col("m") >= cut)
          .agg(hll_union_agg(col("sk"), lit(false)).as("u")))
        .agg(hll_sketch_estimate(hll_union_agg(col("u"), lit(false))).as("est_two"))
      exact.crossJoin(broadcast(estAll)).crossJoin(broadcast(estTwo))
        .select(col("n_months"), col("exact_parts"),
          (abs(col("est_all") - col("exact_parts")).cast("double") /
            col("exact_parts") < 0.05).as("merged_within_5pct"),
          (col("est_two") === col("est_all")).as("incremental_merge_exact"))
    },

    // ---- label-propagation communities (Raghavan 2007, deterministic
    //      Jacobi variant) over the q92 supplier↔customer graph —
    //      community detection where connectedComponents merges through
    //      any bridge but LPA needs the neighbor MAJORITY to agree.
    //      Fully deterministic (synchronous rounds, ties to the
    //      smallest label), so the oracle unrolls all three iterations:
    //      per-round neighbor-label counts, per-node max count,
    //      smallest label at the max. ----
    QueryDef(
      "q145_label_prop",
      s"""WITH $lpaGraphCtes
         |SELECT id, label AS community FROM l3 ORDER BY id""".stripMargin) {
      (s, dir) =>
      graft.graph.Graph.labelPropagation(
          Tables.bothWays(Tables.coPurchasePairs(s, dir)), iterations = 3)
        .select(col("id"), col("label").as("community"))
        .orderBy("id")
    },

    // ---- modularity of the LPA communities (q223): Newman's Q — the
    //      "are these communities real" audit that pairs with q145 the
    //      way ARI (q194) pairs with k-means. Q = Σ_c [e_c/m −
    //      (d_c/2m)²] as the exact rational (4mE − S)/(4m²) in integer
    //      arithmetic (explicit floor — see Graph.modularity); the
    //      oracle replays the full 3-round LPA unroll (shared CTEs with
    //      q145, so the labeling cannot drift between oracles) and the
    //      same closed form. ----
    QueryDef(
      "q223_modularity",
      s"""WITH $lpaGraphCtes,
         |deg AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY 1),
         |dc AS (
         |  SELECT l.label, CAST(sum(d.d) AS HUGEINT) AS dsum
         |  FROM deg d JOIN l3 l ON l.id = d.id GROUP BY 1),
         |agg AS (
         |  SELECT count(*) AS n_communities, sum(dsum * dsum) AS sd2,
         |         CAST(sum(dsum) AS HUGEINT) // 2 AS m
         |  FROM dc),
         |intra AS (
         |  SELECT CAST(count(*) AS HUGEINT) // 2 AS intra_e
         |  FROM edges e JOIN l3 a ON a.id = e.src JOIN l3 b ON b.id = e.dst
         |  WHERE a.label = b.label),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |f AS (
         |  SELECT n_nodes, n_communities, m, intra_e,
         |         10000 * (4 * m * intra_e - sd2) AS num, 4 * m * m AS den
         |  FROM agg, intra, nn)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |       CAST(n_communities AS BIGINT) AS n_communities,
         |       CAST(m AS BIGINT) AS m_edges,
         |       CAST(intra_e AS BIGINT) AS intra_edges,
         |       CAST((num - ((num % den + den) % den)) // den AS BIGINT)
         |         AS q_bp
         |FROM f""".stripMargin) { (s, dir) =>
      // edge list read by BOTH the LPA rounds and the modularity
      // aggregates — pin it once (labelPropagation checkpoints its own
      // copy; without this the join+distinct would still rerun for the
      // degree and intra-edge passes)
      val edges = Tables.bothWays(Tables.coPurchasePairs(s, dir)).localCheckpoint()
      graft.graph.Graph.modularity(
        edges, graft.graph.Graph.labelPropagation(edges, iterations = 3))
    },

    // ---- exact ROC-AUC of a quality signal (q151): does stopword
    //      density actually separate English from non-English docs? The
    //      Mann-Whitney U-statistic in exact long arithmetic — the audit
    //      a pipeline runs before trusting any learned/heuristic filter
    //      to gate the corpus. Scale shape: the corpus aggregates once
    //      into a ≤1e6-row score histogram; the cumulative-negative pass
    //      is a range-partitioned prefix sum over THAT, never a
    //      one-partition window over rows (Eval.aucExact). ----
    QueryDef(
      "q151_auc",
      s"""WITH m AS (
         |  SELECT lang = 'en' AS pos,
         |         ${PipelineQueries.stopPpmSql} AS score
         |  FROM documents),
         |h AS (
         |  SELECT score,
         |         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS npos,
         |         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nneg
         |  FROM m GROUP BY 1),
         |c AS (SELECT *, sum(nneg) OVER (ORDER BY score) AS cumneg FROM h)
         |SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
         |       CAST(sum(nneg) AS BIGINT) AS n_neg,
         |       CAST(sum(npos * (2 * cumneg - nneg)) AS BIGINT) AS u2,
         |       CAST(CASE WHEN sum(npos) = 0 OR sum(nneg) = 0 THEN NULL
         |            ELSE (10000 * sum(npos * (2 * cumneg - nneg)))
         |                 // (2 * sum(npos) * sum(nneg)) END AS BIGINT) AS auc_bp
         |FROM c""".stripMargin) { (s, dir) =>
      val m = Tables.documents(s, dir).select(
        (col("lang") === "en").as("pos"),
        PipelineQueries.stopPpm.as("score"))
      graft.ml.Eval.aucExact(m, "score", "pos")
    },

    // ---- weekly retention cohorts (q152): the standard
    //      activation/retention matrix over the events stream — users
    //      grouped by first-activity week, counted at each later week
    //      offset, with basis-point retention against the cohort size.
    //      Scale shape: two keyed aggregates on user_id (map-side
    //      combines; the distinct (user, week) table is bounded by
    //      users × weeks, not events) and one broadcast-sized
    //      cohort-size join. ----
    QueryDef(
      "q152_retention_cohort",
      """WITH w AS (
        |  SELECT user_id,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |           AS BIGINT) AS wk
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1),
        |act AS (SELECT DISTINCT w.user_id, fw.cohort, w.wk - fw.cohort AS offs
        |        FROM w JOIN fw USING (user_id)),
        |sz AS (SELECT cohort, count(*) AS cohort_users FROM fw GROUP BY 1),
        |g AS (SELECT cohort, offs, count(*) AS n_users
        |      FROM act GROUP BY 1, 2)
        |SELECT cohort AS cohort_week, offs AS week_offset,
        |       CAST(n_users AS BIGINT) AS n_users,
        |       CAST(n_users * 10000 // cohort_users AS BIGINT) AS retention_bp
        |FROM g JOIN sz USING (cohort)
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select(col("user_id"),
        floor(datediff(to_date(col("ts")), to_date(lit("2024-01-01"))) / 7)
          .cast("long").as("wk"))
      val fw = ev.groupBy("user_id").agg(min("wk").as("cohort"))
      val act = ev.join(fw, "user_id")
        .select(col("user_id"), col("cohort"), (col("wk") - col("cohort")).as("offs"))
        .distinct()
      val sz = fw.groupBy("cohort").agg(count(lit(1)).as("cohort_users"))
      act.groupBy("cohort", "offs").agg(count(lit(1)).as("n_users"))
        .join(broadcast(sz), "cohort")
        .select(col("cohort").as("cohort_week"), col("offs").as("week_offset"),
          col("n_users"),
          floor(col("n_users") * 10000L / col("cohort_users"))
            .cast("long").as("retention_bp"))
        .orderBy("cohort_week", "week_offset")
    },

    // ---- k-anonymity audit (q153): group-size histogram over the
    //      quasi-identifier tuple (nation, market segment, $1000
    //      balance bucket) — the privacy gate a dataset release runs:
    //      rows in groups of size k < threshold are re-identifiable by
    //      those attributes alone. Pure two-level aggregate (map-side
    //      combines both times); the bucket uses exact cents so the
    //      float balance never decides a boundary differently across
    //      engines. ----
    QueryDef(
      "q153_k_anonymity",
      s"""WITH g AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         CAST(floor(CAST(${Exact.centsSql("c_acctbal")} AS DOUBLE)
         |           / 100000) AS BIGINT) AS bal_bucket,
         |         count(*) AS grp_size
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT grp_size,
         |       CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(grp_size) AS BIGINT) AS n_customers
         |FROM g GROUP BY 1 ORDER BY grp_size""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(Exact.cents(col("c_acctbal")).cast("double") / 100000)
            .cast("long").as("bal_bucket"))
        .agg(count(lit(1)).as("grp_size"))
        .groupBy("grp_size")
        .agg(count(lit(1)).as("n_groups"), sum("grp_size").as("n_customers"))
        .orderBy("grp_size")
    },

    // ---- degree-ordered triangle counting (q154) over the co-purchase
    //      graph (parts sharing an order): the Suri-Vassilvitskii
    //      orientation bounds wedge fan-out by the SMALLER endpoint
    //      degree, so the join materializes O(E^1.5) wedges where the
    //      naive wedge join is quadratic in the hottest part's degree —
    //      the "curse of the last reducer" cure, replayed exactly by
    //      the oracle (orientation, wedge enumeration, closing-edge
    //      equi-join). Keys subsampled to keep the oracle's wedge table
    //      at catalog scale; the plan shape is scale-free. ----
    QueryDef(
      "q154_triangles",
      s"""WITH ${OracleSql.partPairsCtes},
         |${OracleSql.degreeOrientedCtes},
         |w AS (SELECT e1.dst AS w1, e2.dst AS w2
         |      FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
         |t AS (SELECT count(*) AS n_triangles
         |      FROM w JOIN e0 ON e0.u = w.w1 AND e0.v = w.w2)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
         |       CAST(n_triangles AS BIGINT) AS n_triangles
         |FROM t""".stripMargin) { (s, dir) =>
      graft.graph.Graph.triangleCount(Tables.partPairs(s, dir))
    }.copy(headline = true),

    // ---- exact mutual information between two columns (q156): how
    //      much does source predict language? The feature-association
    //      audit a mixture designer runs before stratifying on a
    //      column. MI and both marginal entropies in integer micro-nats
    //      (per-cell quantization before the sum, the q105 pattern), so
    //      the result is partition- and engine-exact; MI's quantization
    //      noise is clamped at 0 (MI ≥ 0, and floor-vs-trunc division
    //      would otherwise disagree across engines on a −ε sum).
    //      Scale shape: one (lang, source) aggregate — cells bounded by
    //      |langs|·|sources|, not rows — then broadcast marginals. ----
    QueryDef(
      "q156_mutual_info",
      """WITH j AS (SELECT lang, source, count(*) AS nls
        |           FROM documents GROUP BY 1, 2),
        |nl AS (SELECT lang, CAST(sum(nls) AS BIGINT) AS nl FROM j GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(nls) AS BIGINT) AS ns FROM j GROUP BY 1),
        |tot AS (SELECT CAST(sum(nls) AS BIGINT) AS n FROM j),
        |q AS (
        |  SELECT CAST(sum(CAST(round(1000000 * nls *
        |           ln(CAST(n AS DOUBLE) * CAST(nls AS DOUBLE) /
        |              (CAST(nl AS DOUBLE) * CAST(ns AS DOUBLE)))) AS BIGINT))
        |         AS BIGINT) AS sq
        |  FROM j JOIN nl USING (lang) JOIN ns USING (source) CROSS JOIN tot),
        |hl AS (
        |  SELECT CAST(sum(CAST(round(1000000 * nl *
        |           ln(CAST(n AS DOUBLE) / CAST(nl AS DOUBLE))) AS BIGINT))
        |         AS BIGINT) AS shl
        |  FROM nl CROSS JOIN tot),
        |hs AS (
        |  SELECT CAST(sum(CAST(round(1000000 * ns *
        |           ln(CAST(n AS DOUBLE) / CAST(ns AS DOUBLE))) AS BIGINT))
        |         AS BIGINT) AS shs
        |  FROM ns CROSS JOIN tot)
        |SELECT n AS n_docs,
        |       (SELECT CAST(count(*) AS BIGINT) FROM nl) AS n_lang,
        |       (SELECT CAST(count(*) AS BIGINT) FROM ns) AS n_source,
        |       greatest(sq, 0) // n AS mi_micronat,
        |       shl // n AS h_lang_micronat,
        |       shs // n AS h_source_micronat
        |FROM tot, q, hl, hs""".stripMargin) { (s, dir) =>
      val j = Tables.documents(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("nls"))
        .localCheckpoint() // bounded cells; feeds 4 small aggregates
      val nl = j.groupBy("lang").agg(sum("nls").as("nl"))
      val ns = j.groupBy("source").agg(sum("nls").as("ns"))
      val tot = j.agg(sum("nls").as("n"))
      val q = j.join(broadcast(nl), "lang").join(broadcast(ns), "source")
        .crossJoin(broadcast(tot))
        .agg(sum(round(lit(1000000) * col("nls") *
          log(col("n").cast("double") * col("nls").cast("double") /
            (col("nl").cast("double") * col("ns").cast("double"))))
          .cast("long")).as("sq"))
      def entropy(marg: org.apache.spark.sql.DataFrame, cnt: String, out: String) =
        marg.crossJoin(broadcast(tot))
          .agg(sum(round(lit(1000000) * col(cnt) *
            log(col("n").cast("double") / col(cnt).cast("double")))
            .cast("long")).as(out))
      val counts = nl.agg(count(lit(1)).as("n_lang"))
        .crossJoin(ns.agg(count(lit(1)).as("n_source")))
      tot.crossJoin(broadcast(counts))
        .crossJoin(broadcast(q))
        .crossJoin(broadcast(entropy(nl, "nl", "shl")))
        .crossJoin(broadcast(entropy(ns, "ns", "shs")))
        .select(col("n").as("n_docs"), col("n_lang"), col("n_source"),
          expr("greatest(sq, 0L) div n").as("mi_micronat"),
          expr("shl div n").as("h_lang_micronat"),
          expr("shs div n").as("h_source_micronat"))
    },

    // ---- association rules over co-purchased parts (q158): support /
    //      confidence / lift for part pairs sharing an order — the
    //      classic market-basket mine, all-integer (lift in micro-units,
    //      confidence in basis points) so rankings can't float-drift.
    //      Scale shape: baskets are TPC-H-bounded (≤7 items), so the
    //      per-order pair expansion is a constant factor, the pair
    //      aggregate map-side combines, and the item-count join is
    //      keyed (AQE broadcasts the dim-sized catalog case); the
    //      final cut is a bounded TakeOrdered. ----
    QueryDef(
      "q158_assoc_rules",
      """WITH tx AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ntx AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM tx),
        |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM tx GROUP BY 1),
        |pr AS (
        |  SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS nab
        |  FROM tx x JOIN tx y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT pr.a, pr.b, pr.nab, ia.np AS na, ib.np AS nb,
        |         CAST(round(1000000.0 * pr.nab * ntx.n / (ia.np * ib.np))
        |           AS BIGINT) AS lift_micro,
        |         10000 * pr.nab // ia.np AS conf_ab_bp
        |  FROM pr JOIN ic ia ON ia.p = pr.a
        |          JOIN ic ib ON ib.p = pr.b
        |          CROSS JOIN ntx
        |  WHERE pr.nab >= 3)
        |SELECT a, b, nab, na, nb, lift_micro, conf_ab_bp
        |FROM sc
        |ORDER BY lift_micro DESC, a, b
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val tx = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint() // feeds the pair join, item counts, and nTx
      val ntx = tx.agg(count_distinct(col("o")).as("n"))
      val ic = tx.groupBy("p").agg(count(lit(1)).as("np"))
      val pr = tx.as("x").join(tx.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 3)
      // item counts join WITHOUT a broadcast hint: the item table is
      // dim-sized here (AQE broadcasts it) but corpus-proportional at
      // scale, where a keyed shuffle join is the right plan
      pr.join(ic.withColumnRenamed("p", "a").withColumnRenamed("np", "na"), "a")
        .join(ic.withColumnRenamed("p", "b").withColumnRenamed("np", "nb"), "b")
        .crossJoin(broadcast(ntx))
        .select(col("a"), col("b"), col("nab"), col("na"), col("nb"),
          round(lit(1000000.0) * col("nab") * col("n") / (col("na") * col("nb")))
            .cast("long").as("lift_micro"),
          expr("10000 * nab div na").as("conf_ab_bp"))
        .orderBy(col("lift_micro").desc, col("a"), col("b"))
        .limit(20)
    },

    // ---- PSI score drift (q159): population-stability index of the
    //      quality-score distribution between two corpus halves — the
    //      standard model-monitoring number (PSI > 0.2 ⇒ the filter
    //      needs recalibration), complementing q120's token-level KL.
    //      Per-bucket terms with add-1 smoothing; both engines evaluate
    //      the IDENTICAL double expression shape and quantize each term
    //      to micro-nats before the (10-row) sum, so the report is
    //      hash-exact. Scale shape: one corpus scan into a 10-bucket ×
    //      2-half aggregate; everything after is constant-size. ----
    QueryDef(
      "q159_psi_drift",
      s"""WITH m AS (
         |  SELECT doc_id % 2 = 0 AS ref,
         |         least(len(list_filter(string_split(text, ' '),
         |             w -> list_contains(${PipelineQueries.stopwordsSql}, w))) * 10
         |           // len(string_split(text, ' ')), 9) AS bucket
         |  FROM documents),
         |g AS (
         |  SELECT bucket,
         |         sum(CASE WHEN ref THEN 1 ELSE 0 END) AS na,
         |         sum(CASE WHEN ref THEN 0 ELSE 1 END) AS nb
         |  FROM m GROUP BY 1),
         |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
         |               CAST(sum(nb) AS BIGINT) AS tb,
         |               CAST(count(*) AS BIGINT) AS nbk
         |        FROM g)
         |SELECT bucket, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |       CAST(round(1000000 *
         |         (CAST(na + 1 AS DOUBLE) / (ta + nbk) -
         |          CAST(nb + 1 AS DOUBLE) / (tb + nbk)) *
         |         ln((CAST(na + 1 AS DOUBLE) / (ta + nbk)) /
         |            (CAST(nb + 1 AS DOUBLE) / (tb + nbk)))) AS BIGINT)
         |         AS psi_micro
         |FROM g CROSS JOIN tot
         |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val m = Tables.documents(s, dir).select(
        (col("doc_id") % 2 === 0).as("ref"),
        least(floor(size(filter(toks, w => w.isin(PipelineQueries.stopwords: _*)))
            .cast("long") * 10L / size(toks).cast("long")), lit(9L)).as("bucket"))
      val g = m.groupBy("bucket").agg(
          sum(when(col("ref"), 1L).otherwise(0L)).as("na"),
          sum(when(col("ref"), 0L).otherwise(1L)).as("nb"))
        .localCheckpoint() // ≤10 rows; feeds the totals and the terms
      val tot = g.agg(sum("na").as("ta"), sum("nb").as("tb"),
        count(lit(1)).as("nbk"))
      val pa = (col("na") + 1).cast("double") / (col("ta") + col("nbk"))
      val pb = (col("nb") + 1).cast("double") / (col("tb") + col("nbk"))
      g.crossJoin(broadcast(tot))
        .select(col("bucket"), col("na"), col("nb"),
          round(lit(1000000) * (pa - pb) * log(pa / pb)).cast("long")
            .as("psi_micro"))
        .orderBy("bucket")
    },

    // ---- incremental quantile state (q160): the q114/q144 pattern for
    //      PERCENTILES. State = one fixed-width ($100-bucket) histogram
    //      per month — integer counts, so the merge is an exact sum and
    //      trivially associative (asserted as the same boolean contract
    //      q144 pins for HLL union). The merged histogram brackets the
    //      exact median: the report carries the median bucket's bounds
    //      AND the exact rank-(⌈N/2⌉) value, which must fall inside —
    //      locating a quantile to bucket width without rescanning
    //      history, at dozens-of-rows state cost. ----
    QueryDef(
      "q160_incremental_quantile",
      s"""WITH t AS (
         |  SELECT date_trunc('month', l_shipdate) AS m,
         |         ${Exact.centsSql("l_extendedprice")} AS cents
         |  FROM lineitem),
         |st AS (SELECT m, cents // 10000 AS bucket, count(*) AS cnt
         |       FROM t GROUP BY 1, 2),
         |merged AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt
         |           FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |               CAST((sum(cnt) + 1) // 2 AS BIGINT) AS k
         |        FROM merged),
         |cum AS (SELECT bucket, cnt,
         |               sum(cnt) OVER (ORDER BY bucket) AS c
         |        FROM merged),
         |med AS (SELECT min(bucket) AS mb FROM cum, tot WHERE c >= k),
         |ex AS (SELECT cents AS exact_p50 FROM (
         |         SELECT cents, row_number() OVER (ORDER BY cents) AS r
         |         FROM t) q, tot WHERE r = k)
         |SELECT (SELECT CAST(count(DISTINCT m) AS BIGINT) FROM st) AS n_months,
         |       tot.n AS n_rows,
         |       CAST(med.mb * 10000 AS BIGINT) AS p50_bucket_lo,
         |       CAST((med.mb + 1) * 10000 AS BIGINT) AS p50_bucket_hi,
         |       CAST(ex.exact_p50 AS BIGINT) AS exact_p50,
         |       ex.exact_p50 >= med.mb * 10000
         |         AND ex.exact_p50 < (med.mb + 1) * 10000 AS bracketed,
         |       true AS incremental_merge_exact
         |FROM tot, med, ex""".stripMargin) { (s, dir) =>
      val t = Tables.lineitem(s, dir).select(
        date_trunc("month", col("l_shipdate")).as("m"),
        Exact.cents(col("l_extendedprice")).as("cents"))
      // the persisted state table: one histogram row per (month, bucket)
      val st = t.groupBy(col("m"), expr("cents div 10000").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds the all-at-once merge AND the 2-way fold
      val merged = st.groupBy("bucket").agg(sum("cnt").as("cnt"))
      val cut = lit("1999-01-01").cast("timestamp")
      // incremental contract: fold(fold(old), fold(new)) == fold(all)
      def fold(df: DataFrame) = df.groupBy("bucket").agg(sum("cnt").as("cnt"))
      val twoStep = fold(fold(st.filter(col("m") < cut))
        .unionByName(fold(st.filter(col("m") >= cut))))
      // associativity witness without the former constructor-time
      // merged.count() job: every bucket must appear in BOTH folds with
      // the same count — a strictly stronger condition than the old
      // distinct-count + group-count compare, identically true for the
      // exact integer-sum merge (same output value)
      val mergeExact = merged.unionByName(twoStep)
        .groupBy("bucket").agg(count_distinct(col("cnt")).as("d"),
          count(lit(1)).as("nsrc"))
        .agg((max("d") === 1 && min("nsrc") === 2 && max("nsrc") === 2)
          .as("ok"))
      val tot = merged.agg(sum("cnt").as("n"),
        ((sum("cnt") + 1) / 2).cast("long").as("k"))
      val cum = Scale.scan(merged, Seq("bucket"), Scale.Sum("cnt", "c"))._1
      val med = cum.crossJoin(broadcast(tot)).filter(col("c") >= col("k"))
        .agg(min("bucket").as("mb"))
      // exact median WITHOUT ranking the corpus (guide §2.4): the
      // former globalRank over EVERY cents row range-shuffled, RDD-
      // cached and checkpointed the whole fact table to read one rank.
      // The histogram already brackets the median: rows below bucket mb
      // number c(mb) − cnt(mb), so the global rank-k value is the
      // rank-j value WITHIN bucket mb, j = k − (c(mb) − cnt(mb)) —
      // buckets partition the value domain in order, and the rank-k
      // VALUE is the k-th order statistic regardless of tie order
      // (same contract the former full rank relied on). Only the
      // median bucket's rows (≈ 1/|buckets| of the corpus) are ranked.
      val medInfo = cum.crossJoin(broadcast(med))
        .filter(col("bucket") === col("mb"))
        .crossJoin(broadcast(tot))
        .select(col("mb"), (col("k") - (col("c") - col("cnt"))).as("j"))
      val inBucket = t.crossJoin(broadcast(medInfo))
        .filter(expr("cents div 10000") === col("mb"))
      val ex = Scale.globalRank(inBucket.select("cents", "j"), "r", "cents")
        .filter(col("r") === col("j"))
        .select(col("cents").as("exact_p50"))
      val nMonths = st.agg(count_distinct(col("m")).as("n_months"))
      nMonths.crossJoin(broadcast(tot))
        .crossJoin(broadcast(med))
        .crossJoin(broadcast(ex))
        .crossJoin(broadcast(mergeExact))
        .select(col("n_months"), col("n").as("n_rows"),
          (col("mb") * 10000).as("p50_bucket_lo"),
          ((col("mb") + 1) * 10000).as("p50_bucket_hi"),
          col("exact_p50"),
          (col("exact_p50") >= col("mb") * 10000 &&
            col("exact_p50") < (col("mb") + 1) * 10000).as("bracketed"),
          col("ok").as("incremental_merge_exact"))
    }.copy(headline = true), // sweep slow-tail promotion (round 7, tier 2)

    // ---- event-transition mining (q161): the first-order Markov model
    //      of the event stream — per-user consecutive (prev → next)
    //      pairs with within-prev transition probability in basis
    //      points. The per-user lag window partitions on user_id
    //      (bounded per user, the q75 sessionize shape — never a global
    //      window); the transition matrix itself is |types|² rows. ----
    QueryDef(
      "q161_event_transitions",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev
        |  FROM events),
        |t AS (SELECT prev, event_type AS next, count(*) AS n
        |      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT prev, CAST(sum(n) AS BIGINT) AS np FROM t GROUP BY 1)
        |SELECT t.prev, t.next, CAST(t.n AS BIGINT) AS n,
        |       10000 * t.n // p.np AS prob_bp
        |FROM t JOIN p USING (prev)
        |ORDER BY prev, next""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val seq = Tables.eventsTs(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
      val t = seq.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val p = t.groupBy("prev").agg(sum("n").as("np"))
      t.join(broadcast(p), "prev")
        .select(col("prev"), col("next"), col("n"),
          expr("10000 * n div np").as("prob_bp"))
        .orderBy("prev", "next")
    },

    // ---- per-source token-budget fill (q162): take documents per
    //      source in content-addressed order until each source's token
    //      budget is spent — the deterministic "N tokens per domain"
    //      selection a mixture plan executes. The per-source running
    //      sum is NOT a per-source window (a hot domain would sort on
    //      one reducer): ONE global `Scale.scan` running sum over the
    //      (source, order) total order, then each source's offset (its
    //      first row's prefix) subtracts off via a small broadcast join
    //      — the distributed grouped-running-sum pattern. ----
    QueryDef(
      "q162_token_budget_fill", {
        val ordSql = graft.operators.OracleSql.md5Long("CAST(doc_id AS VARCHAR)")
        s"""WITH d AS (
           |  SELECT source, doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
           |         $ordSql AS ord
           |  FROM documents),
           |c AS (
           |  SELECT source, doc_id, tok,
           |         sum(tok) OVER (PARTITION BY source
           |           ORDER BY ord, doc_id) AS cum
           |  FROM d),
           |k AS (SELECT * FROM c WHERE cum <= 300)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_kept,
           |       CAST(coalesce(sum(tok), 0) AS BIGINT) AS tok_kept,
           |       CAST(coalesce(sum(tok), 0) * 10000 // 300 AS BIGINT)
           |         AS fill_bp
           |FROM k GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, dir) =>
      val budget = 300L
      val d = Tables.documents(s, dir).select(
        col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        TextAnalysis.md5Long(col("doc_id").cast("string")).as("ord"))
      val cum = Scale.scan(d, Seq("source", "ord", "doc_id"), Scale.Sum("tok", "cum"))._1
      // per-source offset = the prefix BEFORE the source's first row
      val off = cum.groupBy("source").agg(min(col("cum") - col("tok")).as("off"))
      cum.join(broadcast(off), "source")
        .filter(col("cum") - col("off") <= budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("tok").as("tok_kept"))
        .select(col("source"), col("n_kept"), col("tok_kept"),
          expr(s"tok_kept * 10000 div $budget").as("fill_bp"))
        .orderBy("source")
    },

    // ---- content-addressed dataset fingerprint (q164): one (rows,
    //      XOR-of-row-hashes) pair per source — the "has my copy of this
    //      dataset drifted" audit between pipeline runs, engines, or
    //      replicas. XOR is commutative/associative, so the fingerprint
    //      is partition- and order-independent with no overflow to
    //      manage; its one blind spot (row pairs cancel) is why the
    //      exact row count rides alongside. One scan, one map-side
    //      combined aggregate. ----
    QueryDef(
      "q164_dataset_fingerprint", {
        val rowHash = graft.operators.OracleSql.md5Long(
          "CAST(doc_id AS VARCHAR) || '|' || md5(text)")
        s"""SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(bit_xor($rowHash) AS BIGINT) AS xor_fp
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          TextAnalysis.md5Long(
            concat_ws("|", col("doc_id").cast("string"), md5(col("text"))))
            .as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_fp"))
        .orderBy("source")
    },

    // ---- token-balanced training shards (q165): lay the corpus out in
    //      equal-WORK shards (equal token mass, not equal row count —
    //      the quantity a trainer's data loader actually consumes per
    //      step). Each document lands in the shard where its token run
    //      STARTS under the content-addressed global order, so every
    //      shard's mass is within one max-document of the target and the
    //      layout replays identically on any engine. Same running-sum
    //      machinery as q162: ONE global prefix sum, no windows. ----
    QueryDef(
      "q165_token_shards", {
        val ordSql = graft.operators.OracleSql.md5Long("CAST(doc_id AS VARCHAR)")
        s"""WITH d AS (
           |  SELECT doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
           |         $ordSql AS ord
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, tok,
           |         sum(tok) OVER (ORDER BY ord, doc_id) AS cum
           |  FROM d)
           |SELECT CAST((cum - tok) // 2000 AS BIGINT) AS shard,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(tok) AS BIGINT) AS tokens
           |FROM c GROUP BY 1 ORDER BY shard""".stripMargin
      }) { (s, dir) =>
      val target = 2000L
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tok"),
        TextAnalysis.md5Long(col("doc_id").cast("string")).as("ord"))
      val cum = Scale.scan(d, Seq("ord", "doc_id"), Scale.Sum("tok", "cum"))._1
      cum.select(expr(s"(cum - tok) div $target").as("shard"), col("tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
        .orderBy("shard")
    },

    // ---- right-to-be-forgotten sweep (q167): given a deletion-request
    //      subject set, account for every row the purge touches ACROSS
    //      the referential cascade — the subjects' customer rows, their
    //      orders, those orders' lineitems, and their event history
    //      (per-system subject keys; events keys off user_id). The
    //      audit a compliance pass emits before rewriting: per table,
    //      total vs purged vs kept must reconcile exactly. Scale shape:
    //      the request set broadcasts (deletion batches are small);
    //      each table is ONE scan with a broadcast semi-join — the
    //      lineitem leg pre-joins the (already filtered, tiny) purged
    //      orders, never orders×lineitem. ----
    QueryDef(
      "q167_deletion_sweep",
      """WITH subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |po AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM subj)),
        |t AS (
        |  SELECT 'customer' AS tbl,
        |         (SELECT count(*) FROM customer) AS n_total,
        |         (SELECT count(*) FROM subj) AS n_purged
        |  UNION ALL
        |  SELECT 'orders', (SELECT count(*) FROM orders),
        |         (SELECT count(*) FROM po)
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
        |         (SELECT count(*) FROM lineitem
        |          WHERE l_orderkey IN (SELECT o_orderkey FROM po))
        |  UNION ALL
        |  SELECT 'events', (SELECT count(*) FROM events),
        |         (SELECT count(*) FROM events WHERE user_id % 97 = 0))
        |SELECT tbl, CAST(n_total AS BIGINT) AS n_total,
        |       CAST(n_purged AS BIGINT) AS n_purged,
        |       CAST(n_total - n_purged AS BIGINT) AS n_kept
        |FROM t ORDER BY tbl""".stripMargin) { (s, dir) =>
      val subj = Tables.customer(s, dir)
        .filter(col("c_custkey") % 97 === 0).select("c_custkey")
      val orders = Tables.orders(s, dir)
      val po = orders.join(broadcast(subj),
          orders("o_custkey") === subj("c_custkey"), "left_semi")
        .select("o_orderkey")
      val li = Tables.lineitem(s, dir)
      def leg(tbl: String, total: DataFrame, purged: DataFrame) =
        total.agg(count(lit(1)).as("n_total"))
          .crossJoin(broadcast(purged.agg(count(lit(1)).as("n_purged"))))
          .select(lit(tbl).as("tbl"), col("n_total"), col("n_purged"),
            (col("n_total") - col("n_purged")).as("n_kept"))
      leg("customer", Tables.customer(s, dir), subj)
        .unionByName(leg("orders", orders, po))
        .unionByName(leg("lineitem", li,
          li.join(broadcast(po), li("l_orderkey") === po("o_orderkey"), "left_semi")))
        .unionByName(leg("events", Tables.events(s, dir),
          Tables.events(s, dir).filter(col("user_id") % 97 === 0)))
        .orderBy("tbl")
    },

    // ---- bounded-hop BFS (q168): minimum hop distance from a seed
    //      supplier set over the supplier⇄customer co-purchase graph
    //      (q145's bipartite construction) — the "entities within k
    //      hops of a flagged account" sweep. Level-synchronous BFS:
    //      each round is one frontier⋈edges shuffle + an anti-join
    //      against the visited set; the oracle unrolls the same three
    //      rounds. Exact: hop distance is an integer with no ties to
    //      break. ----
    QueryDef(
      "q168_bfs_hops",
      s"""WITH ${OracleSql.coPurchaseCtes},
        |f0 AS (SELECT DISTINCT s AS id FROM pairs
        |       WHERE (s - ${Tables.SupplierNodeOffset}) % 97 = 0),
        |n1 AS (SELECT DISTINCT e.dst AS id FROM edges e
        |       JOIN f0 ON e.src = f0.id
        |       WHERE e.dst NOT IN (SELECT id FROM f0)),
        |n2 AS (SELECT DISTINCT e.dst AS id FROM edges e
        |       JOIN n1 ON e.src = n1.id
        |       WHERE e.dst NOT IN (SELECT id FROM f0)
        |         AND e.dst NOT IN (SELECT id FROM n1)),
        |n3 AS (SELECT DISTINCT e.dst AS id FROM edges e
        |       JOIN n2 ON e.src = n2.id
        |       WHERE e.dst NOT IN (SELECT id FROM f0)
        |         AND e.dst NOT IN (SELECT id FROM n1)
        |         AND e.dst NOT IN (SELECT id FROM n2))
        |SELECT id, CAST(0 AS BIGINT) AS hops FROM f0
        |UNION ALL SELECT id, 1 FROM n1
        |UNION ALL SELECT id, 2 FROM n2
        |UNION ALL SELECT id, 3 FROM n3
        |ORDER BY hops, id""".stripMargin) { (s, dir) =>
      val pairs = Tables.coPurchasePairs(s, dir)
        // pinned: both edge directions and the source derivation read
        // the fact⋈fact join (boundedHops pins the edge list internally
        // but cannot see the sources' lineage) — q255's pattern
        .localCheckpoint()
      val sources = pairs
        .filter((col("s") - Tables.SupplierNodeOffset) % 97 === 0)
        .select(col("s").as("id"))
      graft.graph.Graph.boundedHops(Tables.bothWays(pairs), sources, maxHops = 3)
        .orderBy("hops", "id")
    }.copy(headline = true),

    // ---- activity streaks / gaps-and-islands (q169): per user, runs
    //      of consecutive active days in the events stream → longest
    //      streak, streak count, total active days. The classic
    //      day − row_number() island key. Scale shape: the distinct
    //      (user, day) table is bounded by users × days (never event
    //      volume); the window partitions BY USER (bounded frames, no
    //      one-partition global sort); the rollups are partial+final
    //      aggs. ----
    QueryDef(
      "q169_streaks",
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS BIGINT) AS day
        |  FROM events),
        |i AS (SELECT user_id, day,
        |             day - row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY day) AS island
        |      FROM d),
        |st AS (SELECT user_id, island, count(*) AS len
        |       FROM i GROUP BY 1, 2)
        |SELECT user_id,
        |       CAST(max(len) AS BIGINT) AS longest_streak,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(sum(len) AS BIGINT) AS active_days
        |FROM st GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val days = Tables.eventsTs(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
            .cast("long").as("day"))
        .distinct()
      val islands = days.withColumn("island",
        col("day") - row_number().over(
          Window.partitionBy("user_id").orderBy("day")))
      islands.groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum("len").as("active_days"))
        .orderBy("user_id")
    },

    // ---- decile lift table (q170): the companion report to q151's
    //      AUC — where in the ranking the separation lives. Same
    //      stopword-density score vs lang='en' ground truth; exact
    //      equi-depth deciles by score DESC (Scale.equiDepthBins — no
    //      one-partition window over rows), per-decile response rate
    //      and cumulative lift in integer basis points
    //      (DECIMAL(38,0) products — the q151 overflow precedent). ----
    QueryDef(
      "q170_lift_table",
      s"""WITH m AS (
         |  SELECT doc_id, lang = 'en' AS pos,
         |         ${PipelineQueries.stopPpmSql} AS score
         |  FROM documents),
         |b AS (SELECT pos,
         |             ntile(10) OVER (ORDER BY -score, doc_id) AS bin
         |      FROM m),
         |g AS (SELECT bin, count(*) AS n,
         |             sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
         |      FROM b GROUP BY 1),
         |c AS (SELECT *,
         |             sum(n) OVER (ORDER BY bin) AS cum_n,
         |             sum(n_pos) OVER (ORDER BY bin) AS cum_pos,
         |             sum(n) OVER () AS t_n,
         |             sum(n_pos) OVER () AS t_pos
         |      FROM g)
         |SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
         |       CAST(n_pos * 10000 // n AS BIGINT) AS resp_bp,
         |       CAST(CASE WHEN t_pos = 0 THEN NULL
         |            ELSE (cum_pos * t_n * 10000) // (cum_n * t_pos)
         |            END AS BIGINT) AS cum_lift_bp
         |FROM c ORDER BY bin""".stripMargin) { (s, dir) =>
      val m = Tables.documents(s, dir).select(
        col("doc_id"),
        (col("lang") === "en").as("pos"),
        PipelineQueries.stopPpm.as("score"))
      graft.ml.Eval.liftTable(m, "score", "pos", "doc_id", bins = 10)
        .orderBy("bin")
    },

    // ---- integer EWMA engagement score (q171): per user, the
    //      exponentially-weighted moving average of daily event counts
    //      over the user's ACTIVE-day sequence, α = 0.1, in exact
    //      micro-units: s ← (9·s + 10⁶·c) div 10 from s₀ = 0. The
    //      recency-weighted engagement signal a retention model
    //      consumes — and, being a left fold in integer arithmetic, it
    //      is bit-identical on any engine (a float EWMA is not). Both
    //      sides run the SAME fold: Spark `aggregate` over the
    //      day-sorted counts, DuckDB `list_reduce` with the prepended
    //      init. Scale shape: the daily rollup map-side combines; the
    //      per-user list is bounded by calendar days (≤ a few thousand
    //      forever), never by event volume. ----
    QueryDef(
      "q171_ewma_engagement",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, list(c ORDER BY day) AS cs
        |      FROM daily GROUP BY 1)
        |SELECT user_id, CAST(len(cs) AS BIGINT) AS n_days,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
        |            (acc, x) -> (acc * 9 + x * 1000000) // 10)
        |         AS BIGINT) AS ewma_micro
        |FROM l ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables.eventsTs(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("ds"))
        .selectExpr("user_id", "CAST(size(ds) AS BIGINT) AS n_days",
          """aggregate(transform(ds, d -> d.c), 0L,
            |  (acc, x) -> (acc * 9 + x * 1000000) div 10) AS ewma_micro""".stripMargin)
        .orderBy("user_id")
    },

    // ---- temperature-scaled mixture weights (q172): per-source
    //      sampling shares ∝ mass^α with α = 1/2 (the mT5/XLM-R
    //      upsampling rule: damp the head, boost the tail) over TOKEN
    //      mass, plus the doc quota each source gets from a fixed
    //      sample budget. floor(sqrt(n)) is engine-exact (IEEE sqrt is
    //      correctly rounded and both engines floor the same double);
    //      shares/quotas are integer bp / div. Scale shape: one
    //      map-side-combined aggregate to |sources| rows, then
    //      broadcast-total arithmetic — corpus scanned once. Apply the
    //      quotas with the q109 bounded-heap cap or q113 exact
    //      k-sample. ----
    QueryDef(
      "q172_temperature_mix",
      """WITH m AS (
        |  SELECT source,
        |         count(*) AS n_docs,
        |         sum(len(string_split(text, ' '))) AS toks
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, CAST(floor(sqrt(toks)) AS BIGINT) AS w FROM m),
        |t AS (SELECT sum(w) AS tw, sum(toks) AS tt FROM w)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(toks AS BIGINT) AS n_tokens,
        |       CAST(toks * 10000 // tt AS BIGINT) AS raw_share_bp,
        |       CAST(w * 10000 // tw AS BIGINT) AS temp_share_bp,
        |       CAST(10000 * w // tw * 10000 // (toks * 10000 // tt)
        |         AS BIGINT) AS boost_ratio_bp,
        |       CAST(w * 50000 // tw AS BIGINT) AS quota_docs
        |FROM w, t ORDER BY source""".stripMargin) { (s, dir) =>
      val budget = 50000L
      val m = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("toks"))
        .withColumn("w", floor(sqrt(col("toks"))).cast("long"))
      val t = m.agg(sum("w").as("tw"), sum("toks").as("tt"))
      m.crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"), col("toks").as("n_tokens"),
          expr("toks * 10000 div tt").as("raw_share_bp"),
          expr("w * 10000 div tw").as("temp_share_bp"),
          expr("10000 * w div tw * 10000 div (toks * 10000 div tt)")
            .as("boost_ratio_bp"),
          expr(s"w * $budget div tw").as("quota_docs"))
        .orderBy("source")
    },

    // ---- l-diversity audit (q173): q153's k-anonymity counts group
    //      SIZES; this checks what k-anonymity famously misses — a
    //      large group whose SENSITIVE attribute is uniform still leaks
    //      it (the homogeneity attack, Machanavajjhala 2007). Per
    //      quasi-identifier group (nation, market segment): size,
    //      distinct sensitive values (the $1000 balance bucket), and
    //      the vulnerable flag l < 3. Two map-side-combined aggregates;
    //      the distinct count rides the same shuffle as the size. ----
    QueryDef(
      "q173_l_diversity",
      s"""WITH g AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         count(*) AS grp_size,
         |         count(DISTINCT CAST(floor(
         |           CAST(${Exact.centsSql("c_acctbal")} AS DOUBLE) / 100000)
         |           AS BIGINT)) AS l_div
         |  FROM customer GROUP BY 1, 2)
         |SELECT c_nationkey, c_mktsegment,
         |       CAST(grp_size AS BIGINT) AS grp_size,
         |       CAST(l_div AS BIGINT) AS l_div,
         |       l_div < 3 AS vulnerable
         |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("grp_size"),
          countDistinct(
            floor(Exact.cents(col("c_acctbal")).cast("double") / 100000)
              .cast("long")).as("l_div"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("grp_size"),
          col("l_div"), (col("l_div") < 3).as("vulnerable"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- t-closeness audit (q177): the third rung of the privacy
    //      ladder (k-anonymity q153 → l-diversity q173 → this):
    //      l-diversity still leaks when a group's sensitive values are
    //      diverse but SKEWED vs the population (the similarity
    //      attack). Per QI group: Earth-Mover's Distance between the
    //      group's sensitive-bucket distribution and the global one,
    //      for the ORDERED $1000 balance buckets = mean |cumulative
    //      difference| (Li et al. ICDE'07 §5.2). Exact integers end to
    //      end: |c_i/n − C_i/N| cross-multiplies to |c_i·N − C_i·n| and
    //      the one division is the final bp — DECIMAL(38,0) carries the
    //      products. Scale shape: one (group, bucket) aggregate, a
    //      broadcast global histogram, a bucket-bounded cumulative
    //      fold. ----
    QueryDef(
      "q177_t_closeness",
      s"""WITH b AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         CAST(floor(CAST(${Exact.centsSql("c_acctbal")} AS DOUBLE)
         |           / 100000) AS BIGINT) AS bucket
         |  FROM customer),
         |grid AS (SELECT DISTINCT bucket FROM b),
         |gs AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
         |       FROM b GROUP BY 1, 2),
         |gc AS (SELECT c_nationkey, c_mktsegment, bucket, count(*) AS c
         |       FROM b GROUP BY 1, 2, 3),
         |gh AS (SELECT bucket, count(*) AS gc FROM b GROUP BY 1),
         |tot AS (SELECT count(*) AS nn, count(DISTINCT bucket) AS m FROM b),
         |fl AS (
         |  SELECT gs.c_nationkey, gs.c_mktsegment, grid.bucket, gs.n,
         |         coalesce(gc.c, 0) AS c, gh.gc
         |  FROM gs CROSS JOIN grid
         |  JOIN gh ON gh.bucket = grid.bucket
         |  LEFT JOIN gc ON gc.c_nationkey = gs.c_nationkey
         |    AND gc.c_mktsegment = gs.c_mktsegment
         |    AND gc.bucket = grid.bucket),
         |cum AS (
         |  SELECT c_nationkey, c_mktsegment, n,
         |         sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
         |                      ORDER BY bucket) AS cc,
         |         sum(gc) OVER (PARTITION BY c_nationkey, c_mktsegment
         |                       ORDER BY bucket) AS cgc
         |  FROM fl),
         |emd AS (
         |  SELECT c_nationkey, c_mktsegment, n,
         |         sum(abs(CAST(cc AS DECIMAL(38,0)) * nn - CAST(cgc AS DECIMAL(38,0)) * n))
         |           AS sdiff
         |  FROM cum, tot GROUP BY 1, 2, 3)
         |SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS grp_size,
         |       CAST(CAST(sdiff * 10000 AS HUGEINT)
         |         // CAST((m - 1) * CAST(n AS DECIMAL(38,0)) * nn AS HUGEINT)
         |         AS BIGINT) AS emd_bp
         |FROM emd, tot
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.customer(s, dir).select(
        col("c_nationkey"), col("c_mktsegment"),
        floor(Exact.cents(col("c_acctbal")).cast("double") / 100000)
          .cast("long").as("bucket"))
      val grid = b.select("bucket").distinct()
      val gs = b.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
      val gc = b.groupBy("c_nationkey", "c_mktsegment", "bucket")
        .agg(count(lit(1)).as("c"))
      val glob = b.groupBy("bucket").agg(count(lit(1)).as("gc"))
      val tot = b.agg(count(lit(1)).as("nn"),
        countDistinct("bucket").as("m"))
      val full = gs.crossJoin(broadcast(grid))
        .join(broadcast(glob), "bucket")
        .join(gc, Seq("c_nationkey", "c_mktsegment", "bucket"), "left_outer")
        .select(col("c_nationkey"), col("c_mktsegment"), col("bucket"),
          col("n"), coalesce(col("c"), lit(0L)).as("c"), col("gc"))
      // the cumulative window is per QI GROUP over the BUCKET GRID —
      // frame size = |buckets| (a few dozen), bounded by construction
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bucket")
      val cum = full
        .withColumn("cc", sum("c").over(w))
        .withColumn("cgc", sum("gc").over(w))
      cum.crossJoin(broadcast(tot))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("nn"), col("m"))
        .agg(sum(abs(col("cc").cast("decimal(38,0)") * col("nn") -
          col("cgc").cast("decimal(38,0)") * col("n"))).as("sdiff"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n").as("grp_size"),
          expr("""CAST(sdiff * 10000 div
            |  ((m - 1) * CAST(n AS DECIMAL(38,0)) * nn) AS BIGINT)""".stripMargin)
            .as("emd_bp"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- robust outlier detection via exact MAD (q174): median and
    //      median-absolute-deviation computed exactly (lower-median
    //      rank (n+1) div 2 through the distributed globalRank — no
    //      single-partition window), then the |x − med| > 3·MAD·1.4826
    //      rule in integer cross-products (1.4826 ≈ 14826/10000, the
    //      normal-consistency constant). Mean/stddev outliers (q79)
    //      move with the outliers themselves; MAD is the 50%-breakdown
    //      robust form. Two rank passes + one broadcast clamp scan. ----
    QueryDef(
      "q174_mad_outliers",
      s"""WITH c AS (
         |  SELECT o_orderkey, ${Exact.centsSql("o_totalprice")} AS cents
         |  FROM orders),
         |n AS (SELECT count(*) AS n FROM c),
         |r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn
         |      FROM c),
         |med AS (SELECT cents AS med FROM r, n WHERE rn = (n + 1) // 2),
         |d AS (SELECT abs(c.cents - med.med) AS dev, c.o_orderkey FROM c, med),
         |rd AS (SELECT dev, row_number() OVER (ORDER BY dev, o_orderkey) AS rn
         |       FROM d),
         |mad AS (SELECT dev AS mad FROM rd, n WHERE rn = (n + 1) // 2)
         |SELECT CAST(n.n AS BIGINT) AS n,
         |       CAST(med.med AS BIGINT) AS median_cents,
         |       CAST(mad.mad AS BIGINT) AS mad_cents,
         |       CAST((SELECT count(*) FROM d, mad
         |             WHERE d.dev * 10000 > 3 * 14826 * mad.mad)
         |         AS BIGINT) AS n_outliers
         |FROM n, med, mad""".stripMargin) { (s, dir) =>
      import graft.operators.Scale
      val c = Tables.orders(s, dir)
        .select(col("o_orderkey"), Exact.cents(col("o_totalprice")).as("cents"))
      def lowerMedian(df: org.apache.spark.sql.DataFrame,
          vCol: String, idCol: String): org.apache.spark.sql.DataFrame = {
        val (ranked, Seq(total)) = Scale.scan(df, Seq(vCol, idCol), Scale.RowNumber("_r"))
        ranked.filter(col("_r") === (total + 1) / 2).select(col(vCol))
      }
      val med = lowerMedian(c, "cents", "o_orderkey")
        .select(col("cents").as("med"))
      val devs = c.crossJoin(broadcast(med))
        .select(col("o_orderkey"), abs(col("cents") - col("med")).as("dev"))
      val mad = lowerMedian(devs, "dev", "o_orderkey")
        .select(col("dev").as("mad"))
      val nRow = c.agg(count(lit(1)).as("n"))
      val outliers = devs.crossJoin(broadcast(mad))
        .filter(col("dev") * 10000L > lit(3L) * 14826L * col("mad"))
        .agg(count(lit(1)).as("n_outliers"))
      nRow.crossJoin(broadcast(med.select(col("med").as("median_cents"))))
        .crossJoin(broadcast(mad.select(col("mad").as("mad_cents"))))
        .crossJoin(broadcast(outliers))
    },

    // ---- per-source quantile normalization (q175): replace each doc's
    //      raw quality score with its exact within-source percentile
    //      (basis points) — the calibration step that makes scores
    //      comparable ACROSS domains before a global quality cut (a
    //      "good" forum post and a "good" encyclopedia page sit at very
    //      different raw scores; their percentiles align). Scale shape:
    //      q162's grouped-rank trick — ONE distributed global prefix
    //      sum over (source, score, id) order, then each source's rank
    //      offset (a broadcast-sized aggregate) converts global rank to
    //      within-source rank; no per-source window, no skew hazard
    //      when one source dominates the corpus. ----
    QueryDef(
      "q175_quantile_normalize",
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         ${PipelineQueries.stopPpmSql} AS score
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, score,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY score, doc_id) AS rk,
         |         count(*) OVER (PARTITION BY source) AS n
         |  FROM d)
         |SELECT doc_id, source, CAST(score AS BIGINT) AS score,
         |       CAST(CASE WHEN n <= 1 THEN 0
         |            ELSE (rk - 1) * 10000 // (n - 1) END AS BIGINT) AS pct_bp
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        PipelineQueries.stopPpm.as("score"))
      val ranked = Scale.globalRank(d, "grk", "source", "score", "doc_id")
      val off = ranked.groupBy("source")
        .agg((min("grk") - 1L).as("off"), count(lit(1)).as("n"))
      ranked.join(broadcast(off), "source")
        .select(col("doc_id"), col("source"), col("score"),
          when(col("n") <= 1L, 0L)
            .otherwise(expr("(grk - off - 1) * 10000 div (n - 1)"))
            .as("pct_bp"))
        .orderBy("doc_id")
    },

    // ---- score-vs-length rank correlation (q198): tie-broken Spearman
    //      ρ between the stopword quality score and document length —
    //      the "is my quality score secretly a length proxy?" audit run
    //      before trusting any heuristic filter. Ranks come from TWO
    //      distributed globalRank passes under (value, doc_id) total
    //      orders (deterministic under ties, documented as tie-broken
    //      Spearman), ρ = 1 − 6Σd²/(n(n²−1)) in exact integer bp with
    //      DECIMAL(38,0) for the cubic products; sign-safe division. ----
    QueryDef(
      "q198_score_length_spearman",
      s"""WITH m AS (
         |  SELECT doc_id,
         |         ${PipelineQueries.stopPpmSql} AS score,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS l
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |         row_number() OVER (ORDER BY score, doc_id) AS rs,
         |         row_number() OVER (ORDER BY l, doc_id) AS rl
         |  FROM m),
         |s AS (
         |  SELECT count(*) AS n,
         |         sum(CAST((rs - rl) AS DECIMAL(38,0)) * (rs - rl)) AS d2
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n,
         |       CAST(CASE WHEN n < 2 THEN NULL
         |            WHEN CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
         |                 >= 6 * d2 THEN
         |              CAST((CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
         |                    - 6 * d2) * 10000 AS HUGEINT)
         |                // CAST(CAST(n AS DECIMAL(38,0))
         |                   * (CAST(n AS DECIMAL(38,0)) * n - 1) AS HUGEINT)
         |            ELSE -(CAST((6 * d2 - CAST(n AS DECIMAL(38,0))
         |                    * (CAST(n AS DECIMAL(38,0)) * n - 1)) * 10000 AS HUGEINT)
         |                // CAST(CAST(n AS DECIMAL(38,0))
         |                   * (CAST(n AS DECIMAL(38,0)) * n - 1) AS HUGEINT))
         |            END AS BIGINT) AS spearman_bp
         |FROM s""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val m = Tables.documents(s, dir).select(
        col("doc_id"),
        PipelineQueries.stopPpm.as("score"),
        size(toks).cast("long").as("l"))
      val rs = Scale.globalRank(m, "rs", "score", "doc_id")
        .select("doc_id", "rs")
      val rl = Scale.globalRank(m.select("doc_id", "l"), "rl", "l", "doc_id")
        .select("doc_id", "rl")
      rs.join(rl, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum((col("rs") - col("rl")).cast("decimal(38,0)") *
            (col("rs") - col("rl"))).as("d2"))
        .select(col("n"),
          when(col("n") < 2, lit(null)).otherwise(expr(
            """CAST((CAST(n AS DECIMAL(38,0))
              |    * (CAST(n AS DECIMAL(38,0)) * n - 1) - 6 * d2) * 10000
              |  div (CAST(n AS DECIMAL(38,0))
              |    * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)""".stripMargin))
            .as("spearman_bp"))
    },

    // ---- token-bucket rate-limit audit (q196): replay each user's
    //      event stream through a token bucket (capacity 5, refill 1
    //      token per 2 days — a heavy quota sized to this sparse
    //      synthetic stream's ~32 h inter-event gaps; integer
    //      micro-tokens) and count what a
    //      rate limiter WOULD have throttled — the abuse/ingest-policy
    //      simulation run before enforcing a limit in production. Like
    //      q171, the fold is the same exact integer recursion on both
    //      engines — Spark aggregate over the ts-sorted list vs a
    //      DuckDB RECURSIVE-CTE per-step fold (NOT list_reduce, whose
    //      lambda mis-evaluates accumulators referenced more than once
    //      on long lists) — so results are bit-identical; per-user
    //      state is bounded by the user's event count, never the
    //      stream. ----
    QueryDef(
      "q196_rate_limit_audit",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts)) AS i
        |  FROM events),
        |n AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY 1),
        |st(user_id, i, last, tok, thr) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(5000000 AS BIGINT), CAST(0 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT st.user_id, st.i + 1, e.tus,
        |         CASE WHEN least(5000000, st.tok
        |                   + (e.tus - st.last) // 172800) >= 1000000
        |              THEN least(5000000, st.tok
        |                   + (e.tus - st.last) // 172800) - 1000000
        |              ELSE least(5000000, st.tok
        |                   + (e.tus - st.last) // 172800) END,
        |         st.thr + CASE WHEN least(5000000, st.tok
        |                   + (e.tus - st.last) // 172800) >= 1000000
        |              THEN 0 ELSE 1 END
        |  FROM st JOIN e ON e.user_id = st.user_id AND e.i = st.i + 1)
        |SELECT st.user_id, CAST(n.n_events AS BIGINT) AS n_events,
        |       CAST(st.thr AS BIGINT) AS n_throttled,
        |       CAST(st.thr * 10000 // n.n_events AS BIGINT) AS throttled_bp
        |FROM st JOIN n ON n.user_id = st.user_id AND st.i = n.n_events
        |ORDER BY st.user_id""".stripMargin) { (s, dir) =>
      Tables.eventsTs(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("tus"))).as("evs"),
          count(lit(1)).as("n_events"))
        .selectExpr("user_id", "CAST(n_events AS BIGINT) AS n_events",
          """aggregate(evs,
            |  named_struct('last', 0L, 'st', 5000000L),
            |  (acc, t) -> named_struct(
            |    'last', t,
            |    'st', CASE WHEN least(5000000L, acc.st % 10000000L
            |              + (t - acc.last) div 172800) >= 1000000L
            |          THEN acc.st div 10000000L * 10000000L
            |               + least(5000000L, acc.st % 10000000L
            |                 + (t - acc.last) div 172800) - 1000000L
            |          ELSE (acc.st div 10000000L + 1L) * 10000000L
            |               + least(5000000L, acc.st % 10000000L
            |                 + (t - acc.last) div 172800) END)) AS f""".stripMargin)
        .select(col("user_id"), col("n_events"),
          expr("f.st div 10000000L").as("n_throttled"),
          expr("f.st div 10000000L * 10000 div n_events").as("throttled_bp"))
        .orderBy("user_id")
    },

    // ---- rendezvous-hash shard elasticity (q195): assign docs to
    //      shards by highest-random-weight (HRW) hashing and report the
    //      movement when the shard count grows 8 → 9 — the elasticity
    //      audit behind any consistent placement scheme (the KV
    //      surface's ShardCtrler is the control-plane twin; this is the
    //      data-plane property: ONLY ≈ 1/(N+1) of keys move, vs ~all
    //      under mod-N). Fully deterministic (md5 weights; a weight tie
    //      would break to the higher shard identically on both engines,
    //      though 60-bit weights never tie in practice), narrow per-row
    //      arithmetic, one scalar aggregate. ----
    QueryDef(
      "q195_rendezvous_shards", {
        def wSql(n: Int): String = (0 until n).map(i =>
          s"""struct_pack(h := ${OracleSql.md5Long(
            s"CAST(doc_id AS VARCHAR) || '|' || '$i'")}, s := $i)""")
          .mkString("[", ", ", "]")
        s"""WITH a AS (
           |  SELECT doc_id,
           |         list_max(${wSql(8)}).s AS s8,
           |         list_max(${wSql(9)}).s AS s9
           |  FROM documents)
           |SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_moved,
           |       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) * 10000
           |            // count(*) AS BIGINT) AS moved_bp,
           |       CAST(10000 // 9 AS BIGINT) AS expected_bp
           |FROM a""".stripMargin
      }) { (s, dir) =>
      def shard(n: Int): org.apache.spark.sql.Column = {
        val ws = (0 until n).map(i => struct(
          TextAnalysis.md5Long(
            concat(col("doc_id").cast("string"), lit(s"|$i"))).as("h"),
          lit(i).as("s")))
        array_max(array(ws: _*)).getField("s")
      }
      Tables.documents(s, dir)
        .select(shard(8).as("s8"), shard(9).as("s9"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"))
        .select(col("n_docs"), col("n_moved"),
          expr("n_moved * 10000 div n_docs").as("moved_bp"),
          lit(10000L / 9L).as("expected_bp"))
    },

    // ---- stratified sampling quotas (q193): apportion a fixed sample
    //      budget across (lang, source) strata EXACTLY proportionally
    //      via Hamilton's largest-remainder method — floor shares, then
    //      the leftover seats go to the largest fractional remainders
    //      (ties broken by stratum key). The integer-exact answer to
    //      "sample 1000 docs that look like the corpus" — naive
    //      rounding over- or under-shoots the budget; this never does
    //      (Σ quota ≡ budget). Strata are a bounded aggregate; the
    //      remainder ranking runs over that tiny table only. Apply the
    //      quotas with q113's exact k-sample per stratum. ----
    QueryDef(
      "q193_stratified_quota",
      """WITH st AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        |t AS (SELECT sum(n) AS nn FROM st),
        |f AS (
        |  SELECT lang, source, n,
        |         n * 1000 // nn AS fl,
        |         n * 1000 % nn AS rem
        |  FROM st, t),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang, source) AS rk,
        |         (SELECT 1000 - sum(fl) FROM f) AS leftover
        |  FROM f)
        |SELECT lang, source, CAST(n AS BIGINT) AS n_docs,
        |       CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |         AS BIGINT) AS quota
        |FROM r ORDER BY lang, source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 1000L
      val st = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val t = st.agg(sum("n").as("nn"))
      val f = st.crossJoin(broadcast(t))
        .select(col("lang"), col("source"), col("n"),
          expr(s"n * $budget div nn").as("fl"),
          expr(s"n * $budget % nn").as("rem"))
      val leftover = f.agg((lit(budget) - sum("fl")).as("lo"))
      // the ranking window runs over the strata table only (bounded by
      // |langs|x|sources|, never corpus rows)
      val w = Window.orderBy(col("rem").desc, col("lang"), col("source"))
      f.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(leftover))
        .select(col("lang"), col("source"), col("n").as("n_docs"),
          (col("fl") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy("lang", "source")
    },

    // ---- data-contract audit (q192): referential integrity, range, and
    //      domain rules checked in one report — the validation gate a
    //      pipeline runs on every ingest batch before letting it touch
    //      the warehouse. Five planted violations (dangling order key,
    //      out-of-range quantity, out-of-range discount) prove the
    //      detectors detect; FK checks are anti-join counts (broadcast
    //      the key side at catalog scale, shuffle-join at 100 TB — AQE
    //      picks), range checks ride the scan in exact cents/bp. ----
    QueryDef(
      "q192_contract_audit",
      """WITH li AS (
        |  SELECT l_orderkey, l_quantity, l_discount FROM lineitem
        |  UNION ALL
        |  SELECT * FROM (VALUES (-1, 999.0, 0.5), (-2, 999.0, 0.5),
        |                        (-3, 0.0, 0.25), (-4, 51.0, 0.2),
        |                        (-5, 999.0, 0.5))
        |    t(l_orderkey, l_quantity, l_discount)),
        |fk AS (SELECT count(*) AS viol FROM li
        |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |qty AS (SELECT count(*) AS viol FROM li
        |        WHERE round(l_quantity * 100) < 100
        |           OR round(l_quantity * 100) > 5000),
        |disc AS (SELECT count(*) AS viol FROM li
        |         WHERE round(l_discount * 10000) < 0
        |            OR round(l_discount * 10000) > 1000),
        |ofk AS (SELECT count(*) AS viol FROM orders
        |        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |n AS (SELECT count(*) AS nli FROM li),
        |no AS (SELECT count(*) AS nor FROM orders)
        |SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
        |       CAST(n_violations AS BIGINT) AS n_violations FROM (
        |  SELECT 'fk_lineitem_orderkey' AS rule, n.nli AS n_checked,
        |         fk.viol AS n_violations FROM n, fk
        |  UNION ALL SELECT 'fk_orders_custkey', no.nor, ofk.viol FROM no, ofk
        |  UNION ALL SELECT 'range_quantity_1_50', n.nli, qty.viol FROM n, qty
        |  UNION ALL SELECT 'range_discount_0_10pct', n.nli, disc.viol
        |            FROM n, disc) t
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      val planted = s.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, 999.0, 0.5),
          org.apache.spark.sql.Row(-2L, 999.0, 0.5),
          org.apache.spark.sql.Row(-3L, 0.0, 0.25),
          org.apache.spark.sql.Row(-4L, 51.0, 0.2),
          org.apache.spark.sql.Row(-5L, 999.0, 0.5)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("l_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("l_quantity",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("l_discount",
            org.apache.spark.sql.types.DoubleType))))
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_discount")
        .union(planted)
      val orders = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      def one(rule: String, checked: DataFrame, viol: DataFrame) =
        checked.agg(count(lit(1)).as("n_checked"))
          .crossJoin(broadcast(viol.agg(count(lit(1)).as("n_violations"))))
          .select(lit(rule).as("rule"), col("n_checked"), col("n_violations"))
      val qcents = round(col("l_quantity") * 100).cast("long")
      val dbp = round(col("l_discount") * 10000).cast("long")
      one("fk_lineitem_orderkey", li,
          li.join(orders.select("o_orderkey"),
            li("l_orderkey") === col("o_orderkey"), "left_anti"))
        .unionByName(one("fk_orders_custkey", orders,
          orders.join(cust.select("c_custkey"),
            orders("o_custkey") === col("c_custkey"), "left_anti")))
        .unionByName(one("range_quantity_1_50", li,
          li.filter(qcents < 100 || qcents > 5000)))
        .unionByName(one("range_discount_0_10pct", li,
          li.filter(dbp < 0 || dbp > 1000)))
        .orderBy("rule")
    },

    // ---- pairwise source overlap via bottom-k sketches (q191): each
    //      source's 3-gram set reduces to its 64 smallest hashes (the
    //      KMV sketch, Bar-Yossef 2002 — union-mergeable, so the
    //      pairwise estimate needs only the 20 sketches, never a
    //      gram-level join); jaccard ≈ |K(A∪B) ∩ A ∩ B| / |K(A∪B)|.
    //      q117 computes source overlap EXACTLY with a gram join; this
    //      is the sketch that answers the same question over ANY number
    //      of sources with k longs per source — and being fully
    //      deterministic (exact Long ordering, no floats), the oracle
    //      replays the estimator itself. ----
    QueryDef(
      "q191_source_overlap_sketch",
      s"""WITH t AS (SELECT source, ${OracleSql.wsTokens()} AS toks
         |           FROM documents),
         |g AS (
         |  SELECT DISTINCT source,
         |         ${OracleSql.md5Long("gr")} AS h
         |  FROM (SELECT source,
         |          unnest(CASE WHEN len(toks) < 3
         |               THEN [array_to_string(toks, ' ')]
         |               ELSE list_transform(range(1, len(toks) - 1),
         |                    i -> toks[i] || ' ' || toks[i+1] || ' '
         |                         || toks[i+2]) END) AS gr
         |        FROM t) u),
         |rk AS (SELECT source, h,
         |              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM g),
         |sk AS (SELECT source, list(h ORDER BY h) AS s
         |       FROM rk WHERE rn <= 64 GROUP BY source),
         |p AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         list_sort(list_distinct(a.s || b.s))[1:64] AS u,
         |         a.s AS sa, b.s AS sb
         |  FROM sk a JOIN sk b ON a.source < b.source)
         |SELECT src_a, src_b,
         |       CAST(len(list_filter(u, x -> list_contains(sa, x)
         |              AND list_contains(sb, x))) AS BIGINT) AS n_shared,
         |       CAST(len(u) AS BIGINT) AS k_union,
         |       CAST(len(list_filter(u, x -> list_contains(sa, x)
         |              AND list_contains(sb, x))) * 10000 // len(u)
         |         AS BIGINT) AS jaccard_est_bp
         |FROM p ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val grams = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.GramHashFunctions.graftGramMd5(
            TextAnalysis.wsTokens(col("text")), 3, distinct = true)).as("h"))
      val bk = udaf(new graft.functions.BottomKAggregator(64),
        Encoders.scalaLong)
      val sk = grams.groupBy("source").agg(bk(col("h")).as("sk"))
      val pairs = sk.as("a").join(
        broadcast(sk.select(col("source").as("src_b"), col("sk").as("sb"))),
        col("source") < col("src_b"))
        .select(col("source").as("src_a"), col("src_b"),
          col("sk").as("sa"), col("sb"))
        .withColumn("u",
          slice(array_sort(array_union(col("sa"), col("sb"))), 1, 64))
        .withColumn("n_shared",
          size(filter(col("u"), x =>
            array_contains(col("sa"), x) && array_contains(col("sb"), x)))
            .cast("long"))
      pairs.select(col("src_a"), col("src_b"), col("n_shared"),
          size(col("u")).cast("long").as("k_union"),
          expr("n_shared * 10000 div size(u)").as("jaccard_est_bp"))
        .orderBy("src_a", "src_b")
    },

    // ---- two-sample Kolmogorov-Smirnov drift test (q189): per source,
    //      the exact KS statistic between the source's doc-length
    //      distribution and the REST of the corpus — the distributional
    //      twin of q120's KL and q177's EMD, with the actual α=0.05
    //      decision attached: KS·√(nm/(n+m)) > c(0.05) tested as the
    //      cross-multiplied integer inequality D²·n·m > c²·(n+m)·(nm)²
    //      /(nm)… i.e. (max|cA·m − cB·n|)² > c²_micro·n·m·(n+m)/10⁶,
    //      DECIMAL(38,0) products, no float ever. Grid-bounded shape:
    //      one (source, len) aggregate + broadcast global histogram +
    //      length-grid cumulative windows. ----
    QueryDef(
      "q189_ks_drift",
      """WITH b AS (
        |  SELECT source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS l
        |  FROM documents),
        |grid AS (SELECT DISTINCT l FROM b),
        |sc AS (SELECT source, l, count(*) AS c FROM b GROUP BY 1, 2),
        |gc AS (SELECT l, count(*) AS g FROM b GROUP BY 1),
        |sn AS (SELECT source, count(*) AS n FROM b GROUP BY 1),
        |tot AS (SELECT count(*) AS nn FROM b),
        |fl AS (
        |  SELECT sn.source, grid.l, sn.n,
        |         coalesce(sc.c, 0) AS c, gc.g - coalesce(sc.c, 0) AS r
        |  FROM sn CROSS JOIN grid
        |  JOIN gc ON gc.l = grid.l
        |  LEFT JOIN sc ON sc.source = sn.source AND sc.l = grid.l),
        |cum AS (
        |  SELECT source, n,
        |         sum(c) OVER (PARTITION BY source ORDER BY l) AS ca,
        |         sum(r) OVER (PARTITION BY source ORDER BY l) AS cb
        |  FROM fl),
        |ks AS (
        |  SELECT source, n, nn - n AS m,
        |         max(abs(CAST(ca AS DECIMAL(38,0)) * (nn - n)
        |                 - CAST(cb AS DECIMAL(38,0)) * n)) AS dnum
        |  FROM cum, tot GROUP BY source, n, nn)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |       CAST(CAST(dnum * 10000 AS HUGEINT)
        |         // CAST(CAST(n AS DECIMAL(38,0)) * m AS HUGEINT)
        |         AS BIGINT) AS ks_bp,
        |       dnum * dnum * 1000000 >
        |         CAST(1844164 AS DECIMAL(38,0)) * n * m * (n + m)
        |         AS drifted
        |FROM ks ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val b = Tables.documents(s, dir).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("l"))
      val grid = b.select("l").distinct()
      val sc = b.groupBy("source", "l").agg(count(lit(1)).as("c"))
      val gc = b.groupBy("l").agg(count(lit(1)).as("g"))
      val sn = b.groupBy("source").agg(count(lit(1)).as("n"))
      val tot = b.agg(count(lit(1)).as("nn"))
      val fl = sn.crossJoin(broadcast(grid))
        .join(broadcast(gc), "l")
        .join(sc, Seq("source", "l"), "left_outer")
        .select(col("source"), col("l"), col("n"),
          coalesce(col("c"), lit(0L)).as("c"),
          (col("g") - coalesce(col("c"), lit(0L))).as("r"))
      // per-source cumulative over the LENGTH GRID — frame bounded by
      // distinct lengths, not corpus rows
      val w = Window.partitionBy("source").orderBy("l")
      val cum = fl
        .withColumn("ca", sum("c").over(w))
        .withColumn("cb", sum("r").over(w))
      cum.crossJoin(broadcast(tot))
        .groupBy(col("source"), col("n"), (col("nn") - col("n")).as("m"))
        .agg(max(abs(col("ca").cast("decimal(38,0)") * (col("nn") - col("n"))
          - col("cb").cast("decimal(38,0)") * col("n"))).as("dnum"))
        .select(col("source"), col("n"),
          expr("""CAST(dnum * 10000 div
            |  (CAST(n AS DECIMAL(38,0)) * m) AS BIGINT)""".stripMargin)
            .as("ks_bp"),
          (col("dnum") * col("dnum") * 1000000L >
            lit(1844164L).cast("decimal(38,0)") * col("n") * col("m") *
              (col("n") + col("m"))).as("drifted"))
        .orderBy("source")
    },

    // ---- vocabulary growth curve (q187): distinct-token count at each
    //      decile of a content-addressed corpus order — the Heaps'-law
    //      diagnostic for data DIVERSITY ("is new data still bringing
    //      new vocabulary, or has the crawl saturated?"). Exact: each
    //      token's FIRST-occurrence position is a min-aggregate (one
    //      map-side-combined shuffle on the token), new-per-decile is a
    //      9-row rollup, and the cumulative pass runs over those 10
    //      rows — never a corpus-row window. The order is md5-addressed
    //      so the curve is append-stable and engine-independent. The
    //      unit is the 3-GRAM vocabulary: unigrams saturate instantly
    //      on a template corpus (31 words — decile 1 sees them all);
    //      the 3-gram space is where this corpus's diversity actually
    //      lives, which is exactly the distinction the curve exists to
    //      surface. ----
    QueryDef(
      "q187_vocab_growth", {
        val ordSql = OracleSql.md5Long("CAST(doc_id AS VARCHAR)")
        s"""WITH docs_o AS (
           |  SELECT doc_id, text,
           |         CAST((row_number() OVER (ORDER BY $ordSql, doc_id) - 1)
           |              * 10 // (SELECT count(*) FROM documents)
           |           AS BIGINT) + 1 AS decile
           |  FROM documents),
           |tok AS (
           |  SELECT decile, unnest(
           |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
           |         ELSE list_transform(range(1, len(toks) - 1),
           |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           |    END) AS t
           |  FROM (SELECT decile, ${OracleSql.wsTokens()} AS toks
           |        FROM docs_o)),
           |fo AS (SELECT t, min(decile) AS first_decile FROM tok GROUP BY 1),
           |nw AS (SELECT first_decile AS decile, count(*) AS new_tokens
           |       FROM fo GROUP BY 1),
           |grid AS (SELECT unnest(range(1, 11)) AS decile)
           |SELECT grid.decile,
           |       CAST(coalesce(nw.new_tokens, 0) AS BIGINT) AS new_tokens,
           |       CAST(sum(coalesce(nw.new_tokens, 0))
           |            OVER (ORDER BY grid.decile) AS BIGINT) AS vocab_cum
           |FROM grid LEFT JOIN nw ON nw.decile = grid.decile
           |ORDER BY grid.decile""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // the total rides back with the rank offsets — no separate count
      val (ranked, Seq(n)) = Scale.scan(
        docs.select(col("doc_id"), col("text"),
          TextAnalysis.md5Long(col("doc_id").cast("string")).as("ord")),
        Seq("ord", "doc_id"), Scale.RowNumber("rk"))
      val tok = ranked
        .select((expr(s"(rk - 1) * 10 div ${n}L") + 1).as("decile"),
          explode(TextAnalysis.shingles(col("text"), 3)).as("t"))
      val nw = tok.groupBy("t").agg(min("decile").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_tokens"))
      val grid = s.range(1, 11).select(col("id").as("decile"))
      // the cumulative window runs over the 10-row decile grid only
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(nw, Seq("decile"), "left_outer")
        .select(col("decile"),
          coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
        .withColumn("vocab_cum", sum("new_tokens").over(w))
        .orderBy("decile")
    },

    // ---- Benford first-digit audit (q186): leading-digit distribution
    //      of order totals vs Benford's log10(1+1/d) expectation — the
    //      classic fabricated-data / ingestion-corruption screen for
    //      financial columns. Expected shares pinned as integer bp
    //      literals (3010, 1761, ...), deviations in exact bp; one
    //      map-side-combined 9-group aggregate + broadcast total.
    //      (TPC-H-style uniform prices will FAIL Benford loudly — the
    //      audit reporting honestly on synthetic data.) ----
    QueryDef(
      "q186_benford", {
        val benfordBp = Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)
        val benfordCase = benfordBp.zipWithIndex
          .map { case (bp, i) => s"WHEN ${i + 1} THEN $bp" }.mkString(" ")
        s"""WITH d AS (
           |  SELECT CAST(substring(CAST(${Exact.centsSql("o_totalprice")}
           |           AS VARCHAR), 1, 1) AS BIGINT) AS digit
           |  FROM orders
           |  WHERE ${Exact.centsSql("o_totalprice")} > 0),
           |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
           |t AS (SELECT sum(n) AS tot FROM g)
           |SELECT digit, CAST(n AS BIGINT) AS n,
           |       CAST(n * 10000 // tot AS BIGINT) AS share_bp,
           |       CAST(CASE digit $benfordCase END AS BIGINT) AS benford_bp,
           |       CAST(abs(n * 10000 // tot -
           |            CASE digit $benfordCase END) AS BIGINT) AS dev_bp
           |FROM g, t ORDER BY digit""".stripMargin
      }) { (s, dir) =>
      val benfordBp = Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)
      val bcol = (1 to 9).foldLeft(lit(null).cast("long")) { (acc, d) =>
        when(col("digit") === d, lit(benfordBp(d - 1).toLong)).otherwise(acc)
      }
      val cents = Exact.cents(col("o_totalprice"))
      val g = Tables.orders(s, dir)
        .filter(cents > 0)
        .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = g.agg(sum("n").as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("digit"), col("n"),
          expr("n * 10000 div tot").as("share_bp"),
          bcol.as("benford_bp"),
          abs(expr("n * 10000 div tot") - bcol).as("dev_bp"))
        .orderBy("digit")
    },

    // ---- exact join-size pre-flight (q178): |A ⋈ B| = Σ_k cntA(k)·cntB(k)
    //      from the two key histograms — the planning diagnostic run
    //      BEFORE a 100 TB fact⋈fact join to size shuffle partitions
    //      and decide on salting (q100 reports one table's skew; this
    //      reports the JOIN's). Output: key count, exact join
    //      cardinality (DECIMAL — products of counts overflow Long at
    //      scale), the hottest key's contribution, and its skew ratio
    //      vs a uniform spread. Two map-side-combined histograms and a
    //      histogram-sized join — never the fact tables themselves. ----
    QueryDef(
      "q178_join_size",
      """WITH ha AS (SELECT l_orderkey AS k, count(*) AS ca
        |            FROM lineitem GROUP BY 1),
        |hb AS (SELECT o_orderkey AS k, count(*) AS cb
        |       FROM orders GROUP BY 1),
        |j AS (SELECT ha.k, CAST(ca AS DECIMAL(38,0)) * cb AS rows_k
        |      FROM ha JOIN hb ON ha.k = hb.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
        |       CAST(sum(rows_k) AS BIGINT) AS join_rows,
        |       CAST(max(rows_k) AS BIGINT) AS max_key_rows,
        |       CAST(CAST(max(rows_k) AS HUGEINT) * count(*) * 10000
        |            // CAST(sum(rows_k) AS HUGEINT) AS BIGINT) AS skew_bp
        |FROM j""".stripMargin) { (s, dir) =>
      val ha = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val hb = Tables.orders(s, dir)
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      ha.join(hb, "k")
        .select((col("ca").cast("decimal(38,0)") * col("cb")).as("rows_k"))
        .agg(count(lit(1)).as("n_join_keys"),
          sum("rows_k").as("jr"), max("rows_k").as("mk"))
        .select(col("n_join_keys"),
          col("jr").cast("long").as("join_rows"),
          col("mk").cast("long").as("max_key_rows"),
          expr("CAST(mk * n_join_keys * 10000 div jr AS BIGINT)")
            .as("skew_bp"))
    },

    // ---- last-touch attribution (q179): each purchase attributed to
    //      the user's most recent click within a 7-day window — the
    //      marketing-analytics join, expressed as the SAME as-of
    //      machinery as q48 (union + ordered window per user: one
    //      shuffle, linear, never a per-user range cross-join), with
    //      the lookback window applied as a post-filter. Click ties at
    //      one (user, ts) pre-aggregate to max event_id for
    //      determinism. ----
    QueryDef(
      "q179_attribution",
      """WITH c AS (SELECT user_id, ts, max(event_id) AS cid
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |       CASE WHEN c.ts IS NOT NULL
        |             AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN c.cid END AS click_id,
        |       CASE WHEN c.ts IS NOT NULL
        |             AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
        |            THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("cts"))
        .agg(max("event_id").as("cid"))
      Temporal.asofJoin(purchases, clicks, "user_id", "ts", "cts",
          Seq("cid", "cts"))
        .select(col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - unix_micros(col("cts"))).as("_gap"),
          col("cid"))
        .select(col("event_id"), col("user_id"),
          when(col("_gap").isNotNull && col("_gap") <= 604800000000L,
            col("cid")).as("click_id"),
          when(col("_gap").isNotNull && col("_gap") <= 604800000000L,
            col("_gap")).as("gap_us"))
        .orderBy("event_id")
    }
  )

  /** CTEs pairs/edges/nodes/l0/l1/l2/l3: the co-purchase graph
    * (OracleSql.coPurchaseCtes) plus the FULL 3-round deterministic-LPA
    * unroll (synchronous rounds, ties to the smallest label) — mirrors
    * Graph.labelPropagation(3) and is shared by the q145 and q223
    * oracles so the labeling cannot drift between them. (def, not val:
    * `defs` above initializes first.)
    */
  private def lpaGraphCtes: String = {
    def iter(prev: String, n: Int): String =
      s"""cnt$n AS (
         |  SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN $prev l ON l.id = e.src
         |  GROUP BY 1, 2),
         |mx$n AS (SELECT id, max(c) AS mc FROM cnt$n GROUP BY 1),
         |b$n AS (
         |  SELECT c.id, min(c.label) AS nl
         |  FROM cnt$n c JOIN mx$n m ON c.id = m.id AND c.c = m.mc
         |  GROUP BY 1),
         |l$n AS (
         |  SELECT p.id, coalesce(b$n.nl, p.label) AS label
         |  FROM $prev p LEFT JOIN b$n ON p.id = b$n.id)""".stripMargin
    s"""${OracleSql.coPurchaseCtes},
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |${iter("l0", 1)},
       |${iter("l1", 2)},
       |${iter("l2", 3)}""".stripMargin
  }
}
