package graft.operators

import graft.catalog.QueryDef
import graft.operators.OracleSql.cosineSql
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.functions._

/** Storage-layout, graph and evaluation audits, round-5 extension set:
  * zone-map data skipping, resource-allocation link prediction,
  * probability-calibration (Brier) decomposition, Kendall tau-b rank
  * agreement, and a Matryoshka truncated-embedding retrieval audit.
  *
  * Reference surface: none — the MapReduce engine (SURVEY.md §2.4 ABSENT
  * rows; /root/reference/src/mr/worker.go:76-190 is a scan→shuffle→reduce
  * core) has no storage-layout or evaluation tooling; these are the
  * Spark-first audit operators a 100 TB curation pipeline runs around its
  * data plane.
  *
  * Scale notes (100 TB):
  *  - zone maps (q228): the map is ONE min/max/count row per chunk —
  *    O(files), not O(rows) — and the predicate set is a broadcast
  *    literal table; the audit costs one scan per layout and the skip
  *    decision itself never touches row data. This is exactly the file
  *    statistics a lakehouse table format keeps; the query measures how
  *    much a sort-clustered rewrite buys before paying for it.
  *  - link prediction (q229): wedge enumeration is capped at hub degree
  *    ≤ 64 (standard hub exclusion — a hub's 1/log- or 1/deg-weight is
  *    negligible and its fan-out quadratic), so the join materializes
  *    Σ min(deg,cap)² wedges, never deg_max².
  *  - calibration (q230): per-row micro-unit quantization before ONE
  *    (bin) aggregate; the decomposition reads 10 bin rows + one
  *    broadcast global rate.
  *  - Kendall (q231): the exact pair form is sample-bounded (the q136
  *    pattern — sample²/2 pairs by construction); sample size is the
  *    knob, tie counts come off the same pair table.
  *  - Matryoshka (q232): two brute-force top-k passes (full + prefix
  *    dims) over the same broadcast query set — each is the q29 shape
  *    (no corpus shuffle, map-side local top-k) and the overlap join is
  *    |queries|·k rows.
  */
object AuditQueries {

  /** q230's stopword probe set (ASCII, lowercase). def: `defs` first. */
  private[operators] def calibStops: Seq[String] = Seq(
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it")

  val defs: Seq[QueryDef] = Seq(

    // ---- zone-map data-skipping audit (q228): per-chunk min/max/count
    //      "file statistics" over l_shipdate for TWO physical layouts —
    //      raw insertion order (chunk = l_orderkey div 512) and
    //      shipdate-clustered (chunk = globalRank div 4096) — probed by
    //      a literal predicate set (incl. one zero-match range to pin
    //      the full-skip path). Reports chunks read/skipped and rows
    //      scanned vs actually matching per (predicate, layout): the
    //      measurement that justifies a clustering rewrite. The
    //      clustered ranking uses Scale.globalRank (range-partitioned
    //      prefix sums), never a single-partition window. ----
    QueryDef(
      "q228_zonemap_skip",
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |         date_diff('day', DATE '1970-01-01',
        |                   CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem),
        |raw AS (SELECT l_orderkey // 512 AS chunk, d FROM li),
        |clus AS (
        |  SELECT (row_number() OVER (ORDER BY d, l_orderkey, l_linenumber)
        |          - 1) // 4096 AS chunk, d
        |  FROM li),
        |zones AS (
        |  SELECT 'raw' AS layout, chunk, min(d) AS mn, max(d) AS mx,
        |         count(*) AS cnt
        |  FROM raw GROUP BY 2
        |  UNION ALL
        |  SELECT 'clustered', chunk, min(d), max(d), count(*)
        |  FROM clus GROUP BY 2),
        |preds AS (
        |  SELECT * FROM (VALUES
        |    (0, DATE '1990-01-01', DATE '1994-12-31'),
        |    (1, DATE '1996-01-01', DATE '1996-12-31'),
        |    (2, DATE '1998-06-01', DATE '1998-08-31'),
        |    (3, DATE '2001-01-01', DATE '2001-12-31')) v(pred_id, lo_d, hi_d)),
        |pd AS (
        |  SELECT CAST(pred_id AS BIGINT) AS pred_id,
        |         date_diff('day', DATE '1970-01-01', lo_d) AS lo,
        |         date_diff('day', DATE '1970-01-01', hi_d) AS hi
        |  FROM preds),
        |audit AS (
        |  SELECT p.pred_id, z.layout,
        |         CAST(count(*) AS BIGINT) AS n_chunks,
        |         CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS chunks_read,
        |         CAST(sum(CASE WHEN z.mx >= p.lo AND z.mn <= p.hi
        |                       THEN z.cnt ELSE 0 END) AS BIGINT) AS rows_read
        |  FROM zones z CROSS JOIN pd p
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT p.pred_id, CAST(count(*) AS BIGINT) AS rows_match
        |  FROM li JOIN pd p ON li.d BETWEEN p.lo AND p.hi
        |  GROUP BY 1)
        |SELECT a.pred_id AS pred_id, a.layout, a.n_chunks, a.chunks_read,
        |       a.rows_read,
        |       coalesce(m.rows_match, 0) AS rows_match,
        |       1000 * (a.n_chunks - a.chunks_read) // a.n_chunks
        |         AS skip_permille
        |FROM audit a LEFT JOIN m ON m.pred_id = a.pred_id
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
            .cast("long").as("d"))
      val preds = Seq(
        (0L, "1990-01-01", "1994-12-31"), (1L, "1996-01-01", "1996-12-31"),
        (2L, "1998-06-01", "1998-08-31"), (3L, "2001-01-01", "2001-12-31"))
        .toDF("pred_id", "lo_s", "hi_s")
        .select(col("pred_id"),
          datediff(to_date(col("lo_s")), lit("1970-01-01")).cast("long").as("lo"),
          datediff(to_date(col("hi_s")), lit("1970-01-01")).cast("long").as("hi"))
      val raw = li.select(expr("l_orderkey div 512").as("chunk"), col("d"))
      val clus = Scale.globalRank(li, "rnk", "d", "l_orderkey", "l_linenumber")
        .select(expr("(rnk - 1) div 4096").as("chunk"), col("d"))
      def zonesOf(df: org.apache.spark.sql.DataFrame, layout: String) =
        df.groupBy("chunk")
          .agg(min("d").as("mn"), max("d").as("mx"), count(lit(1)).as("cnt"))
          .select(lit(layout).as("layout"), col("chunk"), col("mn"),
            col("mx"), col("cnt"))
      val zones = zonesOf(raw, "raw").unionAll(zonesOf(clus, "clustered"))
      val overlap = col("mx") >= col("lo") && col("mn") <= col("hi")
      val audit = zones.crossJoin(broadcast(preds))
        .groupBy("pred_id", "layout")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(overlap, 1L).otherwise(0L)).as("chunks_read"),
          sum(when(overlap, col("cnt")).otherwise(0L)).as("rows_read"))
      val matches = li.crossJoin(broadcast(preds))
        .filter(col("d").between(col("lo"), col("hi")))
        .groupBy("pred_id").agg(count(lit(1)).as("rows_match"))
      audit.join(matches, Seq("pred_id"), "left")
        .select(col("pred_id"), col("layout"), col("n_chunks"),
          col("chunks_read"), col("rows_read"),
          coalesce(col("rows_match"), lit(0L)).as("rows_match"),
          expr("1000 * (n_chunks - chunks_read) div n_chunks")
            .as("skip_permille"))
        .orderBy("pred_id", "layout")
    },

    // ---- resource-allocation link prediction (q229) over the q154
    //      co-purchase part graph: RA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/deg(z)
    //      (Zhou-Lü-Zhang), in exact integer micro-units
    //      (1000000 div deg), for node pairs NOT already linked. Wedge
    //      enumeration excludes hub pivots (deg > 64) — their weight is
    //      ≤ 1/65 each and their fan-out is the quadratic term — and the
    //      oracle replays the SAME capped contract, so the cap is part
    //      of the verified semantics, not a hidden recall escape. ----
    QueryDef(
      "q229_link_predict",
      s"""WITH ${OracleSql.partPairsCtes},
         |adj AS (
         |  SELECT u AS z, v AS n FROM e0
         |  UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT z, count(*) AS d FROM adj GROUP BY 1),
         |piv AS (
         |  SELECT adj.z, adj.n, deg.d FROM adj JOIN deg USING (z)
         |  WHERE deg.d <= 64),
         |cand AS (
         |  SELECT x.n AS u, y.n AS v,
         |         CAST(count(*) AS BIGINT) AS cn,
         |         CAST(sum(1000000 // x.d) AS BIGINT) AS ra_micro
         |  FROM piv x JOIN piv y ON x.z = y.z AND x.n < y.n
         |  GROUP BY 1, 2),
         |nov AS (
         |  SELECT c.* FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM e0
         |                    WHERE e0.u = c.u AND e0.v = c.v))
         |SELECT u, v, cn, ra_micro, rank FROM (
         |  SELECT *, row_number() OVER (ORDER BY ra_micro DESC, u, v) AS rank
         |  FROM nov) t
         |WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, dir) =>
      val e0 = Tables.partPairs(s, dir).distinct().toDF("a", "b")
      // adj is pinned (NOT e0, NOT piv): the degree pass and the pivot
      // join both read adj, so pinning it executes the lineitem
      // self-join once for that whole subtree, while e0 stays LAZY for
      // the novelty anti-join (keeping its size stats so the planner
      // can broadcast it locally) and piv stays lazy so the wedge
      // self-join's two sides share ONE exchange via ReuseExchange —
      // the q154 triangle lesson: a checkpoint there replaces working
      // exchange reuse with an extra materialization
      val adj = e0.select(col("a").as("z"), col("b").as("n"))
        .unionAll(e0.select(col("b").as("z"), col("a").as("n")))
        .localCheckpoint()
      val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
      val piv = adj.join(deg, "z").filter(col("d") <= 64)
      val cand = piv.as("x").join(piv.as("y"),
          col("x.z") === col("y.z") && col("x.n") < col("y.n"))
        .groupBy(col("x.n").as("u"), col("y.n").as("v"))
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 div x.d")).as("ra_micro"))
      cand.join(e0, cand("u") === e0("a") && cand("v") === e0("b"),
          "left_anti")
        .orderBy(col("ra_micro").desc, col("u"), col("v"))
        .limit(20)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ra_micro").desc, col("u"), col("v"))))
        .select("u", "v", "cn", "ra_micro", "rank")
        .orderBy("rank")
    }.copy(headline = true),

    // ---- probability-calibration audit (q230): a weak deterministic
    //      English-detector probability (stopword share of tokens, in
    //      micro-units) against the lang='en' label, reliability-binned
    //      (10 equal-width bins) with the Murphy/Brier decomposition
    //      terms per bin: mean predicted vs empirical rate, per-bin
    //      Brier, reliability (p̄−ȳ_b)² and resolution (ȳ_b−ȳ)²
    //      contributions. Every statistic is integer micro-units
    //      quantized per row BEFORE the single bin aggregate; squares
    //      ride DECIMAL so no Long overflow at any SF. ----
    QueryDef(
      "q230_calibration", {
        val stopsIn = calibStops.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           |         list_filter(string_split_regex(lower(text), '\\s+'),
           |                     w -> w <> '') AS toks
           |  FROM documents),
           |p AS (
           |  SELECT doc_id, y,
           |         least(999999,
           |           (1000000 * len(list_filter(toks,
           |              w -> w IN ($stopsIn)))) // len(toks)) AS p_micro
           |  FROM t WHERE len(toks) > 0),
           |q AS (
           |  SELECT p_micro // 100000 AS bin, p_micro, y,
           |         CAST(p_micro - 1000000 * y AS HUGEINT)
           |           * CAST(p_micro - 1000000 * y AS HUGEINT) AS sq
           |  FROM p),
           |b AS (
           |  SELECT bin, count(*) AS n, sum(p_micro) AS sp,
           |         sum(y) AS npos, sum(sq) AS ssq
           |  FROM q GROUP BY 1),
           |bb AS (
           |  SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           |         CAST(CAST(sp AS HUGEINT) // CAST(n AS HUGEINT) AS BIGINT)
           |           AS mean_p_micro,
           |         CAST(CAST(1000000 * npos AS HUGEINT) // CAST(n AS HUGEINT)
           |           AS BIGINT) AS pos_rate_micro,
           |         CAST(ssq // CAST(n AS HUGEINT) AS BIGINT) AS brier_micro2,
           |         CAST(npos AS BIGINT) AS npos
           |  FROM b),
           |g AS (
           |  SELECT CAST(CAST(1000000 * sum(npos) AS HUGEINT)
           |           // CAST(sum(n) AS HUGEINT) AS BIGINT) AS overall
           |  FROM bb)
           |SELECT bin, n, mean_p_micro, pos_rate_micro, brier_micro2,
           |       (mean_p_micro - pos_rate_micro)
           |         * (mean_p_micro - pos_rate_micro) AS rel_contrib_micro2,
           |       (pos_rate_micro - overall) * (pos_rate_micro - overall)
           |         AS res_contrib_micro2
           |FROM bb CROSS JOIN g
           |ORDER BY bin""".stripMargin
      }) { (s, dir) =>
      val stops = calibStops
      val toks = TextAnalysis.wsTokens(lower(col("text")))
      val p = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          toks.as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("y"),
          least(lit(999999L), expr(
            s"(1000000 * size(filter(toks, w -> w IN (${stops.map(w => s"'$w'").mkString(", ")})))) div size(toks)"))
            .as("p_micro"))
      val q = p.select(expr("p_micro div 100000").as("bin"), col("p_micro"),
        col("y"),
        ((col("p_micro") - lit(1000000L) * col("y"))
          * (col("p_micro") - lit(1000000L) * col("y")))
          .cast("decimal(38,0)").as("sq"))
      val b = q.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("p_micro").as("sp"),
          sum("y").as("npos"), sum("sq").as("ssq"))
      // global rate via an unpartitioned window over the AGGREGATED bin
      // frame (≤ 10 rows at any corpus size) — a second lineage from the
      // corpus would re-scan 100 TB for one number
      b.withColumn("overall",
          expr("(1000000 * sum(npos) OVER ()) div (sum(n) OVER ())"))
        .select(col("bin"), col("n"),
          expr("sp div n").as("mean_p_micro"),
          expr("(1000000 * npos) div n").as("pos_rate_micro"),
          expr("CAST(ssq div n AS BIGINT)").as("brier_micro2"),
          expr("(sp div n - (1000000 * npos) div n) * (sp div n - (1000000 * npos) div n)")
            .as("rel_contrib_micro2"),
          expr("((1000000 * npos) div n - overall) * ((1000000 * npos) div n - overall)")
            .as("res_contrib_micro2"))
        .orderBy("bin")
    },

    // ---- Kendall tau-b rank agreement (q231) between document length
    //      (n_chars) and whitespace token count on a bounded sample:
    //      exact concordant/discordant/tie counts off ONE sample² pair
    //      join (the q136 sample-bounded contract — sample size is the
    //      knob), tau-b itself via the shared-IEEE closed form (casts,
    //      ×, ÷, sqrt are correctly rounded in both engines; q203
    //      precedent) rounded to micro-units. Complements q198
    //      (Spearman rho): tau's pair semantics are robust to the tied
    //      ranks that rho's rank-average smears. ----
    QueryDef(
      "q231_kendall_tau",
      s"""WITH smp AS (
        |  SELECT doc_id, n_chars AS x,
        |         len(${OracleSql.wsTokens("text")}) AS y
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1
        |              ELSE 0 END AS cx,
        |         CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1
        |              ELSE 0 END AS cy
        |  FROM smp a JOIN smp b ON a.doc_id < b.doc_id),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS concordant,
        |         CAST(sum(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS discordant,
        |         CAST(sum(CASE WHEN cx = 0 AND cy <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_x,
        |         CAST(sum(CASE WHEN cy = 0 AND cx <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_y,
        |         CAST(sum(CASE WHEN cx = 0 AND cy = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_xy
        |  FROM pairs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM smp)
        |SELECT n, n_pairs, concordant, discordant, ties_x, ties_y, ties_xy,
        |       CAST(round(1000000 * CAST(concordant - discordant AS DOUBLE)
        |         / sqrt(CAST(n_pairs - ties_x - ties_xy AS DOUBLE)
        |                * CAST(n_pairs - ties_y - ties_xy AS DOUBLE)))
        |         AS BIGINT) AS tau_b_micro
        |FROM agg CROSS JOIN nn""".stripMargin) { (s, dir) =>
      val smp = Tables.documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("n_chars").as("x"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("y"))
      val pairs = smp.as("a").join(smp.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(
          when(col("a.x") > col("b.x"), 1).when(col("a.x") < col("b.x"), -1)
            .otherwise(0).as("cx"),
          when(col("a.y") > col("b.y"), 1).when(col("a.y") < col("b.y"), -1)
            .otherwise(0).as("cy"))
      val agg = pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("cx") === 0 && col("cy") =!= 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("cy") === 0 && col("cx") =!= 0, 1L).otherwise(0L)).as("ties_y"),
        sum(when(col("cx") === 0 && col("cy") === 0, 1L).otherwise(0L)).as("ties_xy"))
      val nn = smp.agg(count(lit(1)).as("n"))
      agg.crossJoin(broadcast(nn))
        .select(col("n"), col("n_pairs"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"), col("ties_xy"),
          round(lit(1000000) * (col("concordant") - col("discordant")).cast("double")
            / sqrt((col("n_pairs") - col("ties_x") - col("ties_xy")).cast("double")
              * (col("n_pairs") - col("ties_y") - col("ties_xy")).cast("double")))
            .cast("long").as("tau_b_micro"))
    },

    // ---- Matryoshka truncation audit (q232): how much retrieval
    //      quality survives keeping only the FIRST 32 of 64 embedding
    //      dims (the MRL deployment question — truncate, don't re-embed)?
    //      Exact top-10 under full-dim cosine vs prefix-dim cosine per
    //      query, overlap@10 and top-1 agreement. Both passes are the
    //      q29 shape: broadcast query set, ONE corpus scan each,
    //      map-side local top-k, no corpus shuffle; the overlap join
    //      handles |queries|·k rows. ----
    QueryDef(
      "q232_matryoshka", {
        def rankCte(embL: String, embR: String, out: String): String =
          s"""$out AS (
             |  SELECT query_id, neighbor_id, rank FROM (
             |    SELECT q.query_id, e.vec_id AS neighbor_id,
             |           row_number() OVER (PARTITION BY q.query_id
             |             ORDER BY ${cosineSql(embL, embR)} DESC, e.vec_id)
             |             AS rank
             |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
             |  WHERE rank <= 10)""".stripMargin
        s"""WITH qs AS (
           |  SELECT vec_id AS query_id, embedding AS qe,
           |         list_slice(embedding, 1, 32) AS qh
           |  FROM embeddings WHERE vec_id < 20),
           |${rankCte("q.qe", "e.embedding", "full_tk")},
           |${rankCte("q.qh", "list_slice(e.embedding, 1, 32)", "half_tk")},
           |ov AS (
           |  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_overlap
           |  FROM full_tk f JOIN half_tk h
           |    ON f.query_id = h.query_id AND f.neighbor_id = h.neighbor_id
           |  GROUP BY 1),
           |t1 AS (
           |  SELECT f.query_id,
           |         CAST(CASE WHEN f.neighbor_id = h.neighbor_id
           |              THEN 1 ELSE 0 END AS BIGINT) AS top1_match
           |  FROM full_tk f JOIN half_tk h ON f.query_id = h.query_id
           |  WHERE f.rank = 1 AND h.rank = 1)
           |SELECT q.query_id AS query_id,
           |       coalesce(ov.n_overlap, 0) AS n_overlap,
           |       t1.top1_match
           |FROM qs q
           |LEFT JOIN ov ON ov.query_id = q.query_id
           |JOIN t1 ON t1.query_id = q.query_id
           |ORDER BY 1""".stripMargin
      }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 20)
      val queriesFull = qs.select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"))
      val halfCorpus = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
      val queriesHalf = qs.select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, 32).as("q_embedding"))
      val fullTk = graft.similarity.Similarity
        .bruteForceTopK(emb, queriesFull, k = 10)
        .select("query_id", "neighbor_id", "rank")
      val halfTk = graft.similarity.Similarity
        .bruteForceTopK(halfCorpus, queriesHalf, k = 10)
        .select(col("query_id"), col("neighbor_id").as("h_neighbor_id"),
          col("rank").as("h_rank"))
      val ov = fullTk.join(halfTk,
          fullTk("query_id") === halfTk("query_id") &&
            fullTk("neighbor_id") === halfTk("h_neighbor_id"))
        .groupBy(fullTk("query_id").as("query_id"))
        .agg(count(lit(1)).as("n_overlap"))
      val t1 = fullTk.filter(col("rank") === 1)
        .join(halfTk.filter(col("h_rank") === 1), "query_id")
        .select(col("query_id"),
          when(col("neighbor_id") === col("h_neighbor_id"), 1L)
            .otherwise(0L).as("top1_match"))
      queriesFull.select("query_id")
        .join(ov, Seq("query_id"), "left")
        .join(t1, "query_id")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          col("top1_match"))
        .orderBy("query_id")
    },

    // ---- HITS hubs & authorities (q233) on the customer→part purchase
    //      bipartite graph (Kleinberg 1999): two power-iteration rounds
    //      fully unrolled, max-normalized to integer micro-units after
    //      each half-step (global max = a broadcast 1-row aggregate), so
    //      every score is engine- and partition-exact. Each half-step is
    //      one edge-keyed join + one grouped sum — the iterate is
    //      O(|edges|) shuffle per round, scores never exceed 1e6. ----
    QueryDef(
      "q233_hits",
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT p, 1000000 * count(*) AS a FROM e GROUP BY 1),
        |a1n AS (SELECT p, (a * 1000000) // (SELECT max(a) FROM a1) AS a
        |        FROM a1),
        |h1 AS (SELECT e.c, sum(a1n.a) AS h FROM e JOIN a1n USING (p)
        |       GROUP BY 1),
        |h1n AS (SELECT c, (h * 1000000) // (SELECT max(h) FROM h1) AS h
        |        FROM h1),
        |a2 AS (SELECT e.p, sum(h1n.h) AS a FROM e JOIN h1n USING (c)
        |       GROUP BY 1),
        |a2n AS (SELECT p, (a * 1000000) // (SELECT max(a) FROM a2) AS a
        |        FROM a2)
        |SELECT CAST(p AS BIGINT) AS part_id, CAST(a AS BIGINT) AS auth_micro,
        |       rank FROM (
        |  SELECT p, a, row_number() OVER (ORDER BY a DESC, p) AS rank
        |  FROM a2n) t
        |WHERE rank <= 15 ORDER BY rank""".stripMargin) { (s, dir) =>
      val e = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val a2 = graft.graph.Graph.hitsAuthMicro(e)
      a2.orderBy(col("a").desc, col("p")).limit(15)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("a").desc, col("p"))))
        .select(col("p").as("part_id"), col("a").as("auth_micro"), col("rank"))
        .orderBy("rank")
    }.copy(headline = true),

    // ---- seasonal decomposition + residual anomalies (q234): per
    //      (event_type, hour-of-day) seasonal mean profile in exact
    //      cents, residual = value − seasonal mean, per-type MAD of the
    //      residuals (lower-median, q174's discrete-element rule — an
    //      ELEMENT of the data, engine-exact), anomaly = |dev| beyond
    //      3×1.4826×MAD. The diurnal profile a metrics pipeline
    //      subtracts before alerting: a z-score on the RAW value (q79)
    //      flags every rush hour; on the residual it flags real
    //      outliers. Profile is |types|×24 rows (broadcast); medians
    //      ride per-type windows (parallel across types). ----
    QueryDef(
      "q234_seasonal",
      s"""WITH ev AS (
         |  SELECT event_id, event_type, hour(ts) AS hr,
         |         ${Exact.centsSql("value")} AS cents
         |  FROM events),
         |seas AS (
         |  SELECT event_type, hr,
         |         CAST(sum(cents) AS BIGINT) // count(*) AS mean_cents
         |  FROM ev GROUP BY 1, 2),
         |res AS (
         |  SELECT ev.event_id, ev.event_type,
         |         ev.cents - seas.mean_cents AS resid
         |  FROM ev JOIN seas ON seas.event_type = ev.event_type
         |                   AND seas.hr = ev.hr),
         |cnt AS (SELECT event_type, count(*) AS n FROM res GROUP BY 1),
         |rr AS (
         |  SELECT event_type, resid,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY resid, event_id) AS rn
         |  FROM res),
         |med AS (
         |  SELECT rr.event_type, rr.resid AS med
         |  FROM rr JOIN cnt USING (event_type)
         |  WHERE rr.rn = (cnt.n + 1) // 2),
         |dv AS (
         |  SELECT res.event_id, res.event_type,
         |         abs(res.resid - med.med) AS dev
         |  FROM res JOIN med USING (event_type)),
         |rd AS (
         |  SELECT event_type, dev,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY dev, event_id) AS rn
         |  FROM dv),
         |mad AS (
         |  SELECT rd.event_type, rd.dev AS mad
         |  FROM rd JOIN cnt USING (event_type)
         |  WHERE rd.rn = (cnt.n + 1) // 2)
         |SELECT c.event_type, CAST(c.n AS BIGINT) AS n,
         |       CAST(m.med AS BIGINT) AS med_resid_cents,
         |       CAST(d.mad AS BIGINT) AS mad_cents,
         |       CAST((SELECT count(*) FROM dv
         |             WHERE dv.event_type = c.event_type
         |               AND dv.dev * 10000 > 3 * 14826 * d.mad)
         |         AS BIGINT) AS n_anomalies
         |FROM cnt c JOIN med m ON m.event_type = c.event_type
         |JOIN mad d ON d.event_type = c.event_type
         |ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.eventsTs(s, dir)
        .select(col("event_id"), col("event_type"), hour(col("ts")).as("hr"),
          Exact.cents(col("value")).as("cents"))
      val seas = ev.groupBy("event_type", "hr")
        .agg(expr("CAST(sum(cents) AS BIGINT) div count(*)").as("mean_cents"))
      val res = ev.join(broadcast(seas), Seq("event_type", "hr"))
        .select(col("event_id"), col("event_type"),
          (col("cents") - col("mean_cents")).as("resid"))
      val cnt = res.groupBy("event_type").agg(count(lit(1)).as("n"))
      def lowerMedianBy(df: org.apache.spark.sql.DataFrame, vCol: String,
          out: String) = {
        val w = Window.partitionBy("event_type")
          .orderBy(col(vCol), col("event_id"))
        df.withColumn("_rn", row_number().over(w))
          .join(broadcast(cnt), "event_type")
          .filter(col("_rn") === expr("(n + 1) div 2"))
          .select(col("event_type"), col(vCol).as(out))
      }
      val med = lowerMedianBy(res, "resid", "med")
      val dv = res.join(broadcast(med), "event_type")
        .select(col("event_id"), col("event_type"),
          abs(col("resid") - col("med")).as("dev"))
      val mad = lowerMedianBy(dv, "dev", "mad")
      val anom = dv.join(broadcast(mad), "event_type")
        .filter(col("dev") * 10000L > lit(3L) * 14826L * col("mad"))
        .groupBy("event_type").agg(count(lit(1)).as("n_anomalies"))
      cnt.join(med, "event_type").join(mad, "event_type")
        .join(anom, Seq("event_type"), "left")
        .select(col("event_type"), col("n"),
          col("med").as("med_resid_cents"), col("mad").as("mad_cents"),
          coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"))
        .orderBy("event_type")
    },

    // ---- Kaplan-Meier churn survival (q235): per-user observation =
    //      first→last event elapsed FULL hours; churned if the last
    //      event predates the corpus end by > 24 h, else right-censored
    //      (still active). The curve is reported as LOG-survival in
    //      integer micro-nats — Σ round(1e6·ln(1−d/n)) over event times
    //      — because ln() is quantized per STEP (the q105/q156 rule)
    //      and the cumulative sum is then order-independent integer
    //      arithmetic; exp() (not correctly-rounded everywhere) never
    //      runs. All elapsed math in raw epoch ticks with floor-div —
    //      calendar hour-boundary counting would disagree with elapsed
    //      hours. At-risk counts come from a suffix sum over the per-t
    //      aggregate (≤ |distinct t| rows), never a per-user window. ----
    QueryDef(
      "q235_kaplan_meier",
      """WITH u AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fst, max(epoch_us(ts)) AS lst
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(lst) AS endus FROM u),
        |obs AS (
        |  SELECT user_id, (lst - fst) // 3600000000 AS t,
        |         CASE WHEN lst < endus - 86400000000 THEN 1 ELSE 0 END AS ev
        |  FROM u CROSS JOIN mx),
        |bt AS (
        |  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
        |         CAST(sum(1 - ev) AS BIGINT) AS c,
        |         CAST(count(*) AS BIGINT) AS m
        |  FROM obs GROUP BY 1),
        |km AS (
        |  SELECT t, d, c,
        |         sum(m) OVER (ORDER BY t DESC) AS n_risk,
        |         CASE WHEN d = 0 THEN 0 ELSE NULL END AS _pad
        |  FROM bt),
        |terms AS (
        |  SELECT t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
        |         CASE WHEN d = 0 THEN 0
        |              WHEN d >= n_risk THEN -99000000
        |              ELSE CAST(round(1000000 * ln(1.0 -
        |                     CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
        |                   AS BIGINT) END AS term
        |  FROM km)
        |SELECT t AS t_hours, n_risk, d AS d_churned, c AS c_censored,
        |       CAST(sum(term) OVER (ORDER BY t) AS BIGINT)
        |         AS log_surv_micronat
        |FROM terms ORDER BY t""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // Tables.events normalizes ts to Long NANOS; the oracle reads
      // epoch MICROS — both floor-div by their own ticks-per-hour /
      // ticks-per-day, and ns values are exact µs×1000, so quotients
      // and the censor comparison agree exactly.
      val u = Tables.events(s, dir).groupBy("user_id")
        .agg(min("ts").as("fst"), max("ts").as("lst"))
      val mx = u.agg(max("lst").as("endns"))
      val obs = u.crossJoin(broadcast(mx))
        .select(expr("(lst - fst) div 3600000000000").as("t"),
          when(col("lst") < col("endns") - lit(86400000000000L), 1L)
            .otherwise(0L).as("ev"))
      val bt = obs.groupBy("t")
        .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"),
          count(lit(1)).as("m"))
      // suffix/prefix sums run over the AGGREGATED per-t frame
      // (≤ |distinct durations| rows at any corpus size)
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAsc = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bt.withColumn("n_risk", sum("m").over(wDesc))
        .withColumn("term",
          when(col("d") === 0, 0L)
            .when(col("d") >= col("n_risk"), -99000000L)
            .otherwise(round(lit(1000000) *
              log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
              .cast("long")))
        .withColumn("log_surv_micronat", sum("term").over(wAsc))
        .select(col("t").as("t_hours"), col("n_risk"),
          col("d").as("d_churned"), col("c").as("c_censored"),
          col("log_surv_micronat"))
        .orderBy("t_hours")
    },

    // ---- column-storage advisor (q236): per-column run/NDV statistics
    //      under the table's physical sort order — run count (RLE
    //      viability), distinct count (dict width via exact bin()
    //      bit-length), mean run length, plain byte mass. The companion
    //      to q228: zone maps say what a sort buys the READER, this
    //      says what it buys the WRITER. Adjacency is an equi-join on
    //      globalRank positions (rank r joins r−1) — never a
    //      single-partition lag window over the table. ----
    QueryDef(
      "q236_storage_advisor",
      """WITH r AS (
        |  SELECT o_orderstatus AS s, o_orderpriority AS p,
        |         row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders),
        |j AS (
        |  SELECT a.s, a.p, b.s AS ps, b.p AS pp
        |  FROM r a LEFT JOIN r b ON b.rn = a.rn - 1),
        |u AS (
        |  SELECT 'o_orderstatus' AS col_name, s AS v, ps AS pv FROM j
        |  UNION ALL
        |  SELECT 'o_orderpriority', p, pp FROM j)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT v) AS BIGINT) AS ndv,
        |       CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
        |         AS BIGINT) AS runs,
        |       CAST(CAST(1000 * count(*) AS HUGEINT) //
        |         CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
        |              AS HUGEINT) AS BIGINT)
        |         AS avg_run_len_milli,
        |       CAST(CASE WHEN count(DISTINCT v) <= 1 THEN 0
        |            ELSE length(bin(count(DISTINCT v) - 1)) END AS BIGINT)
        |         AS dict_bits,
        |       CAST(sum(length(v)) AS BIGINT) AS plain_bytes
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ranked = Scale.globalRank(
        Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderstatus").as("s"), col("o_orderpriority").as("p")),
        "rn", "o_orderkey")
      val prev = ranked.select((col("rn") + 1).as("rn"),
        col("s").as("ps"), col("p").as("pp"))
      val j = ranked.join(prev, Seq("rn"), "left")
      val u = j.select(lit("o_orderstatus").as("col_name"),
          col("s").as("v"), col("ps").as("pv"))
        .unionAll(j.select(lit("o_orderpriority").as("col_name"),
          col("p").as("v"), col("pp").as("pv")))
      u.groupBy("col_name")
        .agg(count(lit(1)).as("n"), countDistinct("v").as("ndv"),
          sum(when(col("pv").isNull || col("v") =!= col("pv"), 1L)
            .otherwise(0L)).as("runs"),
          sum(length(col("v"))).cast("long").as("plain_bytes"))
        .select(col("col_name"), col("n"), col("ndv"), col("runs"),
          expr("(1000 * n) div runs").as("avg_run_len_milli"),
          when(col("ndv") <= 1, 0L)
            .otherwise(length(bin(col("ndv") - 1)).cast("long"))
            .as("dict_bits"),
          col("plain_bytes"))
        .orderBy("col_name")
    }
  )
}
