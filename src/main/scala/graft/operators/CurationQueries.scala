package graft.operators

import graft.catalog.QueryDef
import graft.dedup.Dedup
import graft.operators.OracleSql.cosineSql
import graft.similarity.Similarity
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation statistics and entity-resolution operators, round-6
  * extension set: Zipf power-law fit, Fellegi–Sunter record linkage,
  * char-bigram LM perplexity quality scoring, and Good–Turing unseen-mass
  * estimation.
  *
  * Reference surface: none — the MapReduce engine (SURVEY.md §2.4 ABSENT
  * rows; /root/reference/src/mr/worker.go:76-190) has no corpus-statistics
  * or linkage tooling; these are the curation operators a 100 TB
  * training-data pipeline runs on top of its data plane.
  *
  * Scale notes (100 TB):
  *  - Zipf fit (q237): one token-count aggregation, then
  *    [[Scale.globalRank]] (range-partitioned prefix sums — never a
  *    single-partition window) ranks the vocabulary; the OLS fit reads
  *    only the top-R ranked rows and reduces them to ONE moment row.
  *    All regression arithmetic is integer (micro-nat quantization per
  *    point, DECIMAL(38,0) moment products), so the oracle hash-matches.
  *  - record linkage (q238): candidate pairs come ONLY from blocking
  *    passes (nation × balance-bucket, nation × name-suffix) — two
  *    equi-join shuffles, never an all-pairs compare — with the LSH-style
  *    live-block cap (2..maxBlock) guarding degenerate blocks on both
  *    sides. Σ block² bounded by maxBlock × n.
  *  - char-LM scoring (q239): the trained LM is vocabulary-bounded
  *    (≤ 27² bigram rows + 27 context rows) and BROADCAST; scoring is one
  *    narrow scan + per-doc aggregate. Training is one count aggregation
  *    over the reference slice.
  *  - Good–Turing (q240): two nested count aggregations; the
  *    frequency-of-frequencies table is ≤ max-count rows and its r+1
  *    lookup is an equi-join on that tiny table, not a window.
  */
object CurationQueries {

  private val toksSql = OracleSql.wsTokens()

  /** round(1e6·ln(1/27)) — the unseen-context fallback, pinned as a
    * literal on BOTH sides so no ln() boundary can flip it. */
  private val qlnUnseenCtx = -3295837L

  val defs: Seq[QueryDef] = Seq(

    // ---- Zipf power-law fit (q237): rank the vocabulary by frequency
    //      and OLS-fit ln(freq) = intercept − alpha·ln(rank) over the
    //      top 200 ranks — the corpus-health number (alpha ≈ 1 for
    //      natural language) a curation pipeline tracks per snapshot to
    //      catch template/boilerplate floods (alpha collapses) or
    //      over-dedup (alpha inflates). Per-point micro-nat
    //      quantization BEFORE the moment sums keeps every sum integer
    //      and order-insensitive; the slope/intercept divisions keep
    //      both numerators positive so DuckDB floor-div == Spark
    //      truncating div. ----
    QueryDef(
      "q237_zipf_fit",
      s"""WITH toks AS (
         |  SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |      FROM toks GROUP BY tok),
         |r AS (SELECT tok, cnt,
         |        CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
         |          AS rank
         |      FROM c),
         |p AS (SELECT rank, cnt, tok,
         |        CAST(round(1000000 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
         |        CAST(round(1000000 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
         |      FROM r WHERE rank <= 200),
         |${OracleSql.regressionSumsCte},
         |a AS (SELECT n, sy, sx,
         |        CAST(CAST((sx * sy - n * sxy) * 1000 AS HUGEINT)
         |             // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
         |          AS alpha_milli
         |      FROM g),
         |t1 AS (SELECT tok AS top_token, cnt AS top_cnt FROM r WHERE rank = 1)
         |SELECT CAST(n AS BIGINT) AS n_ranked, alpha_milli,
         |       CAST(CAST(sy * 1000 + alpha_milli * sx AS HUGEINT)
         |            // CAST(n * 1000 AS HUGEINT) AS BIGINT)
         |         AS intercept_micro,
         |       top_token, top_cnt
         |FROM a CROSS JOIN t1""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      val c = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ranked = Scale.globalRank(
        c.withColumn("neg", -col("cnt")), "rank", "neg", "tok")
      val p = ranked.filter(col("rank") <= 200).select(
        col("rank"), col("cnt"), col("tok"),
        round(lit(1000000d) * log(col("rank").cast("double")))
          .cast("long").as("x"),
        round(lit(1000000d) * log(col("cnt").cast("double")))
          .cast("long").as("y"))
      val g = regressionSums(p)
      val a = g.select(col("n"), col("sy"), col("sx"),
        expr("CAST(((sx * sy - n * sxy) * 1000) div (n * sxx - sx * sx) AS BIGINT)")
          .as("alpha_milli"))
      val t1 = p.filter(col("rank") === 1)
        .select(col("tok").as("top_token"), col("cnt").as("top_cnt"))
      a.crossJoin(broadcast(t1)).select(
        col("n").cast("long").as("n_ranked"),
        col("alpha_milli"),
        expr("CAST((sy * 1000 + alpha_milli * sx) div (n * 1000) AS BIGINT)")
          .as("intercept_micro"),
        col("top_token"), col("top_cnt"))
    },

    // ---- Fellegi–Sunter record linkage (q238): probabilistic entity
    //      resolution over a dirty customer table — planted near-dupes
    //      (typo'd name, drifted balance, sometimes-lost segment) must
    //      be recovered through BLOCKING (two passes: nation ×
    //      balance-kilobucket, nation × name-suffix — a perturbation
    //      that escapes one block survives the other) and field-wise
    //      agreement weights in milli-bans (name exact/fuzzy/miss via
    //      levenshtein, segment, balance-within-10¢). Decision bands:
    //      ≥8000 match, ≥3000 possible. The balance bucket shifts by
    //      +100000 before the div so the numerator stays positive
    //      (floor == trunc). ----
    QueryDef(
      "q238_record_linkage",
      """WITH base AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
        |         c_mktsegment AS seg,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer),
        |dup AS (
        |  SELECT id + 1000000 AS id,
        |         replace(name, 'Customer#', 'Custmer#') AS name, nat,
        |         CASE WHEN id % 3 = 0 THEN 'UNKNOWN' ELSE seg END AS seg,
        |         bal_c + 5 AS bal_c
        |  FROM base WHERE id < 60),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM dup),
        |k1 AS (SELECT id, nat, (bal_c + 100000) // 100000 AS bk FROM u),
        |c1 AS (SELECT nat, bk FROM k1 GROUP BY nat, bk
        |       HAVING count(*) BETWEEN 2 AND 1000),
        |p1 AS (SELECT a.id AS id_a, b.id AS id_b
        |       FROM k1 a JOIN k1 b
        |         ON a.nat = b.nat AND a.bk = b.bk AND a.id < b.id
        |       JOIN c1 ON c1.nat = a.nat AND c1.bk = a.bk),
        |k2 AS (SELECT id, nat, right(name, 4) AS nk FROM u),
        |c2 AS (SELECT nat, nk FROM k2 GROUP BY nat, nk
        |       HAVING count(*) BETWEEN 2 AND 1000),
        |p2 AS (SELECT a.id AS id_a, b.id AS id_b
        |       FROM k2 a JOIN k2 b
        |         ON a.nat = b.nat AND a.nk = b.nk AND a.id < b.id
        |       JOIN c2 ON c2.nat = a.nat AND c2.nk = a.nk),
        |pairs AS (SELECT id_a, id_b FROM p1
        |          UNION SELECT id_a, id_b FROM p2),
        |sc AS (
        |  SELECT p.id_a, p.id_b,
        |         CAST(CASE WHEN a.name = b.name THEN 9000
        |              WHEN levenshtein(a.name, b.name) <= 2 THEN 5000
        |              ELSE -4000 END
        |         + CASE WHEN a.seg = b.seg THEN 1500 ELSE -2500 END
        |         + CASE WHEN abs(a.bal_c - b.bal_c) <= 10 THEN 3000
        |                ELSE -1500 END AS BIGINT) AS score_milli
        |  FROM pairs p
        |  JOIN u a ON a.id = p.id_a
        |  JOIN u b ON b.id = p.id_b)
        |SELECT id_a, id_b, score_milli,
        |       CASE WHEN score_milli >= 8000 THEN 'match'
        |            WHEN score_milli >= 3000 THEN 'possible'
        |            ELSE 'nonmatch' END AS decision
        |FROM sc
        |WHERE score_milli >= 3000
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = Tables.customer(s, dir).select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
      val dup = base.filter(col("id") < 60).select(
        (col("id") + 1000000L).as("id"),
        expr("replace(name, 'Customer#', 'Custmer#')").as("name"),
        col("nat"),
        when(col("id") % 3 === 0, lit("UNKNOWN")).otherwise(col("seg"))
          .as("seg"),
        (col("bal_c") + 5L).as("bal_c"))
      val u = base.unionByName(dup).localCheckpoint()

      // one blocking pass: equi-join on the block key, gated through the
      // live-block cap (the LSH maxBucket idiom — degenerate blocks drop)
      def pass(keyed: DataFrame, keys: Seq[String]): DataFrame = {
        val live = keyed.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("c"))
          .filter(col("c").between(2, 1000))
          .select(keys.map(col): _*)
        val l = keyed.select(col("id").as("id_a") +: keys.map(col): _*)
        val r = keyed.select(col("id").as("id_b") +: keys.map(col): _*)
        l.join(r, keys).filter(col("id_a") < col("id_b"))
          .join(live, keys, "left_semi")
          .select("id_a", "id_b")
      }
      val p1 = pass(
        u.select(col("id"), col("nat"),
          expr("(bal_c + 100000) div 100000").as("bk")),
        Seq("nat", "bk"))
      val p2 = pass(
        u.select(col("id"), col("nat"),
          expr("right(name, 4)").as("nk")),
        Seq("nat", "nk"))
      val pairs = p1.union(p2).distinct()
      val a = u.select(col("id").as("id_a"), col("name").as("na"),
        col("seg").as("sa"), col("bal_c").as("ba"))
      val b = u.select(col("id").as("id_b"), col("name").as("nb"),
        col("seg").as("sb"), col("bal_c").as("bb"))
      pairs.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"),
          (when(col("na") === col("nb"), 9000L)
            .when(levenshtein(col("na"), col("nb")) <= 2, 5000L)
            .otherwise(-4000L)
            + when(col("sa") === col("sb"), 1500L).otherwise(-2500L)
            + when(abs(col("ba") - col("bb")) <= 10, 3000L)
              .otherwise(-1500L)).as("score_milli"))
        .filter(col("score_milli") >= 3000)
        .select(col("id_a"), col("id_b"), col("score_milli"),
          when(col("score_milli") >= 8000, "match").otherwise("possible")
            .as("decision"))
        .orderBy("id_a", "id_b")
    },

    // ---- char-bigram LM perplexity scoring (q239): the CCNet-style
    //      quality signal — train a Laplace-smoothed character-bigram
    //      LM on the English slice, score EVERY doc's cross-entropy
    //      against it (high = un-English/garbled/boilerplate-coded).
    //      Bigrams restricted to [a-z ]² so multilingual text scores on
    //      its latin content only. Per-bigram log-probs are micro-nat
    //      quantized ONCE in the (≤ 27²-row, broadcast) LM table, so
    //      doc scores are integer sums — one narrow scan + one per-doc
    //      aggregate at any corpus size. ----
    QueryDef(
      "q239_charlm_perplexity",
      s"""WITH d2 AS (SELECT doc_id, lang, text FROM documents
         |            WHERE len(text) >= 2),
         |bg AS (
         |  SELECT doc_id, lang, g FROM (
         |    SELECT doc_id, lang,
         |           unnest(list_transform(range(1, len(text)),
         |             i -> substring(text, CAST(i AS INT), 2))) AS g
         |    FROM d2)
         |  WHERE regexp_matches(g, '^[a-z ]{2}$$')),
         |bc AS (SELECT g, count(*) AS c FROM bg WHERE lang = 'en' GROUP BY g),
         |cc AS (SELECT substring(g, 1, 1) AS c1, sum(c) AS ctx
         |       FROM bc GROUP BY 1),
         |lm AS (SELECT g,
         |         CAST(round(1000000 * ln((CAST(c AS DOUBLE) + 1)
         |                / (CAST(ctx AS DOUBLE) + 27))) AS BIGINT) AS qln
         |       FROM bc JOIN cc ON substring(bc.g, 1, 1) = cc.c1),
         |cu AS (SELECT c1,
         |         CAST(round(1000000 * ln(1.0
         |                / (CAST(ctx AS DOUBLE) + 27))) AS BIGINT) AS qln_u
         |       FROM cc),
         |du AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS k
         |       FROM bg GROUP BY doc_id, g),
         |sc AS (
         |  SELECT doc_id, sum(k) AS n_bigrams,
         |         sum(k * coalesce(lm.qln, cu.qln_u, $qlnUnseenCtx)) AS total
         |  FROM du
         |  LEFT JOIN lm ON du.g = lm.g
         |  LEFT JOIN cu ON substring(du.g, 1, 1) = cu.c1
         |  GROUP BY doc_id)
         |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |       CAST((0 - total) // n_bigrams AS BIGINT) AS xent_micro
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d2 = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(length(col("text")) >= 2)
      // Per-doc bigram HISTOGRAM in one pass (guide §2.3 "shuffle keys,
      // not payloads"; §1.2 per-task work): graft_char_bigrams emits int
      // codes (c1·27+c2) in one byte scan — the composed
      // substring-per-position + regex spelling was O(len²) with a
      // 2-char string allocated per corpus character — and the map-side
      // partial aggregate bounds the exchange at ≤ 729 rows per doc.
      // The pin replaces round 8's corpus-scale bigram-stream checkpoint
      // (one row PER CHARACTER) with the histogram: both consumers (LM
      // training on the en slice, per-doc scoring) read the counts, so
      // the explode pass runs once and nothing char-grained is ever
      // materialized or shuffled. Codes are internal only — the output
      // columns are unchanged.
      val du = d2.select(col("doc_id"), col("lang"), explode(
          graft.functions.TextKernelFunctions.graftCharBigrams(col("text")))
          .as("g"))
        .groupBy("doc_id", "lang", "g").agg(count(lit(1)).as("k"))
        .localCheckpoint()
      val bc = du.filter(col("lang") === "en")
        .groupBy("g").agg(sum("k").as("c"))
      val cc = bc.groupBy(expr("g div 27").as("c1"))
        .agg(sum("c").as("ctx"))
      // cc (one row per context) broadcast by hint: left to AQE, the join
      // strategy followed which of its input stages finished first, and
      // a warm rerun compiled the other plan's classes
      val lm = bc.join(broadcast(cc), expr("g div 27") === cc("c1"))
        .select(col("g"),
          round(lit(1000000d) *
            log((col("c").cast("double") + 1) / (col("ctx").cast("double") + 27)))
            .cast("long").as("qln"))
      val cu = cc.select(col("c1"),
        round(lit(1000000d) * log(lit(1.0) / (col("ctx").cast("double") + 27)))
          .cast("long").as("qln_u"))
      du.join(broadcast(lm), Seq("g"), "left")
        .join(broadcast(cu), expr("g div 27") === col("c1"), "left")
        .groupBy("doc_id")
        .agg(sum("k").as("n_bigrams"),
          sum(col("k") * coalesce(col("qln"), col("qln_u"),
            lit(qlnUnseenCtx))).as("total"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("(0 - total) div n_bigrams").as("xent_micro"))
        .orderBy("doc_id")
    }.copy(headline = true), // sweep slow-tail promotion (round 8, final tier)

    // ---- Good–Turing unseen-mass estimate (q240): from the word-TRIGRAM
    //      frequency-of-frequencies table S(r), the probability mass of
    //      UNSEEN trigrams p0 = S(1)/N and the smoothed adjusted
    //      counts r* = (r+1)·S(r+1)/S(r) for r ≤ 10 — the classic
    //      LM-smoothing statistic: how much of the n-gram distribution a
    //      model built on this corpus will never have seen. Trigrams,
    //      not unigrams, because the unigram vocabulary saturates (no
    //      singleton tail — min unigram count in this corpus is 26)
    //      while the trigram space has the Zipf tail the estimator
    //      exists for. Two nested count aggregations; the S(r+1) lookup
    //      is an equi-join on the tiny S table. ----
    QueryDef(
      "q240_good_turing",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |toks AS (
         |  SELECT unnest(list_transform(range(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         |    AS tok
         |  FROM t WHERE len(toks) >= 3),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS r
         |      FROM toks GROUP BY tok),
         |s AS (SELECT r, CAST(count(*) AS BIGINT) AS s_r FROM c GROUP BY r),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
         |s1 AS (SELECT coalesce(
         |         (SELECT s_r FROM s WHERE r = 1), 0) AS n1)
         |SELECT s.r, s.s_r, coalesce(s2.s_r, 0) AS s_next,
         |       CAST((1000 * (s.r + 1) * coalesce(s2.s_r, 0)) // s.s_r
         |         AS BIGINT) AS r_star_milli,
         |       CAST((1000000 * s1.n1) // n.n AS BIGINT) AS p0_ppm
         |FROM s
         |LEFT JOIN s s2 ON s2.r = s.r + 1
         |CROSS JOIN n CROSS JOIN s1
         |WHERE s.r <= 10
         |ORDER BY s.r""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("tok"))
      val c = toks.groupBy("tok").agg(count(lit(1)).as("r"))
      val sTab = c.groupBy("r").agg(count(lit(1)).as("s_r"))
        .localCheckpoint()
      val n = toks.agg(count(lit(1)).as("n"))
      val s1 = sTab.filter(col("r") === 1)
        .agg(coalesce(sum("s_r"), lit(0L)).as("n1"))
      val nxt = sTab.select((col("r") - 1).as("r"), col("s_r").as("s_next"))
      sTab.filter(col("r") <= 10)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(n)).crossJoin(broadcast(s1))
        .select(col("r"), col("s_r"),
          coalesce(col("s_next"), lit(0L)).as("s_next"),
          expr("(1000 * (r + 1) * coalesce(s_next, 0)) div s_r")
            .as("r_star_milli"),
          expr("(1000000 * n1) div n").as("p0_ppm"))
        .orderBy("r")
    },

    // ---- Pareto frontier / skyline (q241): the non-dominated set over
    //      (length, lexical-diversity) — multi-objective data selection
    //      without collapsing metrics into one weighted score. Uses the
    //      sort-by-x-then-exclusive-prefix-max-of-y skyline: on DISTINCT
    //      (x,y) points sorted (x DESC, y DESC), a point is dominated
    //      iff some strictly-earlier point has y ≥ its y. The ranking
    //      and running max are the Scale primitives (range-partitioned
    //      prefix passes), the "previous row" is a rank equi-join —
    //      never a single-partition window. ----
    QueryDef(
      "q241_pareto_frontier",
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 1),
         |p AS (SELECT doc_id, n_chars AS x,
         |        (1000 * len(list_distinct(toks))) // len(toks) AS y
         |      FROM t),
         |g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_docs,
         |        min(doc_id) AS rep_doc
         |      FROM p GROUP BY x, y),
         |w AS (SELECT x, y, n_docs, rep_doc,
         |        max(y) OVER (ORDER BY x DESC, y DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |          AS exclmax
         |      FROM g)
         |SELECT x AS n_chars, CAST(y AS BIGINT) AS ttr_milli, n_docs,
         |       rep_doc
         |FROM w
         |WHERE exclmax IS NULL OR exclmax < y
         |ORDER BY n_chars DESC""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
      val p = t.select(col("doc_id"), col("n_chars").as("x"),
        expr("(1000 * cast(size(array_distinct(toks)) as bigint)) " +
          "div size(toks)").as("y"))
      val g = p.groupBy("x", "y")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
        .withColumn("nx", -col("x")).withColumn("ny", -col("y"))
      val (pm, _) = Scale.scan(g, Seq("nx", "ny"),
        Scale.RowNumber("r"), Scale.Max("y", "inclmax"))
      val prev = pm.select((col("r") + 1).as("r"),
        col("inclmax").as("exclmax"))
      pm.join(prev, Seq("r"), "left")
        .filter(col("exclmax").isNull || col("exclmax") < col("y"))
        .select(col("x").as("n_chars"), col("y").as("ttr_milli"),
          col("n_docs"), col("rep_doc"))
        .orderBy(col("n_chars").desc)
    },

    // ---- split-conformal prediction audit (q242): distribution-free
    //      coverage for an is-English classifier — calibrate per-class
    //      nonconformity thresholds at α = 0.1 on a content-addressed
    //      half split (the q104 md5 discipline — stable across engines
    //      and reruns), then report per-class test coverage and mean
    //      prediction-set size. The k-th-smallest calibration quantile
    //      is an EXACT rank pick (k = ⌈0.9·(n+1)⌉ as pure integer
    //      arithmetic), found by globalRank + per-class base join —
    //      no float quantile interpolation to disagree on, no
    //      single-partition window. Thresholds collapse to ONE
    //      broadcast row. ----
    QueryDef(
      "q242_conformal",
      s"""WITH d AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 1),
         |s AS (
         |  SELECT doc_id,
         |         CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS label,
         |         ${PipelineQueries.stopMilliSql("toks")} AS score
         |  FROM d),
         |h AS (SELECT *,
         |        ${OracleSql.hashSplitBucket("doc_id", "graftconf")} AS bucket
         |      FROM s),
         |caln AS (
         |  SELECT label, doc_id,
         |         CASE WHEN label = 'en' THEN 1000 - score ELSE score END AS nc
         |  FROM h WHERE bucket < 5000),
         |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_c
         |        FROM caln GROUP BY label),
         |rk AS (SELECT label, nc,
         |         row_number() OVER (PARTITION BY label ORDER BY nc, doc_id)
         |           AS rr
         |       FROM caln),
         |thr AS (SELECT r.label, r.nc AS q_c
         |        FROM rk r JOIN cnt c ON r.label = c.label
         |        WHERE r.rr = (9 * (c.n_c + 1) + 9) // 10),
         |th1 AS (SELECT
         |          coalesce(max(CASE WHEN label = 'en' THEN q_c END),
         |            1000001) AS q_en,
         |          coalesce(max(CASE WHEN label = 'other' THEN q_c END),
         |            1000001) AS q_other
         |        FROM thr),
         |te AS (SELECT label, 1000 - score AS nc_en, score AS nc_other
         |       FROM h WHERE bucket >= 5000),
         |ag AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_test,
         |         CAST(sum(CASE WHEN (label = 'en' AND nc_en <= q_en)
         |              OR (label = 'other' AND nc_other <= q_other)
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |         CAST(sum((CASE WHEN nc_en <= q_en THEN 1 ELSE 0 END)
         |              + (CASE WHEN nc_other <= q_other THEN 1 ELSE 0 END))
         |           AS BIGINT) AS setsz
         |  FROM te CROSS JOIN th1 GROUP BY label)
         |SELECT label, n_test, n_covered,
         |       CAST((1000000 * n_covered) // n_test AS BIGINT)
         |         AS coverage_ppm,
         |       CAST((1000 * setsz) // n_test AS BIGINT)
         |         AS avg_set_size_milli
         |FROM ag ORDER BY label""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
      val sc = d.select(col("doc_id"),
        when(col("lang") === "en", "en").otherwise("other").as("label"),
        PipelineQueries.stopMilli.as("score"))
      val split = Scale.hashSplit(sc, "doc_id", "graftconf",
        Seq("cal" -> 5000, "tst" -> 5000))
      val caln = split.filter(col("split") === "cal")
        .select(col("label"), col("doc_id"),
          when(col("label") === "en", lit(1000L) - col("score"))
            .otherwise(col("score")).as("nc"))
      val cnt = caln.groupBy("label").agg(count(lit(1)).as("n_c"))
      val ranked = Scale.globalRank(caln, "gr", "label", "nc", "doc_id")
      val base = ranked.groupBy("label").agg(min("gr").as("b0"))
      val thr = ranked.join(broadcast(base), "label")
        .join(broadcast(cnt), "label")
        .filter(col("gr") - col("b0") + 1 ===
          expr("(9 * (n_c + 1) + 9) div 10"))
        .select(col("label"), col("nc").as("q_c"))
      val th1 = thr.agg(
        coalesce(max(when(col("label") === "en", col("q_c"))), lit(1000001L))
          .as("q_en"),
        coalesce(max(when(col("label") === "other", col("q_c"))),
          lit(1000001L)).as("q_other"))
      val te = split.filter(col("split") === "tst")
        .select(col("label"), (lit(1000L) - col("score")).as("nc_en"),
          col("score").as("nc_other"))
      te.crossJoin(broadcast(th1))
        .groupBy("label")
        .agg(count(lit(1)).as("n_test"),
          sum(when((col("label") === "en" && col("nc_en") <= col("q_en")) ||
            (col("label") === "other" && col("nc_other") <= col("q_other")),
            1L).otherwise(0L)).as("n_covered"),
          sum(when(col("nc_en") <= col("q_en"), 1L).otherwise(0L) +
            when(col("nc_other") <= col("q_other"), 1L).otherwise(0L))
            .as("setsz"))
        .select(col("label"), col("n_test"), col("n_covered"),
          expr("(1000000 * n_covered) div n_test").as("coverage_ppm"),
          expr("(1000 * setsz) div n_test").as("avg_set_size_milli"))
        .orderBy("label")
    },

    // ---- DBSCAN density clustering (q243): Ester KDD'96 over embedding
    //      space, decomposed Spark-first — the quadratic neighbor search
    //      IS the banded-LSH candidate generator (32 planes / 8 bands
    //      sized for the eps angle), and the label logic
    //      (core ⟺ ≥ minPts−1 eps-neighbors; clusters = star-contraction
    //      CC over core–core edges; border → min adjacent core's
    //      cluster; else noise) is [[Similarity.dbscanFromPairs]].
    //      Fixture: five great-circle CHAINS planted at 10° spacing
    //      (adjacent sim cos10° ≈ 0.985 ≥ eps 0.966, skip-one cos20°
    //      ≈ 0.940 < eps) — the path topology that actually exercises
    //      all three roles: interior points core, endpoints border,
    //      naturals noise. The oracle rebuilds the identical planted
    //      vectors (orthonormalized double math, FLOAT-cast — q30's
    //      determinism contract), replays the banded candidate join
    //      with the live-bucket cap, and closes core components
    //      recursively. ----
    QueryDef(
      "q243_dbscan", dbscanOracleSql) { (s, dir) =>
      val uni = dbscanUni(s, dir)
      // 56 planes / 8 bands = 7 sign bits per band: 128 bucket values
      // per band bound the false-candidate surface (mean bucket ~n/128)
      // while the planted ADJACENT edges at cos 10° ≈ 0.985 still
      // collide in ≥1 band with p ≈ 1 − 1.3e-4 (p_bit = 0.945,
      // p_band = 0.945⁷ = 0.673, miss = 0.327⁸). Buckets are per-band
      // Longs (headroom to 63 bits/band), so at a bigger corpus this
      // knob grows by log2(n-ratio) bits per band — the SCALE.md
      // emb-lsh probe measures both regimes.
      val pairs = Similarity.embeddingNearDups(uni, threshold = 0.966,
        nPlanes = 56, bands = 8).select("id_a", "id_b")
      Similarity.dbscanFromPairs(uni.select("vec_id"), pairs, minPts = 3)
        .orderBy("vec_id")
    }.copy(headline = true), // slowest catalog query (5-stage composite)

    // ---- greedy k-center coreset (q244): farthest-point traversal
    //      (Gonzalez'85, the 2-approximation every coreset/data-pruning
    //      pipeline uses) — from seed vec 0, each step picks the point
    //      maximizing its min distance to the chosen centers. k is
    //      small and user-chosen, so the loop is DRIVER-coordinated
    //      (the q133 MMR discipline): each round one bounded
    //      TakeOrdered over the corpus with the ≤k chosen vectors
    //      broadcast as literals — the corpus is scanned k times and
    //      never shuffled. Distances micro-quantize per center BEFORE
    //      the min, ties break on vec_id, so the greedy trace is
    //      deterministic and the oracle unrolls it step for step.
    //      maxmin_micro of step i is the corpus coverage radius once
    //      i centers exist — the stopping-curve a pruning run reads. ----
    QueryDef(
      "q244_kcenter_coreset", kcenterOracleSql) { (s, dir) =>
      import s.implicits._
      val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
        .localCheckpoint()
      val seed = base.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0)
      var chosen = Vector((0L, seed, 0L)) // (id, embedding, maxmin)
      for (_ <- 1 to 4) {
        val dqs = chosen.map { case (_, emb, _) =>
          val centLit = array(emb.map(x => lit(x)): _*)
          round(lit(1000000d) * aggregate(
            zip_with(col("embedding"), centLit, (a, b) =>
              (a.cast("double") - b.cast("double")) *
                (a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, x) => acc + x)).cast("long")
        }
        val md = if (dqs.size == 1) dqs.head else least(dqs: _*)
        val pick = base
          .filter(!col("vec_id").isin(chosen.map(_._1): _*))
          .select(col("vec_id"), md.as("md"), col("embedding"))
          .orderBy(col("md").desc, col("vec_id")).limit(1).head
        chosen :+= ((pick.getLong(0), pick.getSeq[Float](2),
          pick.getLong(1)))
      }
      chosen.zipWithIndex
        .map { case ((id, _, mm), i) => (i, id, mm) }
        .toDF("step", "vec_id", "maxmin_micro")
        .orderBy("step")
    },

    // ---- exact 1-D Wasserstein drift (q245): earth-mover distance
    //      between each source's doc-length distribution and the
    //      corpus — W1 = Σ_v |F_src(v) − F_corpus(v)|·gap(v), the
    //      magnitude-aware complement of KS (q189, max gap only) and
    //      PSI (q159, binned). CDFs are ppm-quantized integer prefix
    //      sums over the (source × distinct-value) grid — the corpus
    //      CDF is the SUM of the per-source ones (every doc has a
    //      source), so no second pass; value adjacency is a globalRank
    //      equi-join, not a global window. The per-source cumulative
    //      window partitions by source (bounded: one grid per source).
    //      Grid size = |distinct metric values| — bounded by the metric
    //      domain, the documented knob at 100 TB (quantize the metric
    //      first if unbounded). ----
    QueryDef(
      "q245_wasserstein_drift",
      """WITH v AS (SELECT source, n_chars AS v FROM documents),
        |cv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |       FROM v GROUP BY 1, 2),
        |g AS (SELECT DISTINCT v FROM v),
        |srcs AS (SELECT DISTINCT source FROM v),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |       FROM v GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM v),
        |sg AS (SELECT s.source, g.v FROM srcs s CROSS JOIN g),
        |sgc AS (SELECT sg.source, sg.v, coalesce(cv.c, 0) AS c
        |        FROM sg LEFT JOIN cv
        |          ON cv.source = sg.source AND cv.v = sg.v),
        |cum AS (SELECT source, v,
        |          sum(c) OVER (PARTITION BY source ORDER BY v) AS cum_s
        |        FROM sgc),
        |call AS (SELECT v, sum(cum_s) AS cum_all FROM cum GROUP BY v),
        |gr AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM g),
        |gap AS (SELECT a.v, b.v - a.v AS gap
        |        FROM gr a JOIN gr b ON b.r = a.r + 1),
        |f AS (SELECT cum.source, cum.v,
        |        abs((1000000 * cum.cum_s) // ns.n_s
        |            - (1000000 * call.cum_all) // na.n_all) AS dppm
        |      FROM cum
        |      JOIN call ON call.v = cum.v
        |      JOIN ns ON ns.source = cum.source
        |      CROSS JOIN na)
        |SELECT f.source, ns.n_s AS n_docs,
        |       CAST(sum(f.dppm * gap.gap) AS BIGINT) AS w1_ppm_chars
        |FROM f
        |JOIN gap ON gap.v = f.v
        |JOIN ns ON ns.source = f.source
        |GROUP BY f.source, ns.n_s
        |ORDER BY f.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").as("v"))
      val cv = v.groupBy("source", "v").agg(count(lit(1)).as("c"))
      val g = v.select("v").distinct().localCheckpoint()
      val srcs = v.select("source").distinct()
      val ns = v.groupBy("source").agg(count(lit(1)).as("n_s"))
      val na = v.agg(count(lit(1)).as("n_all"))
      val sg = srcs.crossJoin(broadcast(g))
      val sgc = sg.join(cv, Seq("source", "v"), "left")
        .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
      val w = Window.partitionBy("source").orderBy("v")
      val cum = sgc.select(col("source"), col("v"),
        sum("c").over(w).as("cum_s"))
      val callT = cum.groupBy("v").agg(sum("cum_s").as("cum_all"))
      val gr = Scale.globalRank(g, "r", "v")
      val gap = gr
        .join(gr.select((col("r") - 1).as("r"), col("v").as("v2")), "r")
        .select(col("v"), (col("v2") - col("v")).as("gap"))
      val f = cum.join(callT, "v").join(broadcast(ns), "source")
        .crossJoin(broadcast(na))
        .select(col("source"), col("v"),
          abs(expr("(1000000 * cum_s) div n_s") -
            expr("(1000000 * cum_all) div n_all")).as("dppm"))
      f.join(gap, "v").groupBy("source")
        .agg(sum(expr("dppm * gap")).as("w1_ppm_chars"))
        .join(broadcast(ns), "source")
        .select(col("source"), col("n_s").as("n_docs"),
          col("w1_ppm_chars"))
        .orderBy("source")
    },

    // ---- TextRank keywords (q246): Mihalcea & Tarau EMNLP'04 — PageRank
    //      over the token co-occurrence graph (adjacent-token pairs,
    //      undirected, count ≥ 2) picks corpus keywords by graph
    //      centrality instead of raw frequency. Pure composition:
    //      the pair explode is one narrow scan, the graph is
    //      vocabulary-sized, and the ranking is [[Graph.pageRankMicro]]
    //      (integer micro arithmetic, q92's oracle-exact iteration).
    //      Top-20 cut is a bounded TakeOrdered. ----
    QueryDef(
      "q246_textrank",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 2),
         |pr0 AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> CASE WHEN toks[i] < toks[i + 1]
         |                THEN [toks[i], toks[i + 1]]
         |                ELSE [toks[i + 1], toks[i]] END)) AS p
         |  FROM t),
         |pp AS (SELECT p[1] AS a, p[2] AS b FROM pr0 WHERE p[1] <> p[2]),
         |co AS (SELECT a, b FROM pp GROUP BY a, b HAVING count(*) >= 2),
         |edges AS (SELECT a AS src, b AS dst FROM co
         |          UNION ALL SELECT b, a FROM co),
         |${OracleSql.rankCtes("SELECT id FROM nodes")}
         |SELECT id AS token, rank_micro
         |FROM r3 ORDER BY rank_micro DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val pp = t.select(explode(
          transform(sequence(lit(1), size(col("toks")) - 1), i => struct(
            least(element_at(col("toks"), i),
              element_at(col("toks"), i + 1)).as("a"),
            greatest(element_at(col("toks"), i),
              element_at(col("toks"), i + 1)).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
      val co = pp.groupBy("a", "b").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      val edges = co.select(col("a").as("src"), col("b").as("dst"))
        .union(co.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.Graph.pageRankMicro(edges, iterations = 3)
        .select(col("id").as("token"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("token")).limit(20)
    },

    // ---- Theil–Sen robust trend (q248): median of pairwise daily-count
    //      slopes — the outlier-proof replacement for OLS trend on event
    //      volume (one corrupted day moves OLS, not the median slope).
    //      Day-grain first (the aggregate is bounded by the calendar),
    //      THEN the pair join — n(n−1)/2 pairs of DAYS, never of events.
    //      Slopes are milli-quantized with truncate-toward-zero
    //      semantics on both engines (Spark div truncates; the oracle's
    //      sign-split CASE makes DuckDB's floor-div match — the q190
    //      discipline). Median = exact lower-median rank pick via
    //      globalRank. ----
    QueryDef(
      "q248_theil_sen",
      s"""WITH ${OracleSql.dailyEventCountsCte},
        |p AS (SELECT a.day AS d1, b.day AS d2, a.c AS c1, b.c AS c2
        |      FROM d a JOIN d b ON b.day > a.day),
        |sl AS (SELECT d1, d2,
        |         CASE WHEN c2 >= c1
        |              THEN (1000 * (c2 - c1)) // (d2 - d1)
        |              ELSE -((1000 * (c1 - c2)) // (d2 - d1)) END AS s_milli
        |       FROM p),
        |r AS (SELECT s_milli,
        |        row_number() OVER (ORDER BY s_milli, d1, d2) AS rr
        |      FROM sl),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS m FROM sl),
        |med AS (SELECT s_milli FROM r CROSS JOIN n WHERE rr = (m + 1) // 2),
        |dd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
        |SELECT dd.n_days, n.m AS n_pairs,
        |       CAST(med.s_milli AS BIGINT) AS theil_sen_slope_milli
        |FROM dd CROSS JOIN n CROSS JOIN med""".stripMargin) { (s, dir) =>
      val d = dailyEventCounts(s, dir)
        .localCheckpoint() // tiny day-grain table, read 3× below
      val a = d.select(col("day").as("d1"), col("c").as("c1"))
      val b = d.select(col("day").as("d2"), col("c").as("c2"))
      val sl = a.join(b, col("d2") > col("d1"))
        .select(col("d1"), col("d2"),
          expr("(1000 * (c2 - c1)) div (d2 - d1)").as("s_milli"))
      val ranked = Scale.globalRank(sl, "rr", "s_milli", "d1", "d2")
      val n = sl.agg(count(lit(1)).as("m"))
      val med = ranked.crossJoin(broadcast(n))
        .filter(col("rr") === expr("(m + 1) div 2"))
        .select(col("s_milli"))
      val dd = d.agg(count(lit(1)).as("n_days"))
      dd.crossJoin(broadcast(n)).crossJoin(broadcast(med))
        .select(col("n_days"), col("m").as("n_pairs"),
          col("s_milli").as("theil_sen_slope_milli"))
    },

    // ---- Mann–Whitney U (q249): exact rank-sum test of the English vs
    //      non-English length distributions — the nonparametric "are
    //      these samples from the same distribution" companion to KS
    //      (q189) and W1 (q245). Average tie-ranks stay integer by
    //      working in DOUBLED rank units (rank2(v) = 2·cum_before +
    //      cnt + 1), computed from VALUE-grain counts + an exclusive
    //      prefix sum — no row-level ranking, no single-partition
    //      window on the engine side. Rank-biserial effect size in
    //      milli (positive-numerator floor-div, then one subtraction).
    //      One output row. ----
    QueryDef(
      "q249_mann_whitney",
      """WITH v AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS grp,
        |         n_chars AS v
        |  FROM documents),
        |cv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS c1
        |       FROM v GROUP BY v),
        |cum AS (SELECT v, cnt, c1,
        |          coalesce(sum(cnt) OVER (ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            AS cb
        |        FROM cv),
        |r1 AS (SELECT CAST(sum(c1 * (2 * cb + cnt + 1)) AS BIGINT) AS r1x2
        |       FROM cum),
        |nn AS (SELECT
        |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n1,
        |         CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n2
        |       FROM v)
        |SELECT nn.n1, nn.n2,
        |       CAST(r1.r1x2 - nn.n1 * (nn.n1 + 1) AS BIGINT) AS u1_x2,
        |       CAST(2 * nn.n1 * nn.n2
        |            - (r1.r1x2 - nn.n1 * (nn.n1 + 1)) AS BIGINT) AS u2_x2,
        |       CAST((1000 * (r1.r1x2 - nn.n1 * (nn.n1 + 1)))
        |            // (nn.n1 * nn.n2) - 1000 AS BIGINT)
        |         AS rank_biserial_milli
        |FROM r1 CROSS JOIN nn""".stripMargin) { (s, dir) =>
      val v = Tables.documents(s, dir)
        .select(when(col("lang") === "en", 1).otherwise(2).as("grp"),
          col("n_chars").as("v"))
      val cv = v.groupBy("v").agg(count(lit(1)).as("cnt"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"))
      val cum = Scale.scan(cv, Seq("v"), Scale.Sum("cnt", "cumin"))._1
        .withColumn("cb", col("cumin") - col("cnt"))
      val r1 = cum.agg(sum(col("c1") *
        (lit(2L) * col("cb") + col("cnt") + 1)).as("r1x2"))
      val nn = v.agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))
      r1.crossJoin(broadcast(nn)).select(
        col("n1"), col("n2"),
        expr("r1x2 - n1 * (n1 + 1)").as("u1_x2"),
        expr("2 * n1 * n2 - (r1x2 - n1 * (n1 + 1))").as("u2_x2"),
        expr("(1000 * (r1x2 - n1 * (n1 + 1))) div (n1 * n2) - 1000")
          .as("rank_biserial_milli"))
    },

    // ---- binary changepoint (q250): the split day maximizing the gap
    //      between left and right mean daily event volume — the
    //      one-change detector a pipeline owner runs when a source's
    //      throughput steps. Day-grain prefix sums (Scale primitives —
    //      the totals come back with the prefix offsets for free, so
    //      they inline as literals instead of a second aggregation
    //      pass); means in positive milli floor-divs; argmax by
    //      (delta DESC, day) is a bounded TakeOrdered. ----
    QueryDef(
      "q250_changepoint",
      s"""WITH ${OracleSql.dailyEventCountsCte},
        |r AS (SELECT day, c,
        |        row_number() OVER (ORDER BY day) AS rr,
        |        sum(c) OVER (ORDER BY day) AS cum
        |      FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(c) AS BIGINT) AS tot FROM d),
        |s AS (SELECT r.day,
        |        (1000 * r.cum) // r.rr AS lm,
        |        (1000 * (t.tot - r.cum)) // (t.n - r.rr) AS rm
        |      FROM r CROSS JOIN t WHERE r.rr < t.n)
        |SELECT day AS split_day, CAST(lm AS BIGINT) AS left_mean_milli,
        |       CAST(rm AS BIGINT) AS right_mean_milli,
        |       CAST(abs(lm - rm) AS BIGINT) AS delta_milli
        |FROM s ORDER BY abs(lm - rm) DESC, day LIMIT 1""".stripMargin) {
      (s, dir) =>
      val d = dailyEventCounts(s, dir)
      val (ranked, Seq(tot, n)) = Scale.scan(d, Seq("day"),
        Scale.Sum("c", "cum"), Scale.RowNumber("rr"))
      ranked.filter(col("rr") < n)
        .select(col("day"),
          expr("(1000 * cum) div rr").as("lm"),
          expr(s"(1000 * ($tot - cum)) div ($n - rr)").as("rm"))
        .select(col("day").as("split_day"), col("lm").as("left_mean_milli"),
          col("rm").as("right_mean_milli"),
          abs(col("lm") - col("rm")).as("delta_milli"))
        .orderBy(col("delta_milli").desc, col("split_day"))
        .limit(1)
    },

    // ---- KMV distinct sketch + pairwise overlap (q247): k-minimum-
    //      values signatures (Beyer SIGMOD'07) over per-source trigram
    //      sets — unlike HLL (q50/q144/q191, union-only), KMV supports
    //      INTERSECTION/jaccard estimation directly, and given a fixed
    //      hash it is fully DETERMINISTIC, so the estimate itself is
    //      oracle-checked (no approx tolerance needed). Signature = 64
    //      smallest 52-bit md5 values per source via TopKAggregator
    //      (bounded k state per map task — never a per-source sort);
    //      52 bits so the aggregator's double scores stay exact.
    //      Estimators: jacc ≈ |merged ∩ both|/|merged|, distinct-union
    //      ≈ (k−1)·2⁵²/h_k when the sketch saturates, exact |union|
    //      below k. The exact-jaccard audit column replays the full
    //      gram join (the q205 PR-curve discipline: the sketch is the
    //      scale path, the exact side is the audit). ----
    QueryDef(
      "q247_kmv_sketch", kmvOracleSql) { (s, dir) =>
      import org.apache.spark.sql.Encoders
      import graft.functions.{Scored, TopKAggregator}
      val five = Seq("src0", "src1", "src2", "src3", "src4")
      val t = Tables.documents(s, dir)
        .filter(col("source").isin(five: _*))
        .select(col("source"), TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      val tg = t.select(col("source"), explode(
          transform(sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)))).as("g"))
        .distinct().localCheckpoint() // sketch + exact audit both read it
      val sh = tg.select(col("source"),
        shiftright(TextAnalysis.md5Long(col("g")), 8).as("h"))
        .distinct()
      val topk = udaf(new TopKAggregator(64), Encoders.product[Scored])
      val sig = sh.groupBy("source")
        .agg(topk((-col("h")).cast("double"), col("h")).as("sg"))
        .select(col("source"),
          transform(col("sg"), x => x.getField("id")).as("sig"))
      val pairs = sig.select(col("source").as("source_a"), col("sig").as("sa"))
        .join(sig.select(col("source").as("source_b"), col("sig").as("sb")),
          col("source_a") < col("source_b"))
        .withColumn("mg", slice(
          array_sort(array_distinct(concat(col("sa"), col("sb")))), 1, 64))
        .select(col("source_a"), col("source_b"),
          size(col("mg")).cast("long").as("kmin_used"),
          size(filter(col("mg"), v =>
            array_contains(col("sa"), v) && array_contains(col("sb"), v)))
            .cast("long").as("matches"),
          element_at(col("mg"), size(col("mg"))).as("maxh"))
      val ex = tg.select(col("source").as("source_a"), col("g"))
        .join(tg.select(col("source").as("source_b"), col("g")), "g")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      val cnts = tg.groupBy("source").agg(count(lit(1)).as("n"))
      pairs
        .join(ex, Seq("source_a", "source_b"), "left")
        .join(broadcast(cnts.select(col("source").as("source_a"),
          col("n").as("na"))), "source_a")
        .join(broadcast(cnts.select(col("source").as("source_b"),
          col("n").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"), col("kmin_used"),
          col("matches"),
          expr("(1000 * matches) div kmin_used").as("jacc_est_milli"),
          when(col("kmin_used") < 64, col("kmin_used"))
            .otherwise(expr(
              "((kmin_used - 1) * 4503599627370496) div maxh"))
            .as("union_est"),
          expr("(1000 * coalesce(inter, 0)) " +
            "div (na + nb - coalesce(inter, 0))").as("exact_jacc_milli"))
        .orderBy("source_a", "source_b")
    },

    // ---- exact weighted median (q251): per-language TOKEN-weighted
    //      median document length — "the doc length at which half the
    //      corpus' token mass sits below", the size statistic that
    //      matters for packing/curriculum decisions (an unweighted
    //      median over-counts short docs). v* = min v with
    //      2·cumw(v) ≥ W, all integer. VALUE-grain first (group ×
    //      distinct-length rows), cumulative weight per group over that
    //      bounded grain, qualifying-min per group — no row-level
    //      ranking anywhere. ----
    QueryDef(
      "q251_weighted_median",
      s"""WITH d AS (
         |  SELECT lang, n_chars AS v,
         |         CAST(len($toksSql) AS BIGINT) AS w
         |  FROM documents WHERE len($toksSql) >= 1),
         |g AS (SELECT lang, v, CAST(sum(w) AS BIGINT) AS w
         |      FROM d GROUP BY lang, v),
         |c AS (SELECT lang, v, w,
         |        CAST(sum(w) OVER (PARTITION BY lang ORDER BY v)
         |          AS BIGINT) AS cumw
         |      FROM g),
         |t AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tw
         |      FROM g GROUP BY lang)
         |SELECT c.lang, t.tw AS total_tokens,
         |       min(c.v) AS wmedian_chars
         |FROM c JOIN t ON t.lang = c.lang
         |WHERE 2 * c.cumw >= t.tw
         |GROUP BY c.lang, t.tw
         |ORDER BY c.lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("n_chars").as("v"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("lang"), col("v"), size(col("toks")).cast("long").as("w"))
      val g = d.groupBy("lang", "v").agg(sum("w").as("w"))
      val w = Window.partitionBy("lang").orderBy("v")
      val c = g.select(col("lang"), col("v"), col("w"),
        sum("w").over(w).as("cumw"))
      val t = g.groupBy("lang").agg(sum("w").as("tw"))
      c.join(broadcast(t), "lang")
        .filter(lit(2L) * col("cumw") >= col("tw"))
        .groupBy(col("lang"), col("tw").as("total_tokens"))
        .agg(min("v").as("wmedian_chars"))
        .select(col("lang"), col("total_tokens"), col("wmedian_chars"))
        .orderBy("lang")
    },

    // ---- PCA top principal direction (q252): power iteration on the
    //      centered second-moment matrix of the embedding space — the
    //      dominant axis of variation, the first diagnostic of embedding
    //      collapse/anisotropy (and the direction whitening q212 would
    //      remove first). Spark-first decomposition: embeddings are
    //      micro-quantized per cell (order-free), the d×d moment matrix
    //      is ONE pass with map-side combine onto d² = 4096 keys —
    //      bounded at ANY corpus size — and the 3 power iterations are
    //      relational matvecs (equi-join + group-by over the 4096-row
    //      moment relation) with integer max-norm renormalization, so
    //      every value is exact DECIMAL arithmetic the oracle replays
    //      (truncating division parity via the q190 sign-split). ----
    QueryDef(
      "q252_pca_power", pcaOracleSql) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val xq = quantizedCells(e)
      val nDf = e.agg(count(lit(1)).as("nn"))
      val mu = xq.groupBy("i").agg(sum("x").as("sx"))
        .crossJoin(broadcast(nDf))
        .select(col("i"), expr("sx div nn").as("mu"))
      // the 64×64 moment matrix is NEVER materialized: each power-
      // iteration matvec distributes as w_i = Σ_rows xc_i · (xc·v) —
      // all-integer arithmetic, so the regrouping is EXACT and the
      // result is bit-identical to the oracle's explicit-matrix form,
      // at O(n·d) per iteration instead of an O(n·d²) pair explode.
      // μ and v are d bounded driver values (the Scale.scala
      // parts-rows precedent), inlined as literal arrays each round.
      val muArr = mu.orderBy("i").collect().map(_.getLong(1))
      val muLit = array(muArr.map(lit): _*)
      val xcA = e.select(transform(col("embedding"), (xv, idx) =>
        round(lit(1000000d) * xv.cast("double")).cast("long") -
          element_at(muLit, idx + 1)).as("xc"))
        .localCheckpoint() // scanned once per power iteration
      var v = mu.select(col("i"), lit(1000000L).as("v"))
      for (_ <- 1 to 3) {
        val vArr = v.orderBy("i").collect().map(_.getLong(1))
        val vLit = array(vArr.map(lit): _*)
        // per-row dot in Long: |xc|≤2e6 micro × |v|≤1e6 × d=64 ≤ 1.3e14
        val scored = xcA.withColumn("dotv",
          aggregate(zip_with(col("xc"), vLit, (x, vv) => x * vv),
            lit(0L), (a, t) => a + t))
        val w = scored
          .select(col("dotv"), posexplode(col("xc")).as(Seq("p", "xi")))
          .groupBy((col("p") + 1).as("i"))
          .agg(sum(col("xi").cast("decimal(38,0)") * col("dotv")).as("w"))
        val mx = w.agg(max(abs(col("w"))).as("mx"))
        v = w.crossJoin(broadcast(mx))
          .select(col("i"),
            expr("CAST((w * 1000000) div mx AS BIGINT)").as("v"))
      }
      v.select(col("i").cast("int").as("dim"),
          col("v").as("loading_micro"))
        .orderBy("dim")
    },

    // ---- F1-optimal threshold (q253): sweep every observed score as a
    //      decision threshold for the is-English stopword scorer and
    //      pick the F1 argmax — the calibration step between a scorer
    //      (q111/q239) and a gate (q131): "where do I actually cut?".
    //      TP/FP/FN for ALL thresholds come from VALUE-grain counts +
    //      two exclusive prefix sums (suffix = total − prefix, totals
    //      inlined from the prefix offsets) — one pass over the corpus,
    //      one tiny pass over the score grain, bounded TakeOrdered
    //      argmax. All-integer F1/precision/recall in milli. ----
    QueryDef(
      "q253_f1_threshold",
      s"""WITH ${PipelineQueries.labelledStopMilliCte},
         |g AS (SELECT sc, CAST(sum(y) AS BIGINT) AS c_en,
         |        CAST(count(*) - sum(y) AS BIGINT) AS c_ot
         |      FROM d GROUP BY sc),
         |tt AS (SELECT CAST(sum(c_en) AS BIGINT) AS t_en,
         |         CAST(sum(c_ot) AS BIGINT) AS t_ot FROM g),
         |c AS (SELECT sc, c_en, c_ot,
         |        CAST(coalesce(sum(c_en) OVER (ORDER BY sc
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS eb,
         |        CAST(coalesce(sum(c_ot) OVER (ORDER BY sc
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS ob
         |      FROM g),
         |f AS (SELECT sc AS threshold,
         |        tt.t_en - c.eb AS tp, tt.t_ot - c.ob AS fp, c.eb AS fn
         |      FROM c CROSS JOIN tt)
         |SELECT threshold, tp, fp, fn,
         |       CAST((2000 * tp) // (2 * tp + fp + fn) AS BIGINT) AS f1_milli,
         |       CAST((1000 * tp) // (tp + fp) AS BIGINT) AS precision_milli,
         |       CAST((1000 * tp) // (tp + fn) AS BIGINT) AS recall_milli
         |FROM f
         |ORDER BY CAST((2000 * tp) // (2 * tp + fp + fn) AS BIGINT) DESC,
         |         threshold
         |LIMIT 1""".stripMargin) { (s, dir) =>
      val d = PipelineQueries.labelledStopMilli(s, dir)
      val g = d.groupBy("sc").agg(sum("y").as("c_en"),
        (count(lit(1)) - sum("y")).as("c_ot"))
      val (p2, Seq(tEn, tOt)) = Scale.scan(g, Seq("sc"),
        Scale.Sum("c_en", "cum_en"), Scale.Sum("c_ot", "cum_ot"))
      p2.select(col("sc").as("threshold"),
          (lit(tEn) - (col("cum_en") - col("c_en"))).as("tp"),
          (lit(tOt) - (col("cum_ot") - col("c_ot"))).as("fp"),
          (col("cum_en") - col("c_en")).as("fn"))
        .select(col("threshold"), col("tp"), col("fp"), col("fn"),
          expr("(2000 * tp) div (2 * tp + fp + fn)").as("f1_milli"),
          expr("(1000 * tp) div (tp + fp)").as("precision_milli"),
          expr("(1000 * tp) div (tp + fn)").as("recall_milli"))
        .orderBy(col("f1_milli").desc, col("threshold"))
        .limit(1)
    },

    // ---- quality-gate parity audit (q254): per-language keep rate of
    //      the Gopher filter + the four-fifths disparate-impact rule —
    //      the bias check a curation pipeline owes its corpus: a gate
    //      tuned on English silently strips other languages (stopword
    //      and alpha-ratio rules are anglocentric by construction, and
    //      this measures exactly how much). One gopherRules scan with
    //      lang ridden through the same projection, one group-by, the
    //      best rate broadcast from a 1-row aggregate. ----
    QueryDef(
      "q254_filter_parity",
      s"""WITH t AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |${PipelineQueries.gopherCountsCte("t")},
         |j AS (SELECT t.lang,
         |        CASE WHEN ${PipelineQueries.gopherKeepSql} THEN 1 ELSE 0 END
         |          AS k
         |      FROM c JOIN t USING (doc_id)),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(k) AS BIGINT) AS kept
         |      FROM j GROUP BY lang),
         |r AS (SELECT lang, n, kept,
         |        CAST((1000 * kept) // n AS BIGINT) AS keep_milli FROM g),
         |b AS (SELECT max(keep_milli) AS best FROM r)
         |SELECT lang, n, kept, keep_milli,
         |       CAST(CASE WHEN b.best = 0 THEN 1000
         |            ELSE (1000 * keep_milli) // b.best END AS BIGINT)
         |         AS parity_milli,
         |       1000 * keep_milli < 800 * b.best AS below_four_fifths
         |FROM r CROSS JOIN b ORDER BY lang""".stripMargin) { (s, dir) =>
      val gr = TextAnalysis.gopherRules(
        Tables.documents(s, dir), passthrough = Seq("lang"))
      val g = gr.groupBy("lang").agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      val r = g.select(col("lang"), col("n"), col("kept"),
        expr("(1000 * kept) div n").as("keep_milli"))
      val b = r.agg(max("keep_milli").as("best"))
      r.crossJoin(broadcast(b))
        .select(col("lang"), col("n"), col("kept"), col("keep_milli"),
          when(col("best") === 0, 1000L)
            .otherwise(expr("(1000 * keep_milli) div best"))
            .as("parity_milli"),
          (lit(1000L) * col("keep_milli") < lit(800L) * col("best"))
            .as("below_four_fifths"))
        .orderBy("lang")
    },

    // ---- personalized PageRank seed expansion (q255): restrict the
    //      teleport mass to a SEED set (the 5 lowest supplier nodes of
    //      the q92 bipartite graph) and let 3 integer iterations push
    //      mass outward — the "grow this curated allowlist through the
    //      link structure" primitive. Rank can only ORIGINATE at seeds,
    //      so every positive-rank node is provably link-connected to
    //      the seed set within 3 hops. Top-30 cut bounded TakeOrdered.
    //      Composes [[Graph.personalizedPageRankMicro]]. ----
    QueryDef(
      "q255_personalized_ppr", {
        val seeds = s"SELECT id FROM nodes WHERE id >= ${Tables.SupplierNodeOffset}" +
          s" AND id < ${Tables.SupplierNodeOffset + 5}"
        s"""WITH ${OracleSql.coPurchaseCtes},
           |${OracleSql.rankCtes(seeds)}
           |SELECT id, rank_micro FROM r3
           |ORDER BY rank_micro DESC, id LIMIT 30""".stripMargin
      }) { (s, dir) =>
      val pairs = Tables.coPurchasePairs(s, dir)
        // pinned: the fact⋈fact join + distinct feeds both edge
        // directions AND the seed derivation — unpinned, the seeds'
        // lineage re-ran the whole join a second time (PPR pins the
        // edge list internally but cannot see the seeds' lineage)
        .localCheckpoint()
      val edges = Tables.bothWays(pairs)
      val seeds = edges.select(col("src").as("id"))
        .filter(col("id") >= Tables.SupplierNodeOffset &&
          col("id") < Tables.SupplierNodeOffset + 5)
        .distinct()
      graft.graph.Graph.personalizedPageRankMicro(edges, seeds, 3)
        .orderBy(col("rank_micro").desc, col("id")).limit(30)
    }.copy(headline = true), // top-5 sweep cost: graph build + 3 rounds

    // ---- interpolated Kneser–Ney bigram LM scoring (q256): the real
    //      LM-smoothing (Chen & Goodman '98) next to q239's Laplace —
    //      absolute discount D = N₁/(N₁+2N₂) with the discounted mass
    //      re-spent on CONTINUATION probability N₁₊(·w)/|types| ("how
    //      many contexts does w complete"), which is what separates
    //      common-but-bound words from genuinely productive ones.
    //      Four-level backoff (hit / both-known / context-only /
    //      continuation-only / floor) as ONE CASE expression whose text
    //      is shared verbatim between the Spark plan and the oracle, so
    //      the double→ln→round arithmetic is structurally identical.
    //      LM tables are vocabulary-bounded and broadcast (the q239
    //      scale contract); scoring is one narrow scan + per-doc agg. ----
    QueryDef(
      "q256_kneser_ney",
      s"""WITH t AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents
         |  WHERE len($toksSql) >= 2),
         |bg AS (
         |  SELECT doc_id, lang,
         |         unnest(list_transform(range(1, len(toks)), i -> toks[i]))
         |           AS w1,
         |         unnest(list_transform(range(1, len(toks)), i -> toks[i + 1]))
         |           AS w2
         |  FROM t),
         |tr AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |       FROM bg WHERE lang = 'en' GROUP BY w1, w2),
         |c1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |          CAST(count(*) AS BIGINT) AS n1p1
         |        FROM tr GROUP BY w1),
         |c2t AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1pw2
         |        FROM tr GROUP BY w2),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS nt,
         |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n1,
         |         CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n2
         |       FROM tr),
         |dt AS (SELECT CASE WHEN n1 = 0 THEN 500
         |         ELSE greatest((1000 * n1) // (n1 + 2 * n2), 1) END AS dm,
         |         nt
         |       FROM gl),
         |du AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k
         |       FROM bg GROUP BY doc_id, w1, w2),
         |sc AS (
         |  SELECT du.doc_id, du.k, $knQlnSql AS qln
         |  FROM du
         |  LEFT JOIN tr USING (w1, w2)
         |  LEFT JOIN c1t USING (w1)
         |  LEFT JOIN c2t USING (w2)
         |  CROSS JOIN dt),
         |ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |         CAST(sum(k * qln) AS BIGINT) AS total
         |       FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |       CAST((0 - total) // n_bigrams AS BIGINT) AS kn_xent_micro
         |FROM ag ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val bg = t.select(col("doc_id"), col("lang"), explode(
          transform(sequence(lit(1), size(col("toks")) - 1), i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("lang"),
          col("b.w1").as("w1"), col("b.w2").as("w2"))
        .localCheckpoint() // feeds both the trainer and the scorer
      val tr = bg.filter(col("lang") === "en")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint() // 3 derived LM tables below
      val c1t = tr.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1p1"))
      val c2t = tr.groupBy("w2").agg(count(lit(1)).as("n1pw2"))
      val gl = tr.agg(count(lit(1)).as("nt"),
        sum(when(col("c12") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c12") === 2, 1L).otherwise(0L)).as("n2"))
      // D pinned into (0, 1): 500 milli when no singletons exist (D is
      // then undefined), floored at 1 milli so the interpolated mass —
      // and with it every backoff ln() — stays strictly positive
      val dt = gl.select(
        when(col("n1") === 0, 500L)
          .otherwise(greatest(
            expr("(1000 * n1) div (n1 + 2 * n2)"), lit(1L))).as("dm"),
        col("nt"))
      val du = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
      du.join(broadcast(tr), Seq("w1", "w2"), "left")
        .join(broadcast(c1t), Seq("w1"), "left")
        .join(broadcast(c2t), Seq("w2"), "left")
        .crossJoin(broadcast(dt))
        .withColumn("qln", expr(knQlnSql))
        .groupBy("doc_id")
        .agg(sum("k").as("n_bigrams"),
          sum(col("k") * col("qln")).as("total"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("(0 - total) div n_bigrams").as("kn_xent_micro"))
        .orderBy("doc_id")
    },

    // ---- cross-correlation lag scan (q257): which lag best aligns the
    //      click and purchase daily series — the "does activity X lead
    //      metric Y, and by how many days" question. Day-grain
    //      aggregates FIRST (calendar-bounded), then one equi-join per
    //      overlap on (day + lag) — lags materialize as a 15-element
    //      literal explode, never a cross product of days. Centering is
    //      integer milli (means trunc-div over each FULL series, pinned
    //      definition); the normalized r uses the proven bit-exact
    //      round(double-product → sqrt → divide) recipe on exact-int
    //      inputs < 2^53. All 15 lags reported. ----
    QueryDef(
      "q257_xcorr_lag",
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |ma AS (SELECT (1000 * sum(c)) // count(*) AS m FROM d
        |       WHERE event_type = 'click'),
        |mb AS (SELECT (1000 * sum(c)) // count(*) AS m FROM d
        |       WHERE event_type = 'purchase'),
        |a AS (SELECT day, 1000 * c - ma.m AS ca FROM d CROSS JOIN ma
        |      WHERE event_type = 'click'),
        |b AS (SELECT day, 1000 * c - mb.m AS cb FROM d CROSS JOIN mb
        |      WHERE event_type = 'purchase'),
        |lags AS (SELECT unnest(range(-7, 8)) AS lag),
        |j AS (SELECT l.lag, a.ca, b.cb
        |      FROM lags l JOIN a ON true JOIN b ON b.day = a.day + l.lag),
        |g AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_overlap,
        |        CAST(sum(ca * cb) AS BIGINT) AS dot,
        |        CAST(sum(ca * ca) AS BIGINT) AS sa2,
        |        CAST(sum(cb * cb) AS BIGINT) AS sb2
        |      FROM j GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, n_overlap,
        |       CAST(CASE WHEN sa2 = 0 OR sb2 = 0 THEN 0
        |            ELSE round(1000 * CAST(dot AS DOUBLE)
        |                 / sqrt(CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE)))
        |            END AS BIGINT) AS r_milli
        |FROM g ORDER BY lag""".stripMargin) { (s, dir) =>
      val d = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
        .localCheckpoint() // tiny; feeds both series and both means
      def centered(tpe: String, out: String): DataFrame = {
        val m = d.filter(col("event_type") === tpe)
          .agg(expr("(1000 * sum(c)) div count(1)").as("m"))
        d.filter(col("event_type") === tpe).crossJoin(broadcast(m))
          .select(col("day"), (lit(1000L) * col("c") - col("m")).as(out))
      }
      val a = centered("click", "ca")
      val b = centered("purchase", "cb")
      val lags = a.sparkSession.range(-7, 8).select(col("id").as("lag"))
      val j = a.crossJoin(broadcast(lags))
        .join(b.withColumnRenamed("day", "bday"),
          col("day") + col("lag") === col("bday"))
      val g = j.groupBy("lag").agg(count(lit(1)).as("n_overlap"),
        sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("sa2"),
        sum(col("cb") * col("cb")).as("sb2"))
      g.select(col("lag"), col("n_overlap"),
          when(col("sa2") === 0 || col("sb2") === 0, 0L)
            .otherwise(round(lit(1000d) * col("dot").cast("double") /
              sqrt(col("sa2").cast("double") * col("sb2").cast("double")))
              .cast("long")).as("r_milli"))
        .orderBy("lag")
    },

    // ---- Fisher discriminability per dimension (q258): which embedding
    //      dimensions actually separate the labels — between-class over
    //      within-class variance per dim (the LDA/feature-selection
    //      criterion), the supervised companion to q252's unsupervised
    //      top direction. Micro-quantized cells, truncating integer
    //      class/global means, DECIMAL(38,0) squared sums (row counts
    //      never overflow them), one explode pass + label×dim-bounded
    //      aggregates; top-10 dims via bounded TakeOrdered. ----
    QueryDef(
      "q258_fisher_ratio",
      s"""WITH ${OracleSql.quantizedCellsCtes("label")},
        |cs AS (SELECT label, i, CAST(count(*) AS BIGINT) AS n_c,
        |         CAST(sum(x) AS BIGINT) AS sx
        |       FROM xq GROUP BY label, i),
        |cm AS (SELECT label, i, n_c,
        |         CASE WHEN sx >= 0 THEN sx // n_c
        |              ELSE -((-sx) // n_c) END AS mu_c
        |       FROM cs),
        |gm AS (SELECT i,
        |         CASE WHEN sum(sx) >= 0 THEN sum(sx) // sum(n_c)
        |              ELSE -((-sum(sx)) // sum(n_c)) END AS mu
        |       FROM cs GROUP BY i),
        |wi AS (SELECT xq.i,
        |         sum(CAST(xq.x - cm.mu_c AS DECIMAL(38,0))
        |             * (xq.x - cm.mu_c)) AS w
        |       FROM xq JOIN cm ON cm.label = xq.label AND cm.i = xq.i
        |       GROUP BY xq.i),
        |bt AS (SELECT cm.i,
        |         sum(CAST(cm.n_c AS DECIMAL(38,0))
        |             * (CAST(cm.mu_c - gm.mu AS DECIMAL(38,0))
        |                * (cm.mu_c - gm.mu))) AS b
        |       FROM cm JOIN gm ON gm.i = cm.i
        |       GROUP BY cm.i)
        |SELECT CAST(wi.i AS INT) AS dim,
        |       CAST(CAST(bt.b * 1000000 AS HUGEINT)
        |            // CAST(wi.w AS HUGEINT) AS BIGINT) AS fisher_micro
        |FROM wi JOIN bt ON bt.i = wi.i
        |WHERE wi.w > 0
        |ORDER BY fisher_micro DESC, dim LIMIT 10""".stripMargin) { (s, dir) =>
      val xq = quantizedCells(Tables.embeddings(s, dir), "label")
        .localCheckpoint() // read for class stats and within-variance
      val cs = xq.groupBy("label", "i")
        .agg(count(lit(1)).as("n_c"), sum("x").as("sx"))
      val cm = cs.select(col("label"), col("i"), col("n_c"),
        expr("sx div n_c").as("mu_c"))
      val gm = cs.groupBy("i").agg(
        expr("sum(sx) div sum(n_c)").as("mu"))
      val wi = xq.join(broadcast(cm), Seq("label", "i"))
        .groupBy("i")
        .agg(sum((col("x") - col("mu_c")).cast("decimal(38,0)") *
          (col("x") - col("mu_c"))).as("w"))
      val bt = cm.join(broadcast(gm), "i")
        .groupBy("i")
        .agg(sum(col("n_c").cast("decimal(38,0)") *
          ((col("mu_c") - col("mu")).cast("decimal(38,0)") *
            (col("mu_c") - col("mu")))).as("b"))
      wi.join(bt, "i").filter(col("w") > 0)
        .select(col("i").cast("int").as("dim"),
          expr("CAST((b * 1000000) div w AS BIGINT)").as("fisher_micro"))
        .orderBy(col("fisher_micro").desc, col("dim")).limit(10)
    },

    // ---- Jensen–Shannon source drift (q259): how far each source's
    //      unigram distribution sits from the corpus mixture — the
    //      magnitude-bounded (≤ ln 2), symmetric drift score that KL
    //      can't give when a source misses corpus tokens. Present-token
    //      terms stream at (source, token) grain with the jsdTermSql
    //      expression shared verbatim between engines (q256 discipline:
    //      per-term pico rounding pins the double→ln arithmetic);
    //      absent-token mass needs NO token join — it closes in one
    //      ln 2·(1 − coverage)/2 term from the exact BIGINT covered
    //      count. One token-keyed shuffle; totals broadcast. ----
    QueryDef(
      "q259_js_divergence",
      s"""WITH toks AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents),
        |cs AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_s
        |       FROM toks GROUP BY source, tok),
        |nsrc AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS ns
        |         FROM cs GROUP BY source),
        |cq AS (SELECT tok, CAST(sum(c_s) AS BIGINT) AS c_q
        |       FROM cs GROUP BY tok),
        |nt AS (SELECT CAST(sum(c_q) AS BIGINT) AS n FROM cq),
        |terms AS (
        |  SELECT cs.source, $jsdTermSql AS term_pico, cq.c_q
        |  FROM cs JOIN cq ON cq.tok = cs.tok
        |  JOIN nsrc ON nsrc.source = cs.source CROSS JOIN nt),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |          CAST(sum(term_pico) AS BIGINT) AS present_pico,
        |          CAST(sum(c_q) AS BIGINT) AS cov
        |        FROM terms GROUP BY source)
        |SELECT agg.source, n_types,
        |       (1000000 * cov) // n AS coverage_ppm,
        |       present_pico + $jsdAbsentSql AS jsd_pico
        |FROM agg CROSS JOIN nt
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      val cs = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("c_s"))
        .localCheckpoint() // feeds per-source totals, corpus counts, terms
      val nsrc = cs.groupBy("source").agg(sum("c_s").as("ns"))
      val cq = cs.groupBy("tok").agg(sum("c_s").as("c_q"))
      val nt = cq.agg(sum("c_q").as("n"))
      val terms = cs.join(cq, "tok")
        .join(broadcast(nsrc), "source")
        .crossJoin(broadcast(nt))
        .select(col("source"), expr(jsdTermSql).as("term_pico"), col("c_q"))
      terms.groupBy("source")
        .agg(count(lit(1)).as("n_types"),
          sum("term_pico").as("present_pico"),
          sum("c_q").as("cov"))
        .crossJoin(broadcast(nt))
        .select(col("source"), col("n_types"),
          expr("(1000000 * cov) div n").as("coverage_ppm"),
          (col("present_pico") + expr(jsdAbsentSql)).as("jsd_pico"))
        .orderBy("source")
    },

    // ---- Benford first-digit audit (q260): does the price column's
    //      leading significant digit follow log10(1 + 1/d) — the
    //      fabricated/synthetic-numerics detector auditors run first.
    //      Digit via exact cents-integer string head (no log10 boundary
    //      risk at powers of ten), one scan → 9-key aggregate, total
    //      broadcast from a 1-row agg; expected ppm and the chi-square
    //      contribution are ONE shared expression per engine so the
    //      double arithmetic is token-identical. A literal 1..9 frame
    //      left-joins the observed counts so silent-zero digits still
    //      report their full expected-mass penalty. ----
    QueryDef(
      "q260_benford",
      s"""WITH cents AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |obs AS (SELECT CAST(substr(CAST(c AS STRING), 1, 1) AS BIGINT)
        |          AS digit,
        |        CAST(count(*) AS BIGINT) AS observed
        |        FROM cents GROUP BY 1),
        |nt AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
        |frame AS (SELECT unnest(range(1, 10)) AS digit),
        |j AS (SELECT f.digit, coalesce(o.observed, 0) AS observed
        |      FROM frame f LEFT JOIN obs o ON o.digit = f.digit)
        |SELECT digit, observed,
        |       $benfordExpPpmSql AS expected_ppm,
        |       $benfordChiSql AS chi_term_micro
        |FROM j CROSS JOIN nt
        |ORDER BY digit""".stripMargin) { (s, dir) =>
      val cents = Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
      val obs = cents
        .select(expr("CAST(substr(CAST(c AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val nt = obs.agg(sum("observed").as("n"))
      val frame = s.range(1, 10).select(col("id").as("digit"))
      frame.join(obs, Seq("digit"), "left_outer")
        .select(col("digit"),
          coalesce(col("observed"), lit(0L)).as("observed"))
        .crossJoin(broadcast(nt))
        .select(col("digit"), col("observed"),
          expr(benfordExpPpmSql).as("expected_ppm"),
          expr(benfordChiSql).as("chi_term_micro"))
        .orderBy("digit")
    },

    // ---- Heaps' law vocabulary growth (q261): fit V(n) = K·n^β over
    //      the corpus read in doc_id order — the "how fast does new
    //      vocabulary keep arriving" curve that sizes tokenizers and
    //      predicts dedup yield. The growth curve needs NO per-prefix
    //      rescans: a token first materializes at min(doc_id), so V at
    //      any prefix is one prefix sum of per-doc first-occurrence
    //      counts, and n is a prefix sum of per-doc token counts — two
    //      range-partitioned Scale passes, no single-partition window.
    //      Log-log least squares on micro-quantized ln points (the q237
    //      recipe), slope/intercept in exact DECIMAL with q190
    //      sign-split division. ----
    QueryDef(
      "q261_heaps_fit",
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok
        |           FROM toks GROUP BY doc_id),
        |firstocc AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
        |newt AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS ntypes
        |         FROM firstocc GROUP BY fd),
        |grain AS (SELECT p.doc_id, p.ntok, coalesce(nw.ntypes, 0) AS ntypes
        |          FROM perdoc p LEFT JOIN newt nw ON nw.doc_id = p.doc_id),
        |cums AS (SELECT doc_id,
        |           sum(ntok) OVER (ORDER BY doc_id) AS cum_n,
        |           sum(ntypes) OVER (ORDER BY doc_id) AS cum_v
        |         FROM grain),
        |p AS (SELECT
        |        CAST(round(1000000 * ln(CAST(cum_n AS DOUBLE))) AS BIGINT)
        |          AS x,
        |        CAST(round(1000000 * ln(CAST(cum_v AS DOUBLE))) AS BIGINT)
        |          AS y
        |      FROM cums WHERE cum_n >= 1 AND cum_v >= 1),
        |${OracleSql.regressionSumsCte},
        |tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |          CAST(sum(ntypes) AS BIGINT) AS vocab FROM grain),
        |b AS (SELECT n, sx, sy,
        |        CAST(CASE WHEN n * sxy - sx * sy >= 0
        |          THEN CAST((n * sxy - sx * sy) * 1000 AS HUGEINT)
        |               // CAST(n * sxx - sx * sx AS HUGEINT)
        |          ELSE -(CAST(-((n * sxy - sx * sy) * 1000) AS HUGEINT)
        |                 // CAST(n * sxx - sx * sx AS HUGEINT)) END
        |          AS BIGINT) AS beta_milli
        |      FROM g)
        |SELECT CAST(n AS BIGINT) AS n_points, beta_milli,
        |       CAST(CASE WHEN sy * 1000 - beta_milli * sx >= 0
        |         THEN CAST(sy * 1000 - beta_milli * sx AS HUGEINT)
        |              // CAST(n * 1000 AS HUGEINT)
        |         ELSE -(CAST(-(sy * 1000 - beta_milli * sx) AS HUGEINT)
        |                // CAST(n * 1000 AS HUGEINT)) END AS BIGINT)
        |         AS lnk_micro,
        |       n_tokens, vocab
        |FROM b CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
      val newT = toks.groupBy("tok").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("ntypes"))
      val grain = perDoc.join(newT, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("ntok"),
          coalesce(col("ntypes"), lit(0L)).as("ntypes"))
      // the corpus totals come back with the scan's offsets
      val (c2, Seq(nTokens, vocab)) = Scale.scan(grain, Seq("doc_id"),
        Scale.Sum("ntok", "cum_n"), Scale.Sum("ntypes", "cum_v"))
      val p = c2.filter(col("cum_n") >= 1 && col("cum_v") >= 1)
        .select(
          round(lit(1000000d) * log(col("cum_n").cast("double")))
            .cast("long").as("x"),
          round(lit(1000000d) * log(col("cum_v").cast("double")))
            .cast("long").as("y"))
      val g = regressionSums(p)
      g.select(col("n"), col("sx"), col("sy"),
          expr("CAST(((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx) AS BIGINT)")
            .as("beta_milli"))
        .select(col("n").cast("long").as("n_points"), col("beta_milli"),
          expr("CAST((sy * 1000 - beta_milli * sx) div (n * 1000) AS BIGINT)")
            .as("lnk_micro"),
          lit(nTokens).as("n_tokens"), lit(vocab).as("vocab"))
    },

    // ---- Gini concentration of doc lengths per language (q262): how
    //      unequally token mass spreads across documents — the
    //      "is this slice a few mega-docs or many small ones" packing/
    //      sampling diagnostic. Exact integer Gini from VALUE-grain
    //      counts: a block of w docs at length v occupying ranks
    //      base+1..base+w contributes v·(2·w·base + w(w+1)) to the
    //      DOUBLED rank sum (kept doubled so no division ever happens
    //      inside an aggregate), so G = (2S − (n+1)T)/(nT) needs only a
    //      per-language cumulative over the bounded length grain — no
    //      row-level ranking. DECIMAL(38,0) products, positive divs. ----
    QueryDef(
      "q262_gini_lengths",
      s"""WITH d AS (
        |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS v FROM documents),
        |vg AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS w
        |       FROM d GROUP BY lang, v),
        |cw AS (SELECT lang, v, w,
        |         CAST(sum(w) OVER (PARTITION BY lang ORDER BY v)
        |              - w AS BIGINT) AS base
        |       FROM vg),
        |agg AS (SELECT lang,
        |          CAST(sum(w) AS BIGINT) AS n_docs,
        |          sum(CAST(v AS DECIMAL(38,0)) * w) AS t,
        |          sum(CAST(v AS DECIMAL(38,0))
        |              * (2 * w * CAST(base AS DECIMAL(38,0))
        |                 + CAST(w AS DECIMAL(38,0)) * (w + 1))) AS s2
        |        FROM cw GROUP BY lang)
        |SELECT lang, n_docs,
        |       CAST(CAST((s2 - (n_docs + 1) * t) * 1000 AS HUGEINT)
        |            // CAST(n_docs * t AS HUGEINT) AS BIGINT) AS gini_milli
        |FROM agg WHERE t > 0 ORDER BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("lang"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("v"))
      val vg = d.groupBy("lang", "v").agg(count(lit(1)).as("w"))
      // bounded grain: distinct lengths per language, never row-level
      val cw = vg.withColumn("base",
        sum("w").over(Window.partitionBy("lang").orderBy("v")) - col("w"))
      val agg = cw.groupBy("lang").agg(
        sum("w").as("n_docs"),
        sum(col("v").cast("decimal(38,0)") * col("w")).as("t"),
        sum(col("v").cast("decimal(38,0)") *
          (lit(2) * col("w") * col("base").cast("decimal(38,0)") +
            col("w").cast("decimal(38,0)") * (col("w") + 1))).as("s2"))
      agg.filter(col("t") > 0)
        .select(col("lang"), col("n_docs"),
          expr("CAST(((s2 - (n_docs + 1) * t) * 1000) div (n_docs * t) AS BIGINT)")
            .as("gini_milli"))
        .orderBy("lang")
    },

    // ---- chi-square independence audit (q263): is language independent
    //      of source in this corpus — the stratification sanity check a
    //      mixing recipe needs before treating "source" as a usable
    //      sampling axis. Full source×lang contingency incl. silent-zero
    //      cells (distinct-list broadcast frame, so a source that never
    //      emits a language still charges its expected mass); expected
    //      counts exact in milli (DECIMAL r·c products), chi-square
    //      contribution per cell as ONE shared double expression
    //      (explicit x·x squaring, q260 discipline); marginals broadcast
    //      from bounded aggregates. ----
    QueryDef(
      "q263_chisq_independence",
      s"""WITH ${OracleSql.contingencyCellsCtes}
        |SELECT source, lang, observed,
        |       CAST(CAST(1000 * CAST(r AS DECIMAL(38,0)) * c AS HUGEINT)
        |            // CAST(n AS HUGEINT) AS BIGINT) AS expected_milli,
        |       $chisqCellSql AS chi_micro
        |FROM j CROSS JOIN nt
        |ORDER BY source, lang""".stripMargin) { (s, dir) =>
      val (obs, rt, ct, nt) = contingency(s, dir)
      contingencyCells(obs, rt, ct)
        .crossJoin(broadcast(nt))
        .select(col("source"), col("lang"), col("observed"),
          expr("CAST((1000 * CAST(r AS DECIMAL(38,0)) * c) div n AS BIGINT)")
            .as("expected_milli"),
          expr(chisqCellSql).as("chi_micro"))
        .orderBy("source", "lang")
    },

    // ---- isotonic calibration (q264): monotone score→P(en) map via
    //      the minimax characterization iso(s) = max_{i≤s} min_{j≥i}
    //      avg(y over score-block [i, j]) — PAVA's closed form, which
    //      (unlike the pooling loop) is order-free relational algebra.
    //      Everything lives on the VALUE grain (≤1001 distinct milli
    //      scores, the q253 scorer): inclusive prefix counts via Scale
    //      passes, the i≤j block-average table is grain², per-i min then
    //      a prefix max — no row-level work after the first aggregate.
    //      Block averages are micro floor-divs (all positive), so the
    //      map is exact and engine-identical. ----
    QueryDef(
      "q264_isotonic_calibration",
      s"""WITH ${PipelineQueries.labelledStopMilliCte},
        |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(y) AS BIGINT) AS pos
        |      FROM d GROUP BY sc),
        |cum AS (SELECT sc, n, pos,
        |          CAST(sum(n) OVER (ORDER BY sc) AS BIGINT) AS cn,
        |          CAST(sum(pos) OVER (ORDER BY sc) AS BIGINT) AS cp
        |        FROM g),
        |pairs AS (SELECT a.sc AS si,
        |            (1000000 * (b.cp - a.cp + a.pos))
        |              // (b.cn - a.cn + a.n) AS avgm
        |          FROM cum a JOIN cum b ON b.sc >= a.sc),
        |mj AS (SELECT si, min(avgm) AS m FROM pairs GROUP BY si),
        |iso AS (SELECT si AS sc, max(m) OVER (ORDER BY si) AS iso_micro
        |        FROM mj)
        |SELECT g.sc AS score, g.n, g.pos, iso.iso_micro
        |FROM g JOIN iso ON iso.sc = g.sc
        |ORDER BY score""".stripMargin) { (s, dir) =>
      val d = PipelineQueries.labelledStopMilli(s, dir)
      val g = d.groupBy("sc")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      // pinned by the scan: both sides of the grain² pair join read it
      val (cum, _) = Scale.scan(g, Seq("sc"),
        Scale.Sum("n", "cn"), Scale.Sum("pos", "cp"))
      val a = cum.select(col("sc").as("si"), col("cn").as("cna"),
        col("cp").as("cpa"), col("n").as("na"), col("pos").as("posa"))
      val b = cum.select(col("sc").as("sj"), col("cn").as("cnb"),
        col("cp").as("cpb"))
      val pairs = a.join(broadcast(b), col("sj") >= col("si"))
        .select(col("si"),
          expr("(1000000 * (cpb - cpa + posa)) div (cnb - cna + na)")
            .as("avgm"))
      val mj = pairs.groupBy("si").agg(min("avgm").as("m"))
      val iso = Scale.scan(mj, Seq("si"), Scale.Max("m", "iso_micro"))._1
      cum.select(col("sc").as("score"), col("n"), col("pos"))
        .join(broadcast(iso.select(col("si").as("score"), col("iso_micro"))),
          "score")
        .orderBy("score")
    },

    // ---- Kendall tau-b rank correlation (q265): do daily click and
    //      purchase volumes co-move — the outlier-proof, tie-aware
    //      companion to q257's Pearson lag scan. Day-grain aggregates
    //      FIRST (q248 discipline: pairs are calendar-bounded, never
    //      event-pairs); ONE strict day-pair pass yields concordant/
    //      discordant AND both tie masses, so no separate value-grain
    //      pass; tau-b = (C−D)/√((n0−ta)(n0−tb)) as one shared double
    //      expression on exact ints < 2⁵³. ----
    QueryDef(
      "q265_kendall_tau",
      s"""WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |j AS (SELECT a.day, a.c AS av, b.c AS bv
        |      FROM (SELECT day, c FROM d WHERE event_type = 'click') a
        |      JOIN (SELECT day, c FROM d WHERE event_type = 'purchase') b
        |        ON b.day = a.day),
        |p AS (SELECT x.av - y.av AS da, x.bv - y.bv AS db
        |      FROM j x JOIN j y ON y.day > x.day),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |        CAST(sum(CASE WHEN da * db > 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS conc,
        |        CAST(sum(CASE WHEN da * db < 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS disc,
        |        CAST(sum(CASE WHEN da = 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS ta,
        |        CAST(sum(CASE WHEN db = 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS tb
        |      FROM p),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM j)
        |SELECT n_days, conc AS concordant, disc AS discordant,
        |       ta AS tie_a_pairs, tb AS tie_b_pairs,
        |       $tauBSql AS tau_b_milli
        |FROM g CROSS JOIN m""".stripMargin) { (s, dir) =>
      val d = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val a = d.filter(col("event_type") === "click")
        .select(col("day"), col("c").as("av"))
      val b = d.filter(col("event_type") === "purchase")
        .select(col("day").as("bday"), col("c").as("bv"))
      val j = a.join(b, col("day") === col("bday"))
        .select(col("day"), col("av"), col("bv"))
        .localCheckpoint() // both sides of the calendar-bounded pair join
      val x = j.select(col("day").as("xd"), col("av").as("xa"),
        col("bv").as("xb"))
      val y = j.select(col("day").as("yd"), col("av").as("ya"),
        col("bv").as("yb"))
      val p = x.join(broadcast(y), col("yd") > col("xd"))
        .select((col("xa") - col("ya")).as("da"),
          (col("xb") - col("yb")).as("db"))
      val g = p.agg(count(lit(1)).as("n0"),
        sum(when(col("da") * col("db") > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(col("da") * col("db") < 0, 1L).otherwise(0L)).as("disc"),
        sum(when(col("da") === 0, 1L).otherwise(0L)).as("ta"),
        sum(when(col("db") === 0, 1L).otherwise(0L)).as("tb"))
      val m = j.agg(count(lit(1)).as("n_days"))
      g.crossJoin(broadcast(m))
        .select(col("n_days"), col("conc").as("concordant"),
          col("disc").as("discordant"), col("ta").as("tie_a_pairs"),
          col("tb").as("tie_b_pairs"),
          expr(tauBSql).as("tau_b_milli"))
    },

    // ---- calibration reliability + ECE (q266): how far the stopword
    //      score's CONFIDENCE sits from observed ACCURACY per decile
    //      bin — the audit that says whether q264's calibration is even
    //      needed. All-integer at milli resolution: acc = ⌊1000·pos/n⌋,
    //      conf = ⌊Σsc/n⌋ per bin, ECE = ⌊1000·Σ n_b·|acc−conf| / n⌋;
    //      one scan → ≤10-key aggregate, totals broadcast. ----
    QueryDef(
      "q266_reliability_ece",
      s"""WITH ${PipelineQueries.labelledStopMilliCte},
        |g AS (SELECT least(sc // 100, 9) AS bin,
        |        CAST(count(*) AS BIGINT) AS n_b,
        |        CAST(sum(y) AS BIGINT) AS pos_b,
        |        CAST(sum(sc) AS BIGINT) AS ssc
        |      FROM d GROUP BY 1),
        |r AS (SELECT bin, n_b, pos_b,
        |        (1000 * pos_b) // n_b AS acc_milli,
        |        ssc // n_b AS conf_milli
        |      FROM g),
        |e AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
        |        CAST(sum(n_b * abs(acc_milli - conf_milli)) AS BIGINT)
        |          AS sg
        |      FROM r)
        |SELECT bin, n_b, pos_b, acc_milli, conf_milli,
        |       abs(acc_milli - conf_milli) AS gap_milli,
        |       (1000 * sg) // n AS ece_micro
        |FROM r CROSS JOIN e ORDER BY bin""".stripMargin) { (s, dir) =>
      val d = PipelineQueries.labelledStopMilli(s, dir)
      val g = d.groupBy(least(expr("sc div 100"), lit(9)).as("bin"))
        .agg(count(lit(1)).as("n_b"), sum("y").as("pos_b"),
          sum("sc").as("ssc"))
      val r = g.select(col("bin"), col("n_b"), col("pos_b"),
          expr("(1000 * pos_b) div n_b").as("acc_milli"),
          expr("ssc div n_b").as("conf_milli"))
        .localCheckpoint() // read per-bin and for the ECE total
      val e = r.agg(sum("n_b").as("n"),
        sum(col("n_b") * abs(col("acc_milli") - col("conf_milli"))).as("sg"))
      r.crossJoin(broadcast(e))
        .select(col("bin"), col("n_b"), col("pos_b"), col("acc_milli"),
          col("conf_milli"),
          abs(col("acc_milli") - col("conf_milli")).as("gap_milli"),
          expr("(1000 * sg) div n").as("ece_micro"))
        .orderBy("bin")
    },

    // ---- Neyman-allocation stratified sample (q267): split a
    //      1000-doc budget across languages ∝ N_h·σ_h (minimum-variance
    //      stratified sampling), then DETERMINISTICALLY draw each
    //      stratum's share as its md5-smallest doc_ids — reproducible
    //      and oracle-checkable, the content-addressed sampling
    //      discipline (q242). Largest-remainder rounding makes the
    //      allocations sum exactly to the budget (floor divisions leave
    //      a ≤|strata| deficit, handed to the biggest remainders via a
    //      5-row globalRank). Selection is a per-stratum bounded TopK
    //      heap (map-side k=budget state), never a row-level rank. ----
    QueryDef(
      "q267_neyman_sample", {
        val std = stdMicroSql
        s"""WITH st AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS nh,
          |         CAST(sum(n_chars) AS BIGINT) AS sx,
          |         sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS sxx
          |  FROM documents GROUP BY lang),
          |s2 AS (SELECT lang, nh, $std AS std_micro FROM st),
          |w AS (SELECT lang, nh, std_micro,
          |        CAST(nh AS DECIMAL(38,0)) * std_micro AS wh FROM s2),
          |wt AS (SELECT sum(wh) AS wtot FROM w),
          |a0 AS (SELECT lang, nh, std_micro,
          |         CAST(CAST(1000 * wh AS HUGEINT)
          |              // CAST(wtot AS HUGEINT) AS BIGINT) AS alloc0,
          |         CAST(1000 * wh AS HUGEINT)
          |           % CAST(wtot AS HUGEINT) AS rem
          |       FROM w CROSS JOIN wt),
          |dft AS (SELECT 1000 - CAST(sum(alloc0) AS BIGINT) AS deficit
          |        FROM a0),
          |rk AS (SELECT lang,
          |         CAST(row_number() OVER (ORDER BY rem DESC, lang)
          |           AS BIGINT) AS rk
          |       FROM a0),
          |al AS (SELECT a0.lang, nh, std_micro,
          |         alloc0 + CASE WHEN rk.rk <= dft.deficit
          |                  THEN 1 ELSE 0 END AS alloc
          |       FROM a0 JOIN rk ON rk.lang = a0.lang CROSS JOIN dft),
          |h AS (SELECT lang, doc_id,
          |        (${OracleSql.md5Long("CAST(doc_id AS STRING) || '|neyman'")} >> 8) AS hv
          |      FROM documents),
          |r AS (SELECT lang, doc_id,
          |        row_number() OVER (PARTITION BY lang
          |                           ORDER BY hv, doc_id) AS rn
          |      FROM h),
          |sel AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS picked_n,
          |          CAST(sum(doc_id) AS BIGINT) AS sum_ids
          |        FROM r JOIN al ON al.lang = r.lang AND r.rn <= al.alloc
          |        GROUP BY r.lang)
          |SELECT al.lang, nh AS n_docs, std_micro, alloc,
          |       coalesce(picked_n, 0) AS picked_n,
          |       coalesce(sum_ids, 0) AS sum_ids
          |FROM al LEFT JOIN sel ON sel.lang = al.lang
          |ORDER BY al.lang""".stripMargin
      }) { (s, dir) =>
      import graft.functions.{Scored, TopKAggregator}
      import org.apache.spark.sql.Encoders
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      val st = docs.groupBy("lang").agg(
        count(lit(1)).as("nh"), sum("n_chars").as("sx"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("sxx"))
      val w = st.select(col("lang"), col("nh"),
          expr(stdMicroSql).as("std_micro"))
        .select(col("lang"), col("nh"), col("std_micro"),
          (col("nh").cast("decimal(38,0)") * col("std_micro")).as("wh"))
      val wt = w.agg(sum("wh").as("wtot"))
      val a0 = w.crossJoin(broadcast(wt))
        .select(col("lang"), col("nh"), col("std_micro"),
          expr("CAST((1000 * wh) div wtot AS BIGINT)").as("alloc0"),
          expr("(1000 * wh) % wtot").as("rem"))
        .withColumn("nrem", -col("rem"))
        .localCheckpoint() // strata-bounded; feeds rank, deficit, alloc
      val dft = a0.agg((lit(1000L) - sum("alloc0")).as("deficit"))
      val rk = Scale.globalRank(a0, "rk", "nrem", "lang")
        .select(col("lang"), col("rk"))
      val al = a0.join(broadcast(rk), "lang").crossJoin(broadcast(dft))
        .select(col("lang"), col("nh"), col("std_micro"),
          (col("alloc0") +
            when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("alloc"))
      val topk = udaf(new TopKAggregator(1000), Encoders.product[Scored])
      val sel = docs.select(col("lang"), col("doc_id"),
          shiftright(TextAnalysis.md5Long(concat(col("doc_id").cast("string"),
            lit("|neyman"))), 8).as("hv"))
        .groupBy("lang")
        // smallest hashes first: score = -hv, finish sorts (-score, id)
        .agg(topk((-col("hv")).cast("double"), col("doc_id")).as("sg"))
        .join(broadcast(al.select(col("lang"), col("alloc"))), "lang")
        .select(col("lang"),
          transform(slice(col("sg"), lit(1), col("alloc").cast("int")),
            x => x.getField("id")).as("ids"))
        .select(col("lang"), size(col("ids")).cast("long").as("picked_n"),
          aggregate(col("ids"), lit(0L), (a, v) => a + v).as("sum_ids"))
      al.join(sel, Seq("lang"), "left_outer")
        .select(col("lang"), col("nh").as("n_docs"), col("std_micro"),
          col("alloc"),
          coalesce(col("picked_n"), lit(0L)).as("picked_n"),
          coalesce(col("sum_ids"), lit(0L)).as("sum_ids"))
        .orderBy("lang")
    },

    // ---- unigram entropy rate per source (q268): Shannon entropy and
    //      Pielou evenness of each source's token distribution — the
    //      "is this source diverse text or template spam" one-number
    //      diagnostic next to q259's drift. Per-term pico rounding of
    //      −p·ln p (shared expression, order-free BIGINT sum), evenness
    //      = H/ln(types) milli on the aggregated values. ----
    QueryDef(
      "q268_entropy_rate",
      s"""WITH toks AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents),
        |cs AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_s
        |       FROM toks GROUP BY source, tok),
        |nsrc AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS ns
        |         FROM cs GROUP BY source),
        |terms AS (SELECT cs.source, $entropyTermSql AS term_pico
        |          FROM cs JOIN nsrc ON nsrc.source = cs.source),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |          CAST(sum(term_pico) AS BIGINT) AS h_pico
        |        FROM terms GROUP BY source)
        |SELECT agg.source, n_types, ns AS n_tokens, h_pico,
        |       $evennessSql AS evenness_milli
        |FROM agg JOIN nsrc ON nsrc.source = agg.source
        |ORDER BY agg.source""".stripMargin) { (s, dir) =>
      val cs = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c_s"))
        .localCheckpoint() // totals and terms both read it
      val nsrc = cs.groupBy("source").agg(sum("c_s").as("ns"))
      cs.join(broadcast(nsrc), "source")
        .select(col("source"), expr(entropyTermSql).as("term_pico"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("term_pico").as("h_pico"))
        .join(broadcast(nsrc), "source")
        .select(col("source"), col("n_types"), col("ns").as("n_tokens"),
          col("h_pico"), expr(evennessSql).as("evenness_milli"))
        .orderBy("source")
    },

    // ---- intra-document repetition (q269): fraction of token-trigram
    //      character mass sitting in trigrams the SAME doc repeats —
    //      the Gopher-family dup-ngram rule that catches template spam
    //      and keyword stuffing, which per-doc entropy (the
    //      tokenEntropy signal) dilutes when the repeated phrase is
    //      long. Pinned definition: gram char mass = Σ token lengths
    //      (spaces excluded), dup mass = grams with within-doc count
    //      ≥ 2 weighted by count·len. One trigram explode → (doc, gram)
    //      aggregate → per-doc aggregate; top-20 bounded TakeOrdered. ----
    QueryDef(
      "q269_intra_repetition",
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents
        |  WHERE len($toksSql) >= 3),
        |g AS (SELECT doc_id,
        |        toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram,
        |        CAST(len(toks[i]) + len(toks[i + 1]) + len(toks[i + 2])
        |          AS BIGINT) AS glen
        |      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
        |dg AS (SELECT doc_id, gram, glen,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM g GROUP BY doc_id, gram, glen),
        |d AS (SELECT doc_id,
        |        CAST(sum(cnt * glen) AS BIGINT) AS total_mass,
        |        CAST(sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END)
        |          AS BIGINT) AS dup_mass
        |      FROM dg GROUP BY doc_id)
        |SELECT doc_id, total_mass, dup_mass,
        |       (1000000 * dup_mass) // total_mass AS rep_ppm
        |FROM d WHERE total_mass > 0
        |ORDER BY rep_ppm DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
      val g = t.select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("toks")) - 2), i =>
            struct(
              concat_ws(" ", element_at(col("toks"), i),
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2)).as("gram"),
              (length(element_at(col("toks"), i)) +
                length(element_at(col("toks"), i + 1)) +
                length(element_at(col("toks"), i + 2)))
                .cast("long").as("glen")))).as("x"))
        .select(col("doc_id"), col("x.gram").as("gram"),
          col("x.glen").as("glen"))
      val dg = g.groupBy("doc_id", "gram", "glen")
        .agg(count(lit(1)).as("cnt"))
      dg.groupBy("doc_id")
        .agg(sum(col("cnt") * col("glen")).as("total_mass"),
          sum(when(col("cnt") >= 2, col("cnt") * col("glen"))
            .otherwise(0L)).as("dup_mass"))
        .filter(col("total_mass") > 0)
        .select(col("doc_id"), col("total_mass"), col("dup_mass"),
          expr("(1000000 * dup_mass) div total_mass").as("rep_ppm"))
        .orderBy(col("rep_ppm").desc, col("doc_id")).limit(20)
    },

    // ---- vocabulary first-seen attribution (q270): which source
    //      INTRODUCES the corpus' vocabulary when read in doc_id order —
    //      the acquisition-value signal ("this feed only re-says what
    //      others already said") that per-source type counts can't
    //      give. First occurrence is one min(struct(doc_id, source))
    //      per token (the q112 latest-per-key idiom, inverted); shares
    //      in ppm against both the source's own type count and the
    //      global vocabulary. Token-grain shuffles only. ----
    QueryDef(
      "q270_vocab_attribution",
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents),
        |fo AS (SELECT tok, arg_min(source, doc_id) AS first_source
        |       FROM toks GROUP BY tok),
        |intro AS (SELECT first_source AS source,
        |            CAST(count(*) AS BIGINT) AS introduced
        |          FROM fo GROUP BY first_source),
        |ty AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT)
        |         AS n_types
        |       FROM toks GROUP BY source),
        |vt AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM fo)
        |SELECT ty.source, n_types, coalesce(introduced, 0) AS introduced,
        |       (1000000 * coalesce(introduced, 0)) // n_types
        |         AS intro_rate_ppm,
        |       (1000000 * coalesce(introduced, 0)) // vocab
        |         AS vocab_share_ppm
        |FROM ty LEFT JOIN intro ON intro.source = ty.source CROSS JOIN vt
        |ORDER BY ty.source""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
      val perSrcTok = toks.groupBy("source", "tok")
        .agg(min("doc_id").as("first_doc"))
        .localCheckpoint() // feeds global argmin, type counts
      val fo = perSrcTok
        .groupBy("tok")
        .agg(min(struct(col("first_doc"), col("source"))).as("m"))
        .select(col("tok"), col("m.source").as("first_source"))
      val intro = fo.groupBy(col("first_source").as("source"))
        .agg(count(lit(1)).as("introduced"))
      val ty = perSrcTok.groupBy("source").agg(count(lit(1)).as("n_types"))
      val vt = fo.agg(count(lit(1)).as("vocab"))
      ty.join(broadcast(intro), Seq("source"), "left_outer")
        .crossJoin(broadcast(vt))
        .select(col("source"), col("n_types"),
          coalesce(col("introduced"), lit(0L)).as("introduced"),
          expr("(1000000 * coalesce(introduced, 0)) div n_types")
            .as("intro_rate_ppm"),
          expr("(1000000 * coalesce(introduced, 0)) div vocab")
            .as("vocab_share_ppm"))
        .orderBy("source")
    },

    // ---- embedding centroid health per label (q271): how tightly each
    //      label's vectors sit around their own centroid — mean and
    //      worst cosine-to-centroid, the collapse/contamination check
    //      run before trusting a labeled embedding slice. Centroid =
    //      truncating integer micro means (q258's cm), per-vector dot
    //      against the BROADCAST label×dim centroid, cosine as one
    //      shared sqrt expression on exact ints < 2⁵³, worst vector via
    //      min(struct). ----
    QueryDef(
      "q271_centroid_health",
      s"""WITH ${OracleSql.quantizedCellsCtes("label")},
        |cs AS (SELECT label, i, CAST(count(*) AS BIGINT) AS n_c,
        |         CAST(sum(x) AS BIGINT) AS sx
        |       FROM xq GROUP BY label, i),
        |cm AS (SELECT label, i,
        |         CASE WHEN sx >= 0 THEN sx // n_c
        |              ELSE -((-sx) // n_c) END AS mu
        |       FROM cs),
        |smm AS (SELECT label, CAST(sum(mu * mu) AS BIGINT) AS smm
        |        FROM cm GROUP BY label),
        |pv AS (SELECT xq.vec_id, xq.label,
        |         CAST(sum(xq.x * cm.mu) AS BIGINT) AS dot,
        |         CAST(sum(xq.x * xq.x) AS BIGINT) AS sxx
        |       FROM xq JOIN cm ON cm.label = xq.label AND cm.i = xq.i
        |       GROUP BY xq.vec_id, xq.label),
        |cosv AS (SELECT pv.vec_id, pv.label, $cosMicroSql AS cos_micro
        |         FROM pv JOIN smm ON smm.label = pv.label),
        |ag AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(CASE WHEN sum(cos_micro) >= 0
        |              THEN sum(cos_micro) // count(*)
        |              ELSE -((-sum(cos_micro)) // count(*)) END AS BIGINT)
        |           AS mean_cos_micro,
        |         CAST(min(cos_micro) AS BIGINT) AS min_cos_micro
        |       FROM cosv GROUP BY label)
        |SELECT ag.label, n_vecs, mean_cos_micro, min_cos_micro,
        |       CAST(min(cosv.vec_id) AS BIGINT) AS outlier_vec
        |FROM ag JOIN cosv ON cosv.label = ag.label
        |               AND cosv.cos_micro = ag.min_cos_micro
        |GROUP BY ag.label, n_vecs, mean_cos_micro, min_cos_micro
        |ORDER BY ag.label""".stripMargin) { (s, dir) =>
      val xq = quantizedCells(Tables.embeddings(s, dir), "label")
        .localCheckpoint() // centroid pass + per-vector pass
      val cs = xq.groupBy("label", "i")
        .agg(count(lit(1)).as("n_c"), sum("x").as("sx"))
      val cm = cs.select(col("label"), col("i"),
        expr("sx div n_c").as("mu"))
        .localCheckpoint() // label x dim bounded; dot join + norm agg
      val smm = cm.groupBy("label").agg(sum(col("mu") * col("mu")).as("smm"))
      val pv = xq.join(broadcast(cm), Seq("label", "i"))
        .groupBy("vec_id", "label")
        .agg(sum(col("x") * col("mu")).as("dot"),
          sum(col("x") * col("x")).as("sxx"))
      val cosv = pv.join(broadcast(smm), "label")
        .select(col("vec_id"), col("label"),
          expr(cosMicroSql).as("cos_micro"))
      cosv.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum("cos_micro").as("sc"),
          min("cos_micro").as("min_cos_micro"),
          min(struct(col("cos_micro"), col("vec_id"))).as("mn"))
        .select(col("label"), col("n_vecs"),
          expr("sc div n_vecs").as("mean_cos_micro"),
          col("min_cos_micro"),
          col("mn.vec_id").as("outlier_vec"))
        .orderBy("label")
    },

    // ---- McNemar paired-classifier test (q272): is the trained-marker
    //      langId actually better than the dumb stopword-ratio gate at
    //      "is this English", on the SAME documents — the paired test
    //      that accuracy deltas can't justify (it only weighs the
    //      DISAGREEING pairs b, c: χ² = (b−c)²/(b+c)). Both classifiers
    //      ride one scan; counts are exact; χ² is one shared double
    //      expression. ----
    QueryDef(
      "q272_mcnemar", {
        val scoreCols = TextAnalysis.langMarkers.map { case (lang, ms) =>
          val sum = ms.map { m =>
            val esc = m.replace("'", "''")
            s"(length(p) - length(replace(p, '$esc', ''))) // ${m.length}"
          }.mkString(" + ")
          s"$sum AS s_$lang"
        }.mkString(",\n        |         ")
        val langs = TextAnalysis.langMarkers.map(_._1)
        val greatest = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        s"""WITH t AS (
          |  SELECT lang, ' ' || lower(text) || ' ' AS p,
          |         $toksSql AS toks
          |  FROM documents WHERE len($toksSql) >= 1),
          |sc AS (SELECT lang,
          |         $scoreCols,
          |         CAST(len(list_filter(toks,
          |           w -> list_contains(${PipelineQueries.stopwordsSql}, w)))
          |           AS BIGINT) AS stop_hits,
          |         CAST(len(toks) AS BIGINT) AS n_tokens
          |       FROM t),
          |cl AS (SELECT (lang = 'en') AS y,
          |         ($greatest > 0 AND s_en = $greatest) AS a,
          |         (1000 * stop_hits >= 150 * n_tokens) AS b
          |       FROM sc),
          |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(CASE WHEN a = y THEN 1 ELSE 0 END) AS BIGINT)
          |          AS ok_a,
          |        CAST(sum(CASE WHEN b = y THEN 1 ELSE 0 END) AS BIGINT)
          |          AS ok_b,
          |        CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
          |          AS BIGINT) AS bd,
          |        CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
          |          AS BIGINT) AS cd
          |      FROM cl)
          |SELECT n, (1000 * ok_a) // n AS acc_langid_milli,
          |       (1000 * ok_b) // n AS acc_stopgate_milli,
          |       bd AS only_langid_right, cd AS only_stopgate_right,
          |       $mcnemarSql AS mcnemar_chi_micro
          |FROM g""".stripMargin
      }) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("lang"), col("text"),
          TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
      val cl = t.select(
        (col("lang") === "en").as("y"),
        (TextAnalysis.langId(col("text")) === "en").as("a"),
        (lit(1000L) * size(filter(col("toks"),
          w => w.isin(PipelineQueries.stopwords: _*))).cast("long") >=
          lit(150L) * size(col("toks")).cast("long")).as("b"))
      cl.agg(count(lit(1)).as("n"),
          sum(when(col("a") === col("y"), 1L).otherwise(0L)).as("ok_a"),
          sum(when(col("b") === col("y"), 1L).otherwise(0L)).as("ok_b"),
          sum(when(col("a") === col("y") && col("b") =!= col("y"), 1L)
            .otherwise(0L)).as("bd"),
          sum(when(col("a") =!= col("y") && col("b") === col("y"), 1L)
            .otherwise(0L)).as("cd"))
        .select(col("n"),
          expr("(1000 * ok_a) div n").as("acc_langid_milli"),
          expr("(1000 * ok_b) div n").as("acc_stopgate_milli"),
          col("bd").as("only_langid_right"),
          col("cd").as("only_stopgate_right"),
          expr(mcnemarSql).as("mcnemar_chi_micro"))
    },

    // ---- Cohen's kappa between two keep-gates (q273): how much the
    //      Gopher gate and the stopword-density gate actually AGREE
    //      beyond chance — two gates can share 90% keep rates and still
    //      keep different halves; kappa = (pₒ−pₑ)/(1−pₑ) is the number
    //      that tells redundant gate from complementary gate. Exact
    //      integer contingency from ONE counter scan, expected agreement
    //      in DECIMAL, sign-split milli division. ----
    QueryDef(
      "q273_gate_kappa",
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS toks FROM documents),
        |${PipelineQueries.gopherCountsCte("t")},
        |fl AS (SELECT ${PipelineQueries.gopherKeepSql} AS ga,
        |         (n_tokens >= 40
        |          AND 1000 * stop_hits >= 150 * n_tokens) AS gb
        |       FROM c),
        |g AS (SELECT
        |        CAST(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END)
        |          AS BIGINT) AS both_keep,
        |        CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END)
        |          AS BIGINT) AS only_gopher,
        |        CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END)
        |          AS BIGINT) AS only_stop,
        |        CAST(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END)
        |          AS BIGINT) AS neither,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM fl),
        |k AS (SELECT both_keep, only_gopher, only_stop, neither, n,
        |        CAST(both_keep + only_gopher AS DECIMAL(38,0))
        |          * (both_keep + only_stop)
        |        + CAST(only_stop + neither AS DECIMAL(38,0))
        |          * (only_gopher + neither) AS e
        |      FROM g)
        |SELECT both_keep, only_gopher, only_stop, neither, n,
        |       (1000 * (both_keep + neither)) // n AS po_milli,
        |       CAST(CAST(e * 1000 AS HUGEINT)
        |            // CAST(CAST(n AS DECIMAL(38,0)) * n AS HUGEINT)
        |         AS BIGINT) AS pe_milli,
        |       CAST(CASE
        |         WHEN CAST(n AS DECIMAL(38,0)) * n - e = 0 THEN 1000
        |         WHEN CAST(n AS DECIMAL(38,0)) * (both_keep + neither) - e
        |              >= 0
        |         THEN CAST((CAST(n AS DECIMAL(38,0)) * (both_keep + neither)
        |                    - e) * 1000 AS HUGEINT)
        |              // CAST(CAST(n AS DECIMAL(38,0)) * n - e AS HUGEINT)
        |         ELSE -(CAST(-((CAST(n AS DECIMAL(38,0))
        |                        * (both_keep + neither) - e) * 1000)
        |                  AS HUGEINT)
        |                // CAST(CAST(n AS DECIMAL(38,0)) * n - e
        |                     AS HUGEINT))
        |         END AS BIGINT) AS kappa_milli
        |FROM k""".stripMargin) { (s, dir) =>
      val toks = TextAnalysis.wsTokens(col("text"))
      val c = Tables.documents(s, dir).select(
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (a, w) => a + length(w)).as("word_chars"),
        size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long")
          .as("alpha_words"),
        size(filter(toks, w => w.isin("#", "...", "…"))).cast("long")
          .as("sym_words"),
        size(filter(toks, w => w.isin(PipelineQueries.stopwords: _*)))
          .cast("long").as("stop_hits"))
      val fl = c.select(
        (col("n_tokens") >= 40 && col("n_tokens") <= 100000 &&
          col("word_chars") >= col("n_tokens") * 3 &&
          col("word_chars") <= col("n_tokens") * 10 &&
          col("sym_words") * 10 <= col("n_tokens") &&
          col("alpha_words") * 5 >= col("n_tokens") * 4 &&
          col("stop_hits") >= 2).as("ga"),
        (col("n_tokens") >= 40 &&
          lit(1000L) * col("stop_hits") >= lit(150L) * col("n_tokens"))
          .as("gb"))
      val g = fl.agg(
        sum(when(col("ga") && col("gb"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("ga") && !col("gb"), 1L).otherwise(0L)).as("only_gopher"),
        sum(when(!col("ga") && col("gb"), 1L).otherwise(0L)).as("only_stop"),
        sum(when(!col("ga") && !col("gb"), 1L).otherwise(0L)).as("neither"),
        count(lit(1)).as("n"))
      g.select(col("*"),
          ((col("both_keep") + col("only_gopher")).cast("decimal(38,0)") *
            (col("both_keep") + col("only_stop")) +
            (col("only_stop") + col("neither")).cast("decimal(38,0)") *
              (col("only_gopher") + col("neither"))).as("e"))
        .select(col("both_keep"), col("only_gopher"), col("only_stop"),
          col("neither"), col("n"),
          expr("(1000 * (both_keep + neither)) div n").as("po_milli"),
          expr("CAST((e * 1000) div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("pe_milli"),
          expr("""CAST(CASE
            WHEN CAST(n AS DECIMAL(38,0)) * n - e = 0 THEN 1000
            ELSE (CAST(n AS DECIMAL(38,0)) * (both_keep + neither) - e)
                 * 1000 div (CAST(n AS DECIMAL(38,0)) * n - e)
            END AS BIGINT)""").as("kappa_milli"))
    },

    // ---- weighted sample without replacement (q274): Efraimidis–
    //      Spirakis A-ES — draw 100 docs with probability ∝ token count
    //      in ONE pass: key = u^(1/w) maximized ⇔ ln(u)/w maximized,
    //      u = (h+1)/(2⁵²+1) from the content-addressed md5 (so the
    //      "random" draw is reproducible and oracle-checkable, the q242
    //      discipline). The key is one shared pico expression; the
    //      selection is a bounded global TopK heap (map-side k=100
    //      state) — no sort, no window, one scan. ----
    QueryDef(
      "q274_weighted_sample",
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS w
        |  FROM documents WHERE len($toksSql) >= 1),
        |k AS (SELECT doc_id, w,
        |        (${OracleSql.md5Long("CAST(doc_id AS STRING) || '|aes'")} >> 8) AS hv
        |      FROM d)
        |SELECT doc_id, w, $aesKeySql AS key_pico
        |FROM k ORDER BY key_pico DESC, doc_id LIMIT 100""".stripMargin) {
      (s, dir) =>
      import graft.functions.{Scored, TopKAggregator}
      import org.apache.spark.sql.Encoders
      val k = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("w"))
        .filter(col("w") >= 1)
        .select(col("doc_id"), col("w"),
          shiftright(TextAnalysis.md5Long(concat(col("doc_id").cast("string"),
            lit("|aes"))), 8).as("hv"))
        .select(col("doc_id"), col("w"), expr(aesKeySql).as("key_pico"))
        .localCheckpoint() // heap pass + the weight join-back below
      val topk = udaf(new TopKAggregator(100), Encoders.product[Scored])
      val picked = k
        .agg(topk(col("key_pico").cast("double"), col("doc_id")).as("sg"))
        .select(posexplode(transform(col("sg"), x => x.getField("id")))
          .as(Seq("ord", "doc_id")))
      picked.join(k, "doc_id")
        .select(col("doc_id"), col("w"), col("key_pico"))
        .orderBy(col("key_pico").desc, col("doc_id"))
    },

    // ---- event-transition Markov chain (q275): the behavioral
    //      fingerprint of the event stream — per-user consecutive
    //      event-type transitions, row-normalized in milli, plus the
    //      stationary distribution from 3 integer power iterations
    //      (q92's discipline on a type×type-bounded dense chain). The
    //      only per-row work is the lead() pairing inside each user's
    //      partition (the q75 sessionize shape); everything after lives
    //      on the ≤|types|² grain. ----
    QueryDef(
      "q275_markov_transitions",
      s"""WITH ev AS (
        |  SELECT user_id, event_type, ts, event_id FROM events),
        |pr AS (SELECT event_type AS f,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS t
        |       FROM ev),
        |tc AS (SELECT f, t, CAST(count(*) AS BIGINT) AS c
        |       FROM pr WHERE t IS NOT NULL GROUP BY f, t),
        |rt AS (SELECT f, CAST(sum(c) AS BIGINT) AS rc FROM tc GROUP BY f),
        |p AS (SELECT tc.f, tc.t, tc.c,
        |        (1000 * tc.c) // rt.rc AS p_milli
        |      FROM tc JOIN rt ON rt.f = tc.f),
        |types AS (SELECT f AS ty FROM rt),
        |v0 AS (SELECT ty, CAST(1000000 AS BIGINT) AS v FROM types),
        |v1 AS (SELECT p.t AS ty, CAST(sum(v0.v * p.p_milli) // 1000
        |         AS BIGINT) AS v
        |       FROM v0 JOIN p ON p.f = v0.ty GROUP BY p.t),
        |v2 AS (SELECT p.t AS ty, CAST(sum(v1.v * p.p_milli) // 1000
        |         AS BIGINT) AS v
        |       FROM v1 JOIN p ON p.f = v1.ty GROUP BY p.t),
        |v3 AS (SELECT p.t AS ty, CAST(sum(v2.v * p.p_milli) // 1000
        |         AS BIGINT) AS v
        |       FROM v2 JOIN p ON p.f = v2.ty GROUP BY p.t)
        |SELECT p.f, p.t, p.c, p.p_milli,
        |       v3.v AS stationary_micro
        |FROM p JOIN v3 ON v3.ty = p.t
        |ORDER BY p.f, p.t""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pr = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .select(col("event_type").as("f"),
          lead(col("event_type"), 1).over(w).as("t"))
        .filter(col("t").isNotNull)
      val tc = pr.groupBy("f", "t").agg(count(lit(1)).as("c"))
      val rt = tc.groupBy("f").agg(sum("c").as("rc"))
      val p = tc.join(broadcast(rt), "f")
        .select(col("f"), col("t"), col("c"),
          expr("(1000 * c) div rc").as("p_milli"))
        .localCheckpoint() // type^2-bounded; read by 3 matvecs + output
      var v = rt.select(col("f").as("ty"), lit(1000000L).as("v"))
      for (_ <- 1 to 3) {
        v = v.join(p, col("ty") === col("f"))
          .groupBy(col("t").as("nty"))
          .agg(expr("sum(v * p_milli) div 1000").as("nv"))
          .select(col("nty").as("ty"), col("nv").as("v"))
      }
      p.join(broadcast(v.withColumnRenamed("ty", "t")
          .withColumnRenamed("v", "stationary_micro")), "t")
        .select(col("f"), col("t"), col("c"), col("p_milli"),
          col("stationary_micro"))
        .orderBy("f", "t")
    },

    // ---- Benjamini–Hochberg drift screen (q276): which sources'
    //      language mixes differ SIGNIFICANTLY from the corpus, with
    //      the false-discovery rate controlled at 5% — the multiple-
    //      testing correction any 20-slice audit owes its findings
    //      (raw per-slice p<.05 expects a false alarm per screen).
    //      Per-source χ² (df=4) against corpus-share expectations, the
    //      EXACT even-df tail P(X>x) = e^(−x/2)(1+x/2) as one shared
    //      expression (no incomplete-gamma approximation), BH step-up
    //      over the 20-row grain via one rank scan (which also counts
    //      the tests) + max of the passing rank. ----
    QueryDef(
      "q276_bh_drift_screen",
      s"""WITH ${OracleSql.contingencyCellsCtes},
        |chi AS (SELECT source,
        |          CAST(sum($chisqCellSql) AS BIGINT) AS chi_micro
        |        FROM j CROSS JOIN nt GROUP BY source),
        |pv AS (SELECT source, chi_micro, $chi4PvalSql AS p_micro
        |       FROM chi),
        |rk AS (SELECT source, chi_micro, p_micro,
        |         CAST(row_number() OVER (ORDER BY p_micro, source)
        |           AS BIGINT) AS rk
        |       FROM pv),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM rk),
        |pass AS (SELECT max(CASE WHEN m.m * p_micro <= rk.rk * 50000
        |                    THEN rk.rk ELSE 0 END) AS kstar
        |         FROM rk CROSS JOIN m)
        |SELECT source, chi_micro, p_micro, rk,
        |       (rk <= kstar) AS significant
        |FROM rk CROSS JOIN pass ORDER BY rk""".stripMargin) { (s, dir) =>
      val (obs, rt, ct, nt) = contingency(s, dir)
      val chi = contingencyCells(obs, rt, ct)
        .crossJoin(broadcast(nt))
        .groupBy("source")
        .agg(sum(expr(chisqCellSql)).as("chi_micro"))
      val pv = chi.select(col("source"), col("chi_micro"),
        expr(chi4PvalSql).as("p_micro"))
      // pinned by the rank scan; threshold scan + output read it. The
      // scan's row count is the number of tests m.
      val (rk, Seq(m)) = Scale.scan(pv, Seq("p_micro", "source"), Scale.RowNumber("rk"))
      val pass = rk.agg(max(when(lit(m) * col("p_micro") <= col("rk") * 50000L,
        col("rk")).otherwise(0L)).as("kstar"))
      rk.crossJoin(broadcast(pass))
        .select(col("source"), col("chi_micro"), col("p_micro"), col("rk"),
          (col("rk") <= col("kstar")).as("significant"))
        .orderBy("rk")
    },

    // ---- source × language mutual information (q277): how much
    //      knowing the source tells you about the language (and vice
    //      versa) in one number — the dependence strength q263's χ²
    //      tests but can't quantify across corpus sizes; normalized by
    //      the joint entropy (IQR ∈ [0,1]) it's comparable across
    //      screens. Per-cell pico terms p·ln(p·n²/(r·c)) shared between
    //      engines over the bounded contingency grain. ----
    QueryDef(
      "q277_source_lang_mi",
      s"""WITH ${OracleSql.contingencyCtes},
        |cells AS (SELECT obs.o, rt.r, ct.c
        |          FROM obs JOIN rt ON rt.source = obs.source
        |          JOIN ct ON ct.lang = obs.lang),
        |g AS (SELECT CAST(sum($miTermSql) AS BIGINT) AS mi_pico,
        |        CAST(sum($jointEntTermSql) AS BIGINT) AS h_joint_pico,
        |        CAST(count(*) AS BIGINT) AS n_cells
        |      FROM cells CROSS JOIN nt)
        |SELECT mi_pico, h_joint_pico, n_cells,
        |       CASE WHEN h_joint_pico = 0 THEN 0
        |            ELSE (1000 * mi_pico) // h_joint_pico END AS iqr_milli
        |FROM g""".stripMargin) { (s, dir) =>
      val (obs, rt, ct, nt) = contingency(s, dir)
      val g = obs.join(broadcast(rt), "source").join(broadcast(ct), "lang")
        .crossJoin(broadcast(nt))
        .agg(sum(expr(miTermSql)).as("mi_pico"),
          sum(expr(jointEntTermSql)).as("h_joint_pico"),
          count(lit(1)).as("n_cells"))
      g.select(col("mi_pico"), col("h_joint_pico"), col("n_cells"),
        when(col("h_joint_pico") === 0, 0L)
          .otherwise(expr("(1000 * mi_pico) div h_joint_pico"))
          .as("iqr_milli"))
    },

    // ---- Mann–Kendall trend test (q278): IS the daily volume trending,
    //      with significance — the nonparametric partner of q248's
    //      Theil–Sen slope (that one says how steep, this one says
    //      whether to believe it). S = Σ sign pairs over the calendar-
    //      bounded day grid (q248 discipline), variance with the exact
    //      tie correction Σt(t−1)(2t+5) from value-grain counts, and
    //      the continuity-corrected z as one shared sqrt expression. ----
    QueryDef(
      "q278_mann_kendall",
      s"""WITH ${OracleSql.dailyEventCountsCte},
        |p AS (SELECT CASE WHEN b.c > a.c THEN 1
        |             WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
        |      FROM d a JOIN d b ON b.day > a.day),
        |s AS (SELECT CAST(sum(sg) AS BIGINT) AS s,
        |        CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
        |           AS BIGINT) AS tc
        |         FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |               FROM d GROUP BY c) g WHERE t >= 2)
        |SELECT s.s, m.n AS n_days, ties.tc AS tie_term,
        |       $mkZSql AS z_milli
        |FROM s CROSS JOIN m CROSS JOIN ties""".stripMargin) { (s, dir) =>
      val d = dailyEventCounts(s, dir)
        .localCheckpoint() // pair join (both sides), n, tie grain
      val a = d.select(col("day").as("d1"), col("c").as("c1"))
      val b = d.select(col("day").as("d2"), col("c").as("c2"))
      val sdf = a.join(broadcast(b), col("d2") > col("d1"))
        .select(when(col("c2") > col("c1"), 1L)
          .when(col("c2") < col("c1"), -1L).otherwise(0L).as("sg"))
        .agg(sum("sg").as("s"), count(lit(1)).as("n_pairs"))
      val m = d.agg(count(lit(1)).as("n"))
      val ties = d.groupBy("c").agg(count(lit(1)).as("t"))
        .filter(col("t") >= 2)
        .agg(coalesce(sum(col("t") * (col("t") - 1) *
          (lit(2L) * col("t") + 5)), lit(0L)).as("tc"))
      sdf.crossJoin(broadcast(m)).crossJoin(broadcast(ties))
        .select(col("s"), col("n").as("n_days"), col("tc").as("tie_term"),
          expr(mkZSql).as("z_milli"))
    },

    // ---- inter-event burstiness per user cohort (q279): Goh–Barabási
    //      B = (σ−μ)/(σ+μ) of the inter-event gaps — distinguishes
    //      bursty bot-like traffic (B→1) from Poisson (B→0) and
    //      metronomic (B→−1), per event type. Gaps from the per-user
    //      lead() pairing (q75 shape), exact second-grain moments,
    //      σ via the shared q212 sqrt recipe, B in milli. ----
    QueryDef(
      "q279_burstiness",
      s"""WITH ev AS (
        |  SELECT user_id, event_type, ts, event_id FROM events),
        |g AS (SELECT event_type,
        |        (epoch_us(lead(ts) OVER (PARTITION BY user_id, event_type
        |            ORDER BY ts, event_id)) - epoch_us(ts)) // 1000000
        |          AS gap_s
        |      FROM ev),
        |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
        |         CAST(sum(gap_s) AS BIGINT) AS sx,
        |         sum(CAST(gap_s AS DECIMAL(38,0)) * gap_s) AS sxx
        |       FROM gg GROUP BY event_type),
        |r AS (SELECT event_type, nh, sx // nh AS mean_s,
        |        $stdMicroSql AS std_micro
        |      FROM st)
        |SELECT event_type, nh AS n_gaps, mean_s, std_micro,
        |       CAST(CASE WHEN std_micro + 1000000 * mean_s = 0 THEN 0
        |            WHEN std_micro - 1000000 * mean_s >= 0
        |            THEN (1000 * (std_micro - 1000000 * mean_s))
        |                 // (std_micro + 1000000 * mean_s)
        |            ELSE -((-(1000 * (std_micro - 1000000 * mean_s)))
        |                   // (std_micro + 1000000 * mean_s))
        |            END AS BIGINT) AS burstiness_milli
        |FROM r ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val gg = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .select(col("event_type"),
          expr("(lead(ts) OVER (PARTITION BY user_id, event_type " +
            "ORDER BY ts, event_id) - ts) div 1000000000").as("gap_s"))
        .filter(col("gap_s").isNotNull)
      val st = gg.groupBy("event_type")
        .agg(count(lit(1)).as("nh"), sum("gap_s").as("sx"),
          sum(col("gap_s").cast("decimal(38,0)") * col("gap_s")).as("sxx"))
      val r = st.select(col("event_type"), col("nh"),
        expr("sx div nh").as("mean_s"),
        expr(stdMicroSql).as("std_micro"))
      r.select(col("event_type"), col("nh").as("n_gaps"), col("mean_s"),
          col("std_micro"),
          when(col("std_micro") + lit(1000000L) * col("mean_s") === 0, 0L)
            .otherwise(expr("(1000 * (std_micro - 1000000 * mean_s)) " +
              "div (std_micro + 1000000 * mean_s)"))
            .as("burstiness_milli"))
        .orderBy("event_type")
    },

    // ---- duplicate-cluster size spectrum (q280): the shape of exact-
    //      dup clustering — how many clusters of each size, plus a
    //      log-log tail slope (q237's fit recipe) over sizes ≥ 2. The
    //      slope is the "is dedup pathological" one-number answer: a
    //      heavy tail (shallow slope) means giant boilerplate families
    //      that CC/LSH stages must survive, a steep one means benign
    //      pair-dominated duplication. Digest group → size histogram —
    //      both grains bounded; slope columns ride every row. ----
    QueryDef(
      "q280_cluster_spectrum",
      s"""WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL  -- planted duplicate families: sizes 2, 4, 8
        |  SELECT doc_id + 1000000 * (1 + u.k), text FROM documents,
        |    unnest(range(0, 1)) AS u(k)
        |  WHERE doc_id % 10 = 1 AND doc_id < 301
        |  UNION ALL
        |  SELECT doc_id + 1000000 * (1 + u.k), text FROM documents,
        |    unnest(range(0, 3)) AS u(k)
        |  WHERE doc_id % 10 = 2 AND doc_id < 102
        |  UNION ALL
        |  SELECT doc_id + 1000000 * (1 + u.k), text FROM documents,
        |    unnest(range(0, 7)) AS u(k)
        |  WHERE doc_id % 10 = 3 AND doc_id < 33),
        |cl AS (
        |  SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS sz
        |  FROM d GROUP BY md5(text)),
        |h AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
        |      FROM cl GROUP BY sz),
        |p AS (SELECT CAST(round(1000000 * ln(CAST(sz AS DOUBLE)))
        |          AS BIGINT) AS x,
        |        CAST(round(1000000 * ln(CAST(n_clusters AS DOUBLE)))
        |          AS BIGINT) AS y
        |      FROM h WHERE sz >= 2),
        |${OracleSql.regressionSumsCte},
        |sl AS (SELECT CASE
        |         WHEN n <= 1 OR n * sxx - sx * sx = 0 THEN 0
        |         WHEN n * sxy - sx * sy >= 0
        |         THEN CAST(CAST((n * sxy - sx * sy) * 1000 AS HUGEINT)
        |              // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
        |         ELSE -CAST(CAST(-((n * sxy - sx * sy) * 1000) AS HUGEINT)
        |               // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
        |         END AS tail_slope_milli,
        |         CAST(n AS BIGINT) AS n_tail_points
        |       FROM g)
        |SELECT sz AS cluster_size, n_clusters, tail_slope_milli,
        |       n_tail_points
        |FROM h CROSS JOIN sl ORDER BY cluster_size""".stripMargin) {
      (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text")
      def plant(res: Int, below: Long, copies: Int): DataFrame =
        base.filter(col("doc_id") % 10 === res && col("doc_id") < below)
          .crossJoin(broadcast(s.range(0, copies).select(col("id").as("k"))))
          .select((col("doc_id") + lit(1000000L) * (col("k") + 1))
            .as("doc_id"), col("text"))
      val d = base.unionByName(plant(1, 301L, 1))
        .unionByName(plant(2, 102L, 3)).unionByName(plant(3, 33L, 7))
      val h = Dedup.exactGroups(d)
        .groupBy(col("n_copies").as("sz")).agg(count(lit(1)).as("n_clusters"))
        .localCheckpoint() // histogram output + the tail fit
      val p = h.filter(col("sz") >= 2).select(
        round(lit(1000000d) * log(col("sz").cast("double")))
          .cast("long").as("x"),
        round(lit(1000000d) * log(col("n_clusters").cast("double")))
          .cast("long").as("y"))
      val g = regressionSums(p)
      val sl = g.select(
        when(col("n") <= 1 ||
          col("n") * col("sxx") - col("sx") * col("sx") === 0, 0L)
          .otherwise(expr(
            "CAST(((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx) AS BIGINT)"))
          .as("tail_slope_milli"),
        col("n").cast("long").as("n_tail_points"))
      h.crossJoin(broadcast(sl))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          col("tail_slope_milli"), col("n_tail_points"))
        .orderBy("cluster_size")
    },

    // ---- degree assortativity (q281): do high-degree nodes link to
    //      high-degree nodes (Newman's r) on the q92 bipartite
    //      supplier–customer graph — hub-to-hub wiring changes how
    //      sampling, PageRank mass and dedup blow-ups behave, and
    //      neither modularity (q223) nor clustering (q221) sees it.
    //      Pearson over the symmetric directed edge list: exact DECIMAL
    //      moments (products overflow Long), the final r through
    //      correctly-rounded DECIMAL→DOUBLE casts in ONE shared
    //      expression. Two degree joins keyed on the edge endpoints —
    //      the only shuffles. ----
    QueryDef(
      "q281_assortativity",
      s"""WITH ${OracleSql.coPurchaseCtes},
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
        |        FROM edges GROUP BY src),
        |jk AS (SELECT ds.d AS j, dd.d AS k
        |       FROM edges e JOIN deg ds ON ds.id = e.src
        |       JOIN deg dd ON dd.id = e.dst),
        |g AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS m,
        |        sum(CAST(j AS DECIMAL(38,0))) AS sj,
        |        sum(CAST(k AS DECIMAL(38,0))) AS sk,
        |        sum(CAST(j AS DECIMAL(38,0)) * k) AS sjk,
        |        sum(CAST(j AS DECIMAL(38,0)) * j) AS sjj,
        |        sum(CAST(k AS DECIMAL(38,0)) * k) AS skk
        |      FROM jk)
        |SELECT CAST(m AS BIGINT) AS n_edges, $assortSql AS r_milli
        |FROM g""".stripMargin) { (s, dir) =>
      val edges = Tables.bothWays(Tables.coPurchasePairs(s, dir))
        .localCheckpoint() // degree pass + the two endpoint joins
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      val jk = edges
        .join(deg.select(col("id").as("src"), col("d").as("j")), "src")
        .join(deg.select(col("id").as("dst"), col("d").as("k")), "dst")
      val g = jk.agg(
        count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("j").cast("decimal(38,0)")).as("sj"),
        sum(col("k").cast("decimal(38,0)")).as("sk"),
        sum(col("j").cast("decimal(38,0)") * col("k")).as("sjk"),
        sum(col("j").cast("decimal(38,0)") * col("j")).as("sjj"),
        sum(col("k").cast("decimal(38,0)") * col("k")).as("skk"))
      g.select(col("m").cast("long").as("n_edges"),
        expr(assortSql).as("r_milli"))
    },

    // ---- CUPED variance reduction (q282): how much experiment
    //      variance the pre-period activity removes — θ = cov(x,y)/
    //      var(x) with x = each user's first-half purchase cents and
    //      y = second-half cents, and the achievable reduction is
    //      exactly ρ² (report it in ppm). The experimentation-platform
    //      primitive next to q207's bootstrap CI. One conditional
    //      aggregation builds both periods per user (calendar midpoint
    //      broadcast), exact DECIMAL moments, shared double closers. ----
    QueryDef(
      "q282_cuped",
      s"""WITH pv AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         CAST(round(100 * value) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |bound AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM pv),
        |u AS (SELECT user_id,
        |        CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END)
        |          AS BIGINT) AS x,
        |        CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END)
        |          AS BIGINT) AS y
        |      FROM pv CROSS JOIN bound GROUP BY user_id),
        |g AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
        |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
        |        sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |        sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
        |        sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
        |        sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
        |      FROM u)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |       $cupedThetaSql AS theta_micro,
        |       $cupedRho2Sql AS rho2_ppm
        |FROM g""".stripMargin) { (s, dir) =>
      val pv = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"),
          round(lit(100d) * col("value")).cast("long").as("cents"))
        .localCheckpoint() // bound agg + the per-user split read it
      val bound = pv.agg(
        expr("(min(day) + max(day) + 1) div 2").as("mid"))
      val u = pv.crossJoin(broadcast(bound))
        .groupBy("user_id")
        .agg(sum(when(col("day") < col("mid"), col("cents"))
            .otherwise(0L)).as("x"),
          sum(when(col("day") >= col("mid"), col("cents"))
            .otherwise(0L)).as("y"))
      val g = u.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      g.select(col("n").cast("long").as("n_users"),
        expr(cupedThetaSql).as("theta_micro"),
        expr(cupedRho2Sql).as("rho2_ppm"))
    },

    // ---- deterministic negative-edge sampling (q283): training pairs
    //      for link prediction need NON-edges, drawn reproducibly — the
    //      content-addressed md5 trial stream (q242 discipline) maps
    //      each supplier × trial to a customer RANK (globalRank over
    //      the customer universe, so no contiguous-key assumption),
    //      anti-joins the real edge set, and keeps the first two
    //      surviving trials per supplier via a bounded sort_array pick
    //      (≤8 trials — never a row-level rank). ----
    QueryDef(
      "q283_negative_sampling",
      s"""WITH pairs AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cust AS (SELECT c_custkey,
        |           CAST(row_number() OVER (ORDER BY c_custkey) - 1
        |             AS BIGINT) AS rk
        |         FROM customer),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cust),
        |sup AS (SELECT DISTINCT s FROM pairs),
        |cand AS (SELECT sup.s, t.t,
        |           ${OracleSql.md5Long("CAST(sup.s AS STRING) || '|' || CAST(t.t AS STRING) || '|negsamp'")}
        |             % nc.nc AS rk
        |         FROM sup CROSS JOIN nc
        |         CROSS JOIN (SELECT unnest(range(0, 8)) AS t) t),
        |cc AS (SELECT cand.s, cand.t, cust.c_custkey AS cand_c
        |       FROM cand JOIN cust ON cust.rk = cand.rk),
        |nonedge AS (SELECT cc.s, cc.t, cc.cand_c
        |            FROM cc LEFT JOIN pairs
        |              ON pairs.s = cc.s AND pairs.c = cc.cand_c
        |            WHERE pairs.s IS NULL),
        |pick AS (SELECT s,
        |           (list_sort(list({'t': t, 'cc': cand_c})))[1].cc AS neg1,
        |           CASE WHEN count(*) >= 2
        |             THEN (list_sort(list({'t': t, 'cc': cand_c})))[2].cc
        |             END AS neg2,
        |           CAST(count(*) AS BIGINT) AS n_nonedge_trials
        |         FROM nonedge GROUP BY s)
        |SELECT s AS suppkey, neg1, neg2, n_nonedge_trials
        |FROM pick ORDER BY suppkey""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("c"))
        .distinct()
        .localCheckpoint() // supplier universe + the anti-join target
      val cust = Scale.globalRank(
        Tables.customer(s, dir).select("c_custkey"), "rk1", "c_custkey")
        .select(col("c_custkey"), (col("rk1") - 1).as("rk"))
      val nc = cust.agg(count(lit(1)).as("nc"))
      val sup = pairs.select("s").distinct()
      val cand = sup.crossJoin(broadcast(nc))
        .crossJoin(broadcast(s.range(0, 8).select(col("id").as("t"))))
        .select(col("s"), col("t"),
          pmod(TextAnalysis.md5Long(concat(col("s").cast("string"), lit("|"),
            col("t").cast("string"), lit("|negsamp"))), col("nc")).as("rk"))
      val cc = cand.join(cust, "rk")
        .select(col("s"), col("t"), col("c_custkey").as("cand_c"))
      val nonedge = cc.join(pairs,
          cc("s") === pairs("s") && cc("cand_c") === pairs("c"), "left_anti")
      nonedge.groupBy("s")
        .agg(sort_array(collect_list(struct(col("t"), col("cand_c"))))
            .as("lst"),
          count(lit(1)).as("n_nonedge_trials"))
        .select(col("s").as("suppkey"),
          element_at(col("lst"), 1).getField("cand_c").as("neg1"),
          when(size(col("lst")) >= 2,
            element_at(col("lst"), 2).getField("cand_c")).as("neg2"),
          col("n_nonedge_trials"))
        .orderBy("suppkey")
    }.copy(headline = true), // sweep slow-tail promotion (round 7, tier 2)

    // ---- hard-negative mining (q284): for each probe vector, the most
    //      similar SAME-label neighbor (the positive) and the most
    //      similar DIFFERENT-label neighbor (the hard negative) with
    //      the contrastive margin between them — the triplet-builder
    //      every embedding-training pipeline runs. Composes
    //      [[Similarity.bruteForceTopK]]'s pre-cosine `keep` hook
    //      twice over one broadcast probe set; micro-rounded cosines. ----
    QueryDef(
      "q284_hard_negatives",
      s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
        |             embedding AS q_embedding
        |           FROM embeddings WHERE vec_id < 5),
        |sims AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
        |         q.q_label,
        |         ${cosineSql("q.q_embedding", "e.embedding")} AS sim
        |  FROM embeddings e JOIN q ON q.query_id <> e.vec_id),
        |pos AS (SELECT query_id, neighbor_id, sim,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, neighbor_id) AS rn
        |        FROM sims WHERE label = q_label),
        |neg AS (SELECT query_id, neighbor_id, sim,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, neighbor_id) AS rn
        |        FROM sims WHERE label <> q_label)
        |SELECT p.query_id, p.neighbor_id AS pos_id,
        |       CAST(round(1000000 * p.sim) AS BIGINT) AS pos_sim_micro,
        |       g.neighbor_id AS neg_id,
        |       CAST(round(1000000 * g.sim) AS BIGINT) AS neg_sim_micro,
        |       CAST(round(1000000 * p.sim) - round(1000000 * g.sim)
        |         AS BIGINT) AS margin_micro
        |FROM pos p JOIN neg g ON g.query_id = p.query_id
        |WHERE p.rn = 1 AND g.rn = 1
        |ORDER BY p.query_id""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("q_embedding"))
      def top1(keep: org.apache.spark.sql.Column, out: String): DataFrame =
        Similarity.bruteForceTopK(e, probes, k = 1, keep = keep)
          .select(col("query_id"), col("neighbor_id").as(s"${out}_id"),
            round(lit(1000000d) * col("sim")).cast("long")
              .as(s"${out}_sim_micro"))
      val pos = top1(col("label") === col("q_label"), "pos")
      val neg = top1(col("label") =!= col("q_label"), "neg")
      pos.join(neg, "query_id")
        .select(col("query_id"), col("pos_id"), col("pos_sim_micro"),
          col("neg_id"), col("neg_sim_micro"),
          (col("pos_sim_micro") - col("neg_sim_micro")).as("margin_micro"))
        .orderBy("query_id")
    },

    // ---- context-window packing report (q285): concat-then-chunk the
    //      corpus (doc_id order) into 2048-token windows and report
    //      what training actually sees — windows, docs straddling a
    //      boundary, tail padding, and utilization — the numbers that
    //      decide between padding, packing and truncation strategies.
    //      One token-count scan + ONE Scale prefix sum gives every
    //      doc's [start, end) in the token stream; a doc straddles iff
    //      start div W < (end−1) div W; all stats close in one
    //      aggregate. ----
    QueryDef(
      "q285_packing_report",
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS w
        |  FROM documents WHERE len($toksSql) >= 1),
        |c AS (SELECT doc_id, w,
        |        sum(w) OVER (ORDER BY doc_id) AS cum
        |      FROM d),
        |spans AS (SELECT doc_id, w, cum - w AS lo, cum - 1 AS hi
        |          FROM c),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(w) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN lo // 2048 <> hi // 2048
        |                 THEN 1 ELSE 0 END) AS BIGINT) AS straddlers
        |      FROM spans)
        |SELECT n_docs, n_tokens,
        |       (n_tokens + 2047) // 2048 AS n_windows,
        |       straddlers,
        |       ((n_tokens + 2047) // 2048) * 2048 - n_tokens
        |         AS tail_pad_tokens,
        |       (1000000 * n_tokens) // (((n_tokens + 2047) // 2048) * 2048)
        |         AS utilization_ppm
        |FROM g""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("w"))
        .filter(col("w") >= 1)
      val c = Scale.scan(d, Seq("doc_id"), Scale.Sum("w", "cum"))._1
      val g = c.select(col("w"), (col("cum") - col("w")).as("lo"),
          (col("cum") - 1).as("hi"))
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_tokens"),
          sum(when(expr("lo div 2048") =!= expr("hi div 2048"), 1L)
            .otherwise(0L)).as("straddlers"))
      g.select(col("n_docs"), col("n_tokens"),
        expr("(n_tokens + 2047) div 2048").as("n_windows"),
        col("straddlers"),
        expr("((n_tokens + 2047) div 2048) * 2048 - n_tokens")
          .as("tail_pad_tokens"),
        expr("(1000000 * n_tokens) div (((n_tokens + 2047) div 2048) * 2048)")
          .as("utilization_ppm"))
    },

    // ---- LSH tuning report (q286): recall vs candidate surface as
    //      bits-per-band grows — the table that SIZES the hyperplane
    //      knobs (SCALE.md's emb-lsh probe measured 45× wall when this
    //      knob lags the corpus). Two configs over the planted-chain
    //      corpus (5 chains x 4 ground-truth adjacent pairs at cos 10°): the
    //      7-bit q243 sizing vs the 11-bit rule-sized width that
    //      per-band Long buckets newly allow. Per config: Σ C(m,2)
    //      candidate surface from the bucket occupancy (one aggregate —
    //      the pair explode is never materialized for counting),
    //      verified pairs, and planted recall. ----
    QueryDef(
      "q286_lsh_tuning", {
        def block(np: Int, sfx: String): String = {
          val bx = (0 until 8)
            .map(k => s"SELECT vec_id, $k AS band, b$k AS bucket FROM bk$sfx")
            .mkString("\n      UNION ALL ")
          s"""${sigCtes(np, sfx)},
             |bx$sfx AS ($bx),
             |bc$sfx AS (SELECT band, bucket, CAST(count(*) AS BIGINT) AS m
             |           FROM bx$sfx GROUP BY band, bucket),
             |cand$sfx AS (SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0)
             |               AS BIGINT) AS cands
             |             FROM bc$sfx WHERE m BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
             |live$sfx AS (SELECT band, bucket FROM bc$sfx
             |             WHERE m BETWEEN 2 AND ${Dedup.DefaultMaxBucket}),
             |bl$sfx AS (SELECT bx$sfx.* FROM bx$sfx
             |           JOIN live$sfx USING (band, bucket)),
             |cp$sfx AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             |           FROM bl$sfx a JOIN bl$sfx b
             |             ON a.band = b.band AND a.bucket = b.bucket
             |            AND a.vec_id < b.vec_id),
             |pr$sfx AS (
             |  SELECT id_a, id_b FROM cp$sfx
             |  JOIN uni ua ON ua.vec_id = cp$sfx.id_a
             |  JOIN uni ub ON ub.vec_id = cp$sfx.id_b
             |  WHERE ${cosineSql("ua.embedding", "ub.embedding")} >= 0.966),
             |row$sfx AS (
             |  SELECT CAST($np AS BIGINT) AS n_planes,
             |         CAST(${np / 8} AS BIGINT) AS bits_per_band,
             |         (SELECT cands FROM cand$sfx) AS candidate_pairs,
             |         CAST(count(*) AS BIGINT) AS verified_pairs,
             |         CAST(sum(CASE WHEN id_a >= 2000000
             |                  AND id_b = id_a + 1 AND id_a % 10 <= 8
             |                  THEN 1 ELSE 0 END) AS BIGINT)
             |           AS planted_found
             |  FROM pr$sfx)""".stripMargin
        }
        s"""WITH $dbscanUniCtes,
           |${block(56, "_a")},
           |${block(88, "_b")}
           |SELECT n_planes, bits_per_band, candidate_pairs, verified_pairs,
           |       planted_found,
           |       (1000 * planted_found) // ${5 * (chainAngles.size - 1)}
           |         AS planted_recall_milli
           |FROM (SELECT * FROM row_a UNION ALL SELECT * FROM row_b)
           |ORDER BY n_planes""".stripMargin
      }) { (s, dir) =>
      val uni = dbscanUni(s, dir)
      val rows = Seq(56, 88).map { np =>
        // ONE signature + gather pass per width, shared via EXCHANGE
        // REUSE (guide §2.4), not a pin: the occupancy aggregate
        // (candidate surface) and pair generation previously each ran
        // the full hyperplane pipeline over the corpus — 56/88 dot
        // products per vector, twice per width. Both consumers below
        // read the SAME (band, bucket) gather exchange (identical
        // subtree → ReusedExchange), so the signature pass and the
        // member-gather shuffle run once per width while the two
        // widths' subtrees still evaluate in parallel inside the one
        // job — an explicit localCheckpoint pin was measured SLOWER
        // (2.58 vs 2.33 s mean ABBA) exactly because its eager
        // materialization serializes the widths that the lazy plan
        // overlaps. Occupancy m = size(members) under the identical
        // BETWEEN(2, DefaultMaxBucket) guard — the same multiset the former
        // count(*) aggregate produced.
        val buckets = Dedup.gatherBuckets(Similarity.hyperplaneBuckets(uni, np, 8)
          .select(col("vec_id").as("id"), col("band"), col("bucket")), col("id"))
        val cand = buckets
          .select(size(col("members")).cast("long").as("m"))
          .agg(coalesce(
            sum(expr("m * (m - 1) div 2")), lit(0L)).as("candidate_pairs"))
        val pr = Similarity.nearDupsFromBuckets(buckets, uni, threshold = 0.966)
        val agg = pr.agg(count(lit(1)).as("verified_pairs"),
          sum(when(col("id_a") >= 2000000L &&
            col("id_b") === col("id_a") + 1 && col("id_a") % 10 <= 8, 1L)
            .otherwise(0L)).as("planted_found"))
        agg.crossJoin(broadcast(cand))
          .select(lit(np.toLong).as("n_planes"),
            lit((np / 8).toLong).as("bits_per_band"),
            col("candidate_pairs"), col("verified_pairs"),
            col("planted_found"),
            expr(s"(1000 * planted_found) div ${5 * (chainAngles.size - 1)}")
              .as("planted_recall_milli"))
      }
      rows.reduce(_ unionByName _).orderBy("n_planes")
    }.copy(headline = true), // sweep slow-tail promotion (round 7, tier 2)

    // ---- partitioning-key skew audit (q287): will keying the shuffle
    //      on this column balance 32 reducers — the pre-flight every
    //      repartition/bucketing decision owes the cluster. Hashes
    //      o_custkey into 32 shards (the engine's md5 discipline, so
    //      the audit is engine-portable), reports per-shard row/value
    //      mass, the max/mean skew in ppm, and the hottest raw key per
    //      shard (hot-key attribution via max(struct)). ----
    QueryDef(
      "q287_shard_skew",
      s"""WITH o AS (
        |  SELECT o_custkey AS k,
        |         CAST(round(100 * o_totalprice) AS BIGINT) AS cents
        |  FROM orders),
        |kc AS (SELECT k, CAST(count(*) AS BIGINT) AS kn,
        |         CAST(sum(cents) AS BIGINT) AS kcents
        |       FROM o GROUP BY k),
        |sh AS (SELECT ${OracleSql.md5Long("CAST(k AS STRING) || '|shard'")} % 32 AS shard,
        |         k, kn, kcents
        |       FROM kc),
        |g AS (SELECT shard, CAST(sum(kn) AS BIGINT) AS rows_,
        |        CAST(sum(kcents) AS BIGINT) AS cents,
        |        CAST(count(*) AS BIGINT) AS n_keys,
        |        max(struct_pack(kn := kn, k := k)) AS hot
        |      FROM sh GROUP BY shard),
        |tot AS (SELECT CAST(sum(rows_) AS BIGINT) AS trows FROM g)
        |SELECT shard, rows_ AS n_rows, cents, n_keys,
        |       hot.k AS hottest_key, hot.kn AS hottest_rows,
        |       (32000000 * rows_) // trows AS load_ppm
        |FROM g CROSS JOIN tot ORDER BY shard""".stripMargin) { (s, dir) =>
      val kc = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"),
          round(lit(100d) * col("o_totalprice")).cast("long").as("cents"))
        .groupBy("k")
        .agg(count(lit(1)).as("kn"), sum("cents").as("kcents"))
      val sh = kc.select(
        pmod(TextAnalysis.md5Long(concat(col("k").cast("string"),
          lit("|shard"))), lit(32L)).as("shard"),
        col("k"), col("kn"), col("kcents"))
      val g = sh.groupBy("shard")
        .agg(sum("kn").as("n_rows"), sum("kcents").as("cents"),
          count(lit(1)).as("n_keys"),
          max(struct(col("kn"), col("k"))).as("hot"))
        .localCheckpoint() // 32 rows; total + output read it
      val tot = g.agg(sum("n_rows").as("trows"))
      g.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_rows"), col("cents"), col("n_keys"),
          col("hot.k").as("hottest_key"), col("hot.kn").as("hottest_rows"),
          expr("(32000000 * n_rows) div trows").as("load_ppm"))
        .orderBy("shard")
    }
  )

  /** q259's per-present-token JS term — ONE expression string evaluated
    * by BOTH engines over columns (c_s, ns, c_q, n): ½(p·ln(2p/(p+q)) +
    * q·ln(2q/(p+q))) in pico units, per-term rounded so the summed
    * BIGINT is order-free. p = c_s/ns > 0 and q = c_q/n ≥ p·ns/n > 0 on
    * every present row, so no ln(0) branch is reachable. */
  private def jsdTermSql: String =
    """CAST(round(1000000000000 * (
      |  (CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))
      |    * ln(2 * (CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))
      |         / ((CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))
      |            + (CAST(c_q AS DOUBLE) / CAST(n AS DOUBLE))))
      |  + (CAST(c_q AS DOUBLE) / CAST(n AS DOUBLE))
      |    * ln(2 * (CAST(c_q AS DOUBLE) / CAST(n AS DOUBLE))
      |         / ((CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))
      |            + (CAST(c_q AS DOUBLE) / CAST(n AS DOUBLE))))
      |) / 2) AS BIGINT)""".stripMargin

  /** q259's absent-token closure over (cov, n): every corpus token the
    * source lacks contributes q·ln 2/2 and nothing else, so the whole
    * absent tail is ln 2·(1 − cov/n)/2 — exact from the covered count,
    * no anti-join. */
  private def jsdAbsentSql: String =
    """CAST(round(1000000000000 * ln(2)
      |  * (1 - CAST(cov AS DOUBLE) / CAST(n AS DOUBLE)) / 2) AS BIGINT)""".stripMargin

  /** Benford expected share of digit d in ppm — log10(1 + 1/d) via the
    * same ln quotient on both engines. */
  private def benfordExpPpmSql: String =
    """CAST(round(1000000 * ln(1 + 1.0 / CAST(digit AS DOUBLE))
      |  / ln(10.0)) AS BIGINT)""".stripMargin

  /** q267's population std of n_chars in micro over (nh, sx, sxx):
    * σ = √(n·Σx² − (Σx)²)/n, one shared double expression (q212: sqrt
    * and ±×÷ are correctly-rounded IEEE in both engines). */
  private def stdMicroSql: String =
    """CAST(round(1000000
      |  * sqrt(CAST(nh AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |  / CAST(nh AS DOUBLE)) AS BIGINT)""".stripMargin

  /** q268's per-token entropy term −p·ln p in pico over (c_s, ns). */
  private def entropyTermSql: String =
    """CAST(round(-1000000000000
      |  * (CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))
      |  * ln(CAST(c_s AS DOUBLE) / CAST(ns AS DOUBLE))) AS BIGINT)""".stripMargin

  /** q268's Pielou evenness H/ln(types) in milli over (h_pico, n_types);
    * a single-type source is pinned to 0. */
  private def evennessSql: String =
    """CAST(CASE WHEN n_types <= 1 THEN 0
      |  ELSE round(CAST(h_pico AS DOUBLE)
      |    / (1000000000.0 * ln(CAST(n_types AS DOUBLE))))
      |  END AS BIGINT)""".stripMargin

  /** q276's exact chi-square df=4 upper tail in micro over (chi_micro):
    * for even df the tail is the closed form e^(−x/2)·Σ_{k<df/2}(x/2)^k/k!,
    * here e^(−x/2)(1 + x/2) — no incomplete-gamma approximation. */
  private def chi4PvalSql: String =
    """CAST(round(1000000
      |  * exp(-(CAST(chi_micro AS DOUBLE) / 1000000) / 2)
      |  * (1 + (CAST(chi_micro AS DOUBLE) / 1000000) / 2)) AS BIGINT)""".stripMargin

  /** q277's per-cell mutual-information term p·ln(p/(p_r·p_c)) in pico
    * over (o, r, c, n); observed cells only, so o ≥ 1 and ln is safe. */
  private def miTermSql: String =
    """CAST(round(1000000000000
      |  * (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |  * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |       / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))) AS BIGINT)""".stripMargin

  /** q277's joint-entropy term −p·ln p in pico over (o, n). */
  private def jointEntTermSql: String =
    """CAST(round(-1000000000000
      |  * (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |  * ln(CAST(o AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)""".stripMargin

  /** q278's continuity-corrected Mann–Kendall z in milli over
    * (s, n, tc): var = (n(n−1)(2n+5) − tc)/18, z = (S ∓ 1)/σ, pinned to
    * 0 at S = 0 or σ = 0. */
  private def mkZSql: String =
    """CAST(CASE
      |  WHEN s = 0 OR n * (n - 1) * (2 * n + 5) - tc <= 0 THEN 0
      |  ELSE round(1000
      |    * (CAST(s AS DOUBLE) - (CASE WHEN s > 0 THEN 1 ELSE -1 END))
      |    / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
      |            - CAST(tc AS DOUBLE)) / 18.0))
      |  END AS BIGINT)""".stripMargin

  /** q281's assortativity r in milli over the DECIMAL moment columns
    * (m, sj, sk, sjk, sjj, skk): Pearson over the edge list, numerator
    * and both variance factors through correctly-rounded
    * DECIMAL→DOUBLE casts; degenerate variance pins to 0. */
  private def assortSql: String =
    """CAST(CASE
      |  WHEN m * sjj - sj * sj = 0 OR m * skk - sk * sk = 0 THEN 0
      |  ELSE round(1000
      |    * CAST(m * sjk - sj * sk AS DOUBLE)
      |    / (sqrt(CAST(m * sjj - sj * sj AS DOUBLE))
      |       * sqrt(CAST(m * skk - sk * sk AS DOUBLE))))
      |  END AS BIGINT)""".stripMargin

  /** q282's CUPED θ = cov(x,y)/var(x) in micro over the moment columns;
    * zero pre-period variance pins to 0. */
  private def cupedThetaSql: String =
    """CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
      |  ELSE round(1000000
      |    * CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE))
      |  END AS BIGINT)""".stripMargin

  /** q282's achievable variance reduction ρ² in ppm over the moments;
    * either variance zero pins to 0. */
  private def cupedRho2Sql: String =
    """CAST(CASE
      |  WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0
      |  ELSE round(1000000
      |    * (CAST(n * sxy - sx * sy AS DOUBLE)
      |       * CAST(n * sxy - sx * sy AS DOUBLE))
      |    / (CAST(n * sxx - sx * sx AS DOUBLE)
      |       * CAST(n * syy - sy * sy AS DOUBLE)))
      |  END AS BIGINT)""".stripMargin

  /** q274's Efraimidis–Spirakis key ln(u)/w in pico over (hv, w), with
    * u = (hv+1)/(2⁵²+1) ∈ (0,1] so ln never sees 0; maximizing this key
    * is exactly maximizing u^(1/w). */
  private def aesKeySql: String =
    """CAST(round(1000000000000
      |  * ln((CAST(hv AS DOUBLE) + 1) / 4503599627370497.0)
      |  / CAST(w AS DOUBLE)) AS BIGINT)""".stripMargin

  /** q271's cosine-to-centroid in micro over (dot, sxx, smm); degenerate
    * zero-norm sides pinned to 0. */
  private def cosMicroSql: String =
    """CAST(CASE WHEN sxx = 0 OR smm = 0 THEN 0
      |  ELSE round(1000000 * CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(smm AS DOUBLE))))
      |  END AS BIGINT)""".stripMargin

  /** q272's McNemar χ² in micro over the disagreement counts (bd, cd);
    * no disagreements pins to 0. */
  private def mcnemarSql: String =
    """CAST(CASE WHEN bd + cd = 0 THEN 0
      |  ELSE round(1000000
      |    * ((CAST(bd AS DOUBLE) - CAST(cd AS DOUBLE))
      |       * (CAST(bd AS DOUBLE) - CAST(cd AS DOUBLE)))
      |    / (CAST(bd AS DOUBLE) + CAST(cd AS DOUBLE)))
      |  END AS BIGINT)""".stripMargin

  /** q265's tau-b closed form in milli over (conc, disc, n0, ta, tb) —
    * one shared expression; zero denominator (all pairs tied on an
    * axis) pinned to 0. */
  private def tauBSql: String =
    """CAST(CASE WHEN n0 = ta OR n0 = tb THEN 0
      |  ELSE round(1000 * (CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
      |    / sqrt((CAST(n0 AS DOUBLE) - CAST(ta AS DOUBLE))
      |           * (CAST(n0 AS DOUBLE) - CAST(tb AS DOUBLE))))
      |  END AS BIGINT)""".stripMargin

  /** q263's per-cell chi-square contribution in micro over (observed,
    * r, c, n): (o − rc/n)²/(rc/n), deviation squared by explicit
    * self-multiplication; shared verbatim between engines. */
  private def chisqCellSql: String =
    """CAST(round(1000000 *
      |  ((CAST(observed AS DOUBLE)
      |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |   * (CAST(observed AS DOUBLE)
      |    - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
      |  / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
      |  AS BIGINT)""".stripMargin

  /** Benford chi-square contribution of one digit in micro over
    * (observed, n, digit): (obs − n·p)²/(n·p), the deviation squared by
    * explicit self-multiplication (pow() implementations may differ;
    * x*x is one IEEE multiply on both engines). */
  private def benfordChiSql: String =
    """CAST(round(1000000 *
      |  ((CAST(observed AS DOUBLE) - CAST(n AS DOUBLE)
      |     * (ln(1 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |   * (CAST(observed AS DOUBLE) - CAST(n AS DOUBLE)
      |     * (ln(1 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))))
      |  / (CAST(n AS DOUBLE)
      |     * (ln(1 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))) AS BIGINT)""".stripMargin

  /** The Kneser–Ney per-bigram log-prob CASE — ONE expression string
    * evaluated by BOTH engines (Spark expr() and the DuckDB oracle), so
    * the double arithmetic is structurally identical token for token.
    * Levels: seen bigram (discounted + interpolated), unseen bigram
    * with known context and continuation, known context only
    * (continuation floor 1/(2·types)), continuation only, full floor. */
  private def knQlnSql: String =
    """CASE
      |  WHEN c12 IS NOT NULL THEN CAST(round(1000000 * ln(
      |    (greatest(CAST(c12 AS DOUBLE) - CAST(dm AS DOUBLE) / 1000, 0.0)
      |     + (CAST(dm AS DOUBLE) / 1000) * CAST(n1p1 AS DOUBLE)
      |       * (CAST(n1pw2 AS DOUBLE) / CAST(nt AS DOUBLE)))
      |    / CAST(c1 AS DOUBLE))) AS BIGINT)
      |  WHEN c1 IS NOT NULL AND n1pw2 IS NOT NULL THEN
      |    CAST(round(1000000 * ln(
      |      ((CAST(dm AS DOUBLE) / 1000) * CAST(n1p1 AS DOUBLE)
      |       * (CAST(n1pw2 AS DOUBLE) / CAST(nt AS DOUBLE)))
      |      / CAST(c1 AS DOUBLE))) AS BIGINT)
      |  WHEN c1 IS NOT NULL THEN
      |    CAST(round(1000000 * ln(
      |      ((CAST(dm AS DOUBLE) / 1000) * CAST(n1p1 AS DOUBLE)
      |       * (1.0 / (2 * CAST(nt AS DOUBLE))))
      |      / CAST(c1 AS DOUBLE))) AS BIGINT)
      |  WHEN n1pw2 IS NOT NULL THEN CAST(round(1000000 * ln(
      |    CAST(n1pw2 AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT)
      |  ELSE CAST(round(1000000 * ln(
      |    1.0 / (2 * CAST(nt AS DOUBLE)))) AS BIGINT)
      |END""".stripMargin

  /** q252 oracle: quantized centering, the d² moment aggregation and all
    * three integer-renormalized matvecs replayed; DuckDB's floor-div is
    * sign-split back to truncation (the q190 discipline). */
  private def pcaOracleSql: String = {
    def iter(prev: String, k: Int): String =
      s"""w$k AS (SELECT m.i, sum(m.m * $prev.v) AS w
         |       FROM m JOIN $prev ON $prev.i = m.j GROUP BY m.i),
         |mx$k AS (SELECT max(abs(w)) AS mx FROM w$k),
         |v$k AS (SELECT w$k.i,
         |          CAST(CASE WHEN w >= 0
         |               THEN CAST(w * 1000000 AS HUGEINT)
         |                    // CAST(mx AS HUGEINT)
         |               ELSE -(CAST(-(w * 1000000) AS HUGEINT)
         |                      // CAST(mx AS HUGEINT)) END AS BIGINT) AS v
         |        FROM w$k CROSS JOIN mx$k)""".stripMargin
    s"""WITH ${OracleSql.quantizedCellsCtes()},
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM e),
       |mu AS (SELECT i,
       |         CASE WHEN sx >= 0 THEN sx // nn ELSE -((-sx) // nn) END
       |           AS mu
       |       FROM (SELECT i, CAST(sum(x) AS BIGINT) AS sx
       |             FROM xq GROUP BY i) CROSS JOIN n),
       |xc AS (SELECT xq.vec_id, xq.i, xq.x - mu.mu AS x
       |       FROM xq JOIN mu USING (i)),
       |m AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |         sum(CAST(a.x AS DECIMAL(38,0)) * b.x) AS m
       |  FROM xc a JOIN xc b ON a.vec_id = b.vec_id
       |  GROUP BY a.i, b.i),
       |v0 AS (SELECT i, CAST(1000000 AS BIGINT) AS v FROM mu),
       |${iter("v0", 1)},
       |${iter("v1", 2)},
       |${iter("v2", 3)}
       |SELECT CAST(i AS INT) AS dim, v AS loading_micro
       |FROM v3 ORDER BY dim""".stripMargin
  }

  /** q247 oracle: the KMV signatures, merged-k estimators and the exact
    * gram-join audit replayed value for value. */
  private def kmvOracleSql: String =
    s"""WITH t AS (
       |  SELECT source, $toksSql AS toks FROM documents
       |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
       |    AND len($toksSql) >= 3),
       |tg AS (
       |  SELECT DISTINCT source,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
       |           AS g
       |  FROM t),
       |sh AS (SELECT DISTINCT source, (${OracleSql.md5Long("g")} >> 8) AS h
       |       FROM tg),
       |rk AS (SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rr
       |       FROM sh),
       |sig AS (SELECT source, list(h ORDER BY h) AS sig
       |        FROM rk WHERE rr <= 64 GROUP BY source),
       |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
       |            a.sig AS sa, b.sig AS sb
       |          FROM sig a JOIN sig b ON a.source < b.source),
       |m AS (SELECT source_a, source_b, sa, sb,
       |        list_sort(list_distinct(list_concat(sa, sb)))[1:64] AS mg
       |      FROM pairs),
       |x AS (SELECT source_a, source_b,
       |        CAST(len(mg) AS BIGINT) AS kmin_used,
       |        CAST(len(list_filter(mg, v -> list_contains(sa, v)
       |          AND list_contains(sb, v))) AS BIGINT) AS matches,
       |        mg[len(mg)] AS maxh
       |      FROM m),
       |ex AS (SELECT a.source AS source_a, b.source AS source_b,
       |         CAST(count(*) AS BIGINT) AS inter
       |       FROM tg a JOIN tg b ON a.g = b.g AND a.source < b.source
       |       GROUP BY 1, 2),
       |cnts AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |         FROM tg GROUP BY source)
       |SELECT x.source_a, x.source_b, x.kmin_used, x.matches,
       |       CAST((1000 * x.matches) // x.kmin_used AS BIGINT)
       |         AS jacc_est_milli,
       |       CAST(CASE WHEN x.kmin_used < 64 THEN x.kmin_used
       |            ELSE ((x.kmin_used - 1) * 4503599627370496) // x.maxh
       |            END AS BIGINT) AS union_est,
       |       CAST((1000 * coalesce(ex.inter, 0))
       |            // (ca.n + cb.n - coalesce(ex.inter, 0)) AS BIGINT)
       |         AS exact_jacc_milli
       |FROM x
       |LEFT JOIN ex ON ex.source_a = x.source_a AND ex.source_b = x.source_b
       |JOIN cnts ca ON ca.source = x.source_a
       |JOIN cnts cb ON cb.source = x.source_b
       |ORDER BY x.source_a, x.source_b""".stripMargin

  /** q244 oracle: the greedy farthest-point trace unrolled (q133's MMR
    * discipline) — each step a correlated min-distance argmax with the
    * same per-center micro-quantization and vec_id tiebreak. */
  private def kcenterOracleSql: String = {
    def l2q(a: String, b: String): String =
      s"""CAST(round(1000000 * list_sum(list_transform(list_zip($a, $b),
         |  p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))))
         |  AS BIGINT)""".stripMargin
    val steps = (1 to 4).map { i =>
      val prev = s"sel${i - 1}"
      s"""s$i AS (
         |  SELECT c.vec_id, c.embedding,
         |         (SELECT min(${l2q("c.embedding", "s.embedding")})
         |          FROM $prev s) AS md
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  ORDER BY md DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id, embedding FROM $prev
         |          UNION ALL SELECT vec_id, embedding FROM s$i)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 4)
      .map(i => s"UNION ALL SELECT $i, vec_id, md FROM s$i")
      .mkString("\n")
    s"""WITH c AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |sel0 AS (SELECT vec_id, embedding FROM c WHERE vec_id = 0),
       |$steps
       |SELECT 0 AS step, vec_id, CAST(0 AS BIGINT) AS maxmin_micro
       |FROM sel0
       |$out
       |ORDER BY step""".stripMargin
  }

  /** (n, sx, sy, sxy, sxx): the least-squares moment sums of the integer
    * points (x, y) as decimal(38,0). DuckDB mirror:
    * OracleSql.regressionSumsCte. */
  private def regressionSums(p: DataFrame): DataFrame =
    p.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))

  /** (day, c): events per UTC day, day in days since the epoch. DuckDB
    * mirror: OracleSql.dailyEventCountsCte. */
  private def dailyEventCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(expr("ts div 86400000000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))

  /** The source×lang contingency table `obs` (source, lang, o), pinned
    * (it feeds its margins and the caller's cell pass), with its margins
    * `rt` (source, r) and `ct` (lang, c) and its total `nt` (n). DuckDB
    * mirror: OracleSql.contingencyCtes. */
  private def contingency(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val obs = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    (obs, obs.groupBy("source").agg(sum("o").as("r")),
      obs.groupBy("lang").agg(sum("o").as("c")), obs.agg(sum("o").as("n")))
  }

  /** (source, lang, observed, r, c): every cell of the contingency
    * table `obs` with margins `rt` and `ct`, observed = 0 where no
    * document has the pair. DuckDB mirror: OracleSql.contingencyCellsCtes. */
  private def contingencyCells(obs: DataFrame, rt: DataFrame, ct: DataFrame): DataFrame =
    rt.crossJoin(broadcast(ct))
      .join(obs, Seq("source", "lang"), "left_outer")
      .select(col("source"), col("lang"),
        coalesce(col("o"), lit(0L)).as("observed"), col("r"), col("c"))

  /** (vec_id, keys…, i, x): every embedding cell of `e` at its 1-based
    * dim i, quantized to micro-units x = round(1000000 · v). DuckDB
    * mirror: OracleSql.quantizedCellsCtes. */
  private def quantizedCells(e: DataFrame, keys: String*): DataFrame = {
    val ks = ("vec_id" +: keys).map(col)
    e.select(ks :+ posexplode(col("embedding")).as(Seq("p", "xval")): _*)
      .select(ks ++ Seq((col("p") + 1).as("i"),
        round(lit(1000000d) * col("xval").cast("double")).cast("long").as("x")): _*)
  }

  /** q243 chain geometry: angles 20°..60° in 10° steps — adjacent points
    * land at cos 10° ≈ 0.985 (≥ eps) and skip-one at cos 20° ≈ 0.940
    * (< eps), and the chain start sits ≥ 20° from the base vector A so A
    * itself stays outside eps. Values interpolate into BOTH the Spark
    * literals and the oracle SQL from the same Doubles (shortest
    * round-trip repr), so the planted floats agree bit-for-bit. */
  private def chainAngles: Seq[(Int, Double, Double)] =
    (0 until 5).map { i =>
      val a = math.toRadians(20.0 + 10.0 * i)
      (i, math.cos(a), math.sin(a))
    }

  /** q243's fixture corpus: the raw embeddings table plus five planted
    * great-circle chains (P_i = cos θ_i·A′ + sin θ_i·B′ per chain,
    * orthonormalized double math, FLOAT-cast — the q30 determinism
    * contract), localCheckpointed because the LSH pass and the label
    * join both scan it.
    */
  private[graft] def dbscanUni(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val ae = base.filter(col("vec_id") < 10 && col("vec_id") % 2 === 0)
      .select(expr("vec_id div 2").as("c"), col("embedding").as("ea"),
        (col("vec_id") + 1).as("bk_id"))
    val be = base.select(col("vec_id").as("bk_id"),
      col("embedding").as("eb"))
    // orthonormalize (A', B') per chain — operation-for-operation the
    // oracle's o1..o6 CTEs, so the FLOAT-cast planted vectors are
    // bit-identical across engines
    val o = ae.join(be, "bk_id").drop("bk_id")
      .withColumn("na", sqrt(aggregate(
        transform(col("ea"), z => z.cast("double") * z.cast("double")),
        lit(0.0), (acc, v) => acc + v)))
      .withColumn("ap", transform(col("ea"),
        z => z.cast("double") / col("na")))
      .withColumn("proj", aggregate(
        zip_with(col("ap"), col("eb"), (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("bp", zip_with(col("eb"), col("ap"),
        (x, y) => x.cast("double") - col("proj") * y))
      .withColumn("nb", sqrt(aggregate(
        transform(col("bp"), z => z * z), lit(0.0), (acc, v) => acc + v)))
      .withColumn("bq", transform(col("bp"), z => z / col("nb")))
    val angles = array(chainAngles.map { case (i, ci, si) =>
      struct(lit(i).as("i"), lit(ci).as("ci"), lit(si).as("si"))
    }: _*)
    val pts = o.select(col("c"), col("ap"), col("bq"),
        explode(angles).as("ang"))
      .select((lit(2000000L) + col("c") * 10 + col("ang.i")).as("vec_id"),
        zip_with(col("ap"), col("bq"),
          (x, y) => (col("ang.ci") * x + col("ang.si") * y).cast("float"))
          .as("embedding"))
    base.unionByName(pts).localCheckpoint()
  }

  /** 56-plane / 8-band hyperplane signature CTEs over `uni` — the
    * wider-band mirror of PipelineQueries.hyperplaneSigCtes: 128 bucket
    * values per band bound the false-candidate surface at corpus scale
    * while adjacent planted edges (cos 10°) still collide with
    * p ≈ 1 − 1.3e-4. */
  private def sig56Ctes: String = sigCtes(56, "")

  /** Parameterized hyperplane signature CTEs over `uni` — `sg$sfx` /
    * `bk$sfx` with per-band bucket columns b0..b7; the q243 oracle uses
    * the 56-plane instance, the q286 tuning report instantiates two
    * widths side by side. */
  private def sigCtes(nPlanes: Int, sfx: String): String = {
    val (bands, dim) = (8, 64)
    val rowsPerBand = nPlanes / bands
    def dSql(p: Int): String =
      (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ${Similarity.planeWeight(p, i)}")
        .mkString(" + ")
    def bSql(b: Int): String =
      (0 until rowsPerBand).map(j =>
        s"(CASE WHEN d${b * rowsPerBand + j} >= 0 THEN ${1L << j} ELSE 0 END)")
        .mkString(" + ")
    s"""sg$sfx AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |${(0 until nPlanes).map(p => s"         ${dSql(p)} AS d$p").mkString(",\n")}
       |  FROM uni),
       |bk$sfx AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |${(0 until bands).map(b => s"         ${bSql(b)} AS b$b").mkString(",\n")}
       |  FROM sg$sfx)""".stripMargin
  }

  /** The planted great-circle-chain corpus CTEs (base → pl → o1..o6 →
    * pts → uni) shared by the q243 and q286 oracles. */
  private def dbscanUniCtes: String = {
    val angleRows = chainAngles
      .map { case (i, ci, si) => s"($i, $ci, $si)" }.mkString(", ")
    s"""base AS (SELECT vec_id, embedding FROM embeddings),
       |pl AS (
       |  SELECT a.vec_id // 2 AS c, a.embedding AS ea, b.embedding AS eb
       |  FROM base a JOIN base b ON b.vec_id = a.vec_id + 1
       |  WHERE a.vec_id < 10 AND a.vec_id % 2 = 0),
       |o1 AS (SELECT c, ea, eb,
       |         sqrt(list_sum(list_transform(ea,
       |           z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE)))) AS na
       |       FROM pl),
       |o2 AS (SELECT c, eb,
       |         list_transform(ea, z -> CAST(z AS DOUBLE) / na) AS ap
       |       FROM o1),
       |o3 AS (SELECT c, eb, ap,
       |         list_sum(list_transform(list_zip(ap, eb),
       |           x -> x[1] * CAST(x[2] AS DOUBLE))) AS proj
       |       FROM o2),
       |o4 AS (SELECT c, ap,
       |         list_transform(list_zip(eb, ap),
       |           x -> CAST(x[1] AS DOUBLE) - proj * x[2]) AS bp
       |       FROM o3),
       |o5 AS (SELECT c, ap, bp,
       |         sqrt(list_sum(list_transform(bp, z -> z * z))) AS nb
       |       FROM o4),
       |o6 AS (SELECT c, ap, list_transform(bp, z -> z / nb) AS bq FROM o5),
       |ang AS (SELECT * FROM (VALUES $angleRows) t(i, ci, si)),
       |pts AS (
       |  SELECT CAST(2000000 + 10 * c + i AS BIGINT) AS vec_id,
       |         list_transform(list_zip(ap, bq),
       |           x -> CAST(ci * x[1] + si * x[2] AS FLOAT)) AS embedding
       |  FROM o6 CROSS JOIN ang),
       |uni AS (SELECT vec_id, embedding FROM base
       |        UNION ALL SELECT vec_id, embedding FROM pts)""".stripMargin
  }

  private def dbscanOracleSql: String = {
    val bx = (0 until 8)
      .map(k => s"SELECT vec_id, $k AS band, b$k AS bucket FROM bk")
      .mkString("\n      UNION ALL ")
    s"""WITH RECURSIVE $dbscanUniCtes,
       |$sig56Ctes,
       |bx AS ($bx),
       |bc AS (SELECT band, bucket, count(*) AS cbk FROM bx
       |       GROUP BY band, bucket),
       |live AS (SELECT band, bucket FROM bc WHERE cbk BETWEEN 2 AND 1000),
       |bl AS (SELECT bx.* FROM bx JOIN live USING (band, bucket)),
       |cp AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM bl a JOIN bl b
       |         ON a.band = b.band AND a.bucket = b.bucket
       |        AND a.vec_id < b.vec_id),
       |pr AS (
       |  SELECT id_a, id_b
       |  FROM cp
       |  JOIN uni ua ON ua.vec_id = cp.id_a
       |  JOIN uni ub ON ub.vec_id = cp.id_b
       |  WHERE ${cosineSql("ua.embedding", "ub.embedding")} >= 0.966),
       |ed AS (SELECT id_a AS s, id_b AS d FROM pr
       |       UNION SELECT id_b, id_a FROM pr),
       |deg AS (SELECT s AS id, count(*) AS deg FROM ed GROUP BY s),
       |core AS (SELECT id FROM deg WHERE deg >= 2),
       |ce AS (SELECT e.s, e.d FROM ed e
       |       JOIN core c1 ON e.s = c1.id JOIN core c2 ON e.d = c2.id),
       |reach(id, r) AS (
       |  SELECT s, d FROM ce
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN ce e ON reach.r = e.s),
       |cl AS (SELECT c.id, least(c.id, coalesce(min(r.r), c.id)) AS cluster
       |       FROM core c LEFT JOIN reach r ON r.id = c.id GROUP BY c.id),
       |bo AS (SELECT e.s AS id, min(cl.cluster) AS cluster
       |       FROM ed e JOIN cl ON cl.id = e.d
       |       WHERE e.s NOT IN (SELECT id FROM core)
       |       GROUP BY e.s)
       |SELECT u.vec_id,
       |       CASE WHEN cl.id IS NOT NULL THEN 'core'
       |            WHEN bo.id IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS role,
       |       CAST(coalesce(cl.cluster, bo.cluster, -1) AS BIGINT) AS cluster
       |FROM uni u
       |LEFT JOIN cl ON cl.id = u.vec_id
       |LEFT JOIN bo ON bo.id = u.vec_id
       |ORDER BY u.vec_id""".stripMargin
  }
}
