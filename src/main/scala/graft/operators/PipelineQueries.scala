package graft.operators

import graft.catalog.QueryDef
import graft.dedup.Dedup
import graft.operators.OracleSql.cosineSql
import graft.similarity.Similarity
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over documents/embeddings:
  * text analysis, dedup (exact + MinHash/SimHash + edit-distance), PII
  * redaction, decontamination, similarity search. Every entry except the
  * inherently-approximate two (IVF ANN, HLL) carries a DuckDB oracle:
  * BIT-EXACT cosine (sequential double fold on both sides), brute-force
  * exact jaccard for the LSH pipeline, portable md5-based sketch
  * replication for simhash/fingerprint.
  */
object PipelineQueries {

  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"

  /** DuckDB spelling of TextAnalysis.wsTokens. */
  private val toksSql = OracleSql.wsTokens()

  /** Pinned confusable map for q185 (UTS #39-lite): Cyrillic а с е о р
    * х у і С Е and Greek Α Β Ε Ο ο α fold to their Latin skeletons.
    * Escapes, not lookalike literals — the source must not itself be
    * spoofable.
    */
  private val homoCyr = "\u0430\u0441\u0435\u043e\u0440\u0445\u0443\u0456" +
    "\u0391\u0392\u0395\u039f\u03bf\u03b1\u0421\u0415"
  private val homoLat = "aceopxyiABEOoaCE"
  private val homoTwinTo = "\u0430\u0441\u0435\u043e" // а с е о

  /** CTE `c`: per-doc Gopher-rule counts from a relation exposing
    * (doc_id, toks) — ONE spelling shared by q131 (per-rule verdicts)
    * and q135 (corpus keep count) so the rule SQL cannot drift.
    */
  private[operators] def gopherCountsCte(from: String): String =
    s"""c AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS n_tokens,
       |         CAST(coalesce(list_sum(list_transform(toks, w -> len(w))), 0)
       |              AS BIGINT) AS word_chars,
       |         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
       |              AS BIGINT) AS alpha_words,
       |         CAST(len(list_filter(toks, w -> w IN ('#', '...', '…')))
       |              AS BIGINT) AS sym_words,
       |         CAST(len(list_filter(toks, w -> list_contains($stopwordsSql, w)))
       |              AS BIGINT) AS stop_hits
       |  FROM $from)""".stripMargin

  /** The composed Gopher keep predicate over [[gopherCountsCte]]'s
    * columns — mirrors TextAnalysis.gopherRules defaults exactly.
    */
  private[operators] val gopherKeepSql: String =
    """(n_tokens >= 40 AND n_tokens <= 100000
      |        AND word_chars >= n_tokens * 3 AND word_chars <= n_tokens * 10
      |        AND sym_words * 10 <= n_tokens
      |        AND alpha_words * 5 >= n_tokens * 4
      |        AND stop_hits >= 2)""".stripMargin

  /** CTE: the q31/q60/q65 planted-twin corpus with whitespace tokens. */
  private def twinDocsCtes(tailToken: String): String =
    s"""d AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' $tailToken'
       |  FROM documents WHERE doc_id < 10),
       |t AS (
       |  SELECT doc_id, $toksSql AS toks
       |  FROM d)""".stripMargin

  /** CTE `s`: distinct 3-shingle sets (as portable 60-bit md5 hashes,
    * mirroring Dedup.ngramJaccard's hashed intersect) from a relation
    * exposing (doc_id, toks) — mirrors
    * array_distinct(transform(TextAnalysis.shingles(_, 3), md5Long)).
    */
  private def shingle3Cte(from: String): String = shingleSetCte(from, "s")

  /** Parameterized form of [[shingle3Cte]] for oracles that need the
    * hashed-shingle sets of TWO relations (the cross-corpus join), with
    * the id column carried through under its own name.
    */
  private def shingleSetCte(
      from: String, out: String, idCol: String = "doc_id"): String =
    s"""$out AS MATERIALIZED (
       |  SELECT $idCol,
       |         list_distinct(list_transform(
       |           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |              ELSE list_transform(range(1, len(toks) - 1),
       |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END,
       |           g -> ${OracleSql.md5Long("g")})) AS sh
       |  FROM $from)""".stripMargin

  /** CTEs `h` (per-token 60-bit hashes) and `s` (the packed simhash
    * sketch) over a relation exposing (doc_id, toks) — the DuckDB mirror
    * of `Dedup.simHash`, shared by q32 and q101 so the sketch SQL cannot
    * drift between them.
    */
  private def simhash60Ctes(from: String): String =
    s"""h AS (
       |  SELECT doc_id,
       |         list_transform(toks,
       |           w -> ${OracleSql.md5Long("w")}) AS lh
       |  FROM $from),
       |s AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(range(0, 60), b ->
       |           CASE WHEN 2 * len(list_filter(lh, h -> ((h >> b) & 1) = 1)) > len(lh)
       |                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
       |  FROM h)""".stripMargin

  /** CTEs `sg` (the 16 hyperplane dot products) and `bk` (the 4
    * sign-bit band buckets) over a relation exposing (vec_id, embedding)
    * — the DuckDB mirror of `Similarity.hyperplaneBuckets` at the
    * library-default geometry (16 planes / 4 bands) for the 64-dim
    * testdata embeddings. Plane constants are baked as double literals
    * from the SAME `Similarity.planeWeight` the engine uses; the
    * unrolled left-associated sums match the Spark fold's IEEE
    * association exactly. Shared by q30 and q102 so the signature SQL
    * cannot drift.
    */
  private def hyperplaneSigCtes(
      from: String, sg: String = "sg", bk: String = "bk"): String = {
    val (nPlanes, bands, dim) = (16, 4, 64)
    val rowsPerBand = nPlanes / bands
    def dotSql(p: Int): String =
      (0 until dim).map(i =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ${Similarity.planeWeight(p, i)}")
        .mkString(" + ")
    def bucketSql(b: Int): String =
      (0 until rowsPerBand).map(j =>
        s"(CASE WHEN d${b * rowsPerBand + j} >= 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
    s"""$sg AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |${(0 until nPlanes).map(p => s"         ${dotSql(p)} AS d$p").mkString(",\n")}
       |  FROM $from),
       |$bk AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |${(0 until bands).map(b => s"         ${bucketSql(b)} AS b$b").mkString(",\n")}
       |  FROM $sg)""".stripMargin
  }

  /** CTEs `p` (all-pairs shingle overlap) and `pr` (pairs at/above the
    * rounded-jaccard threshold) — the brute-force oracle for the LSH
    * pipeline's output contract.
    */
  private def bruteJaccardCtes(threshold: String): String =
    s"""p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         len(list_intersect(a.sh, b.sh)) AS inter,
       |         len(a.sh) AS na, len(b.sh) AS nb
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id),
       |pr AS MATERIALIZED (
       |  SELECT id_a, id_b FROM p
       |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= $threshold)""".stripMargin

  /** CTEs `edges`/`reach`: undirected transitive closure of `pr` —
    * mirrors Dedup.connectedComponents. Requires WITH RECURSIVE.
    */
  private val closureCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pr
      |          UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)""".stripMargin

  /** DuckDB CTE fragments for one k-means round: quantized-exact centroid
    * means from an assignment relation (vec_id, embedding, cluster), then
    * argmin-L2 re-assignment — mirrors Similarity.kmeansLite bit-for-bit.
    */
  private def centroidCte(from: String, out: String): String =
    s"""${out}_ex AS (
       |  SELECT cluster,
       |         unnest(range(1, len(embedding) + 1)) AS i,
       |         unnest(embedding) AS val
       |  FROM $from),
       |${out}_ce AS (
       |  SELECT cluster, i,
       |         CAST(CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
       |              / 1000000 / count(*) AS FLOAT) AS v
       |  FROM ${out}_ex GROUP BY cluster, i),
       |$out AS (SELECT cluster, list(v ORDER BY i) AS centroid FROM ${out}_ce GROUP BY cluster)""".stripMargin
  private def assignCte(centRel: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, embedding, cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cluster,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${l2Sql("e.embedding", "c.centroid")} ASC, c.cluster) AS rn
       |    FROM ev e CROSS JOIN $centRel c) t
       |  WHERE rn = 1)""".stripMargin

  private[operators] val stopwordsSql = "['the','a','an','and','or','of','to','in','is','it']"
  private[operators] val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Pinned q111 artifact: `LinearModel.fitRidgeNano` over the sf0.01
    * documents corpus AS OF THE PIN DATE (2026-08-14; features
    * f_bias/f_ntok/f_stop_ppm/f_distinct_ppm, label ±1 on lang='en',
    * λ=1). Intentionally FROZEN and corpus-independent — the testdata
    * regenerates between rounds, and the contract here is the standard
    * train-once/apply-everywhere split: query and oracle score with the
    * SAME literals wherever they came from, while training correctness
    * is pinned separately (LinearModelSpec vs a sequential BigInt
    * reference). Re-pin only deliberately, updating both this array and
    * nothing else (the oracle interpolates it).
    */
  private[operators] val q111Weights: Array[Long] =
    Array(-280188027L, 18465L, 1357L, 136L)

  /** DuckDB replay of `bpeSegment(w, pinnedMerges)` for a lambda var
    * `w`: the wrapped-symbol string form (each symbol as ␁sym␁; one
    * merge = one non-overlapping left-to-right replace), shared by the
    * q108 segmentation oracle and the q140 fertility oracle. Yields the
    * segmented-symbol string; split on ␁␁ after trimming ␁ to get the
    * symbol list.
    */
  private val bpeSegmentChainSql: String = {
    val sep = "chr(1)"
    val wrapped = s"regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g')"
    TextAnalysis.pinnedMerges.foldLeft(wrapped) {
      case (e, (l, r)) =>
        s"replace($e, $sep || '$l' || $sep || $sep || '$r' || $sep, $sep || '$l$r' || $sep)"
    }
  }

  /** DuckDB SQL mirroring TextAnalysis.langId / qualityScore /
    * bpeIshTokenCount, generated from the SAME profiles (see q33).
    */
  private def langIdQualityOracleSql: String = {
    def scoreSql(markers: Seq[String]): String =
      markers.map { m =>
        val esc = m.replace("'", "''")
        s"(length(p) - length(replace(p, '$esc', ''))) / ${m.length}"
      }.mkString(" + ")
    val scoreCols = TextAnalysis.langMarkers.map { case (lang, ms) =>
      s"${scoreSql(ms)} AS s_$lang"
    }.mkString(",\n         ")
    val langNames = TextAnalysis.langMarkers.map(_._1)
    val greatest = s"greatest(${langNames.map("s_" + _).mkString(", ")})"
    // first language (profile order) reaching the maximum wins ties —
    // same as the strictly-greater fold in TextAnalysis.langId
    val argmax = langNames.map(l => s"WHEN s_$l = g THEN '$l'").mkString(" ")
    val allStops = TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (
       |  SELECT doc_id, lang AS labeled_lang, text,
       |         ' ' || lower(text) || ' ' AS p,
       |         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
       |  FROM documents),
       |s AS (
       |  SELECT *, $scoreCols
       |  FROM t),
       |g AS (SELECT *, $greatest AS g FROM s),
       |q AS (
       |  SELECT *,
       |    least(len(toks) / 100.0, 1.0) AS len_score,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE (length(text) - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))
       |              * 1.0 / length(text) END AS punct_ratio,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(toks, w -> list_contains($allStops, w))) AS DOUBLE)
       |              / len(toks) END AS stop_ratio
       |  FROM g)
       |SELECT doc_id, labeled_lang,
       |       CASE WHEN g <= 0 THEN 'und' $argmax END AS guessed_lang,
       |       round(len_score * 0.4 + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.4
       |             + least(stop_ratio * 5.0, 1.0) * 0.2, 4) AS quality,
       |       CAST(list_sum(list_transform(toks,
       |            w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
       |FROM q
       |ORDER BY doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- text analysis: token stats per language ----
    QueryDef(
      "q26_token_stats",
      // avg_word_len is an avg of per-row doubles → quantized to 1e-6 per
      // row (Exact.fix) so the sum is an exact long, order-independent.
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |       round(CAST(sum(CAST(round(CAST(list_sum(list_transform(string_split(text, ' '),
        |             w -> length(w))) AS DOUBLE)
        |             / len(string_split(text, ' ')) * 1000000) AS BIGINT)) AS DOUBLE)
        |             / 1000000 / count(*), 4) AS avg_word_len
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val mwl = aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(toks).cast("double")
      Tables.documents(s, dir)
        .select(col("lang"), size(toks).as("n_tok"), Exact.fix(mwl, 6).as("mwl_q"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_tok").as("total_tokens"),
             round(avg("n_tok"), 4).as("avg_tokens"),
             round(sum("mwl_q").cast("double") / 1000000 / count(lit(1)), 4).as("avg_word_len"))
        .orderBy("lang")
    },

    // ---- text analysis: per-doc quality metrics ----
    QueryDef(
      "q27_quality",
      s"""SELECT doc_id,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       round(CAST(len(list_filter(string_split(text, ' '),
         |             w -> list_contains($stopwordsSql, w))) AS DOUBLE)
         |             / len(string_split(text, ' ')), 4) AS stop_ratio
         |FROM documents
         |WHERE doc_id < 200
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          round(size(filter(toks, w => w.isin(stopwords: _*))).cast("double") /
            size(toks).cast("double"), 4).as("stop_ratio"))
        .orderBy("doc_id")
    },

    // ---- exact dedup groups (content digest) ----
    QueryDef(
      "q28_dedup_exact",
      """SELECT md5(text)   AS fp,
        |       min(doc_id) AS keep_id,
        |       count(*)    AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY fp""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)).orderBy("fp")
    }.copy(headline = true),

    // ---- similarity search: exact brute-force cosine top-10 ----
    QueryDef(
      "q29_ann_topk",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_embedding
         |           FROM embeddings WHERE vec_id < 5),
         |sims AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${cosineSql("q.q_embedding", "e.embedding")} AS sim
         |  FROM embeddings e JOIN q ON q.query_id <> e.vec_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM sims) t
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }.copy(headline = true),

    // ---- embedding near-dup: planted twins found above threshold.
    //      The oracle replays the FULL guarded LSH contract, not just
    //      the brute-force answer: it recomputes the 16 hyperplane
    //      sign-bit signatures from the SAME MurmurHash-derived plane
    //      constants (Similarity.planeWeight, baked into the SQL as
    //      double literals; unrolled left-associated sums match the
    //      Spark fold's IEEE association exactly), counts members per
    //      (band, bucket), and admits a pair only through a band whose
    //      bucket holds ≤ maxBucket members — so the VERIFIED
    //      configuration is the skew-guarded library default, and a
    //      recall loss from either banding or the cap would hash-fail
    //      rather than hide behind a cap-free escape hatch. ----
    QueryDef(
      "q30_embedding_neardup", {
        val maxBucket = 1000
        val bandCond = (0 until 4).map(k =>
          s"""(a.b$k = b.b$k AND EXISTS (
             |     SELECT 1 FROM live WHERE band = $k AND bucket = a.b$k))""".stripMargin)
          .mkString("\n   OR ")
        s"""WITH twins AS (
           |  SELECT vec_id + 1000000 AS vec_id,
           |         list_transform(embedding,
           |           x -> CAST(CAST(x AS DOUBLE) * 1.01 + 0.005 AS FLOAT)) AS embedding
           |  FROM embeddings WHERE vec_id < 30),
           |uni AS (SELECT vec_id, embedding FROM embeddings
           |        UNION ALL SELECT vec_id, embedding FROM twins),
           |${hyperplaneSigCtes("uni")},
           |bc AS (
           |  SELECT band, bucket, count(*) AS c FROM (
           |    SELECT 0 AS band, b0 AS bucket FROM bk
           |    UNION ALL SELECT 1, b1 FROM bk
           |    UNION ALL SELECT 2, b2 FROM bk
           |    UNION ALL SELECT 3, b3 FROM bk)
           |  GROUP BY band, bucket),
           |live AS (SELECT band, bucket FROM bc WHERE c BETWEEN 2 AND $maxBucket),
           |pairs AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         ${cosineSql("a.embedding", "b.embedding")} AS sim
           |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id
           |  WHERE $bandCond)
           |SELECT id_a, id_b, round(sim, 8) AS sim
           |FROM pairs
           |WHERE sim >= 0.99
           |ORDER BY id_a, id_b""".stripMargin
      }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * 1.01 + 0.005).cast("float")).as("embedding"))
      val uni = emb.union(twins)
      // library-default maxBucket: the guard IS part of the verified
      // semantics (the oracle models the same cap)
      Similarity.embeddingNearDups(uni, threshold = 0.99)
        .select(col("id_a"), col("id_b"), round(col("sim"), 8).as("sim"))
        .orderBy("id_a", "id_b")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- MinHash-LSH near-dup, checked against the exact brute-force
    //      O(n²) jaccard oracle: LSH is candidate GENERATION, the output
    //      contract is "all pairs with 3-shingle jaccard ≥ t". With H=96
    //      in 32×3 banding the pipeline reproduces the brute-force answer
    //      deterministically at this corpus' similarity margins (all
    //      sf0.01 near-dup pairs sit at j ≥ 0.9 → miss prob ~1e-18; see
    //      Dedup.nearDupPairs recall budget). The oracle pays n² only at
    //      oracle scale; the engine never does. ----
    QueryDef(
      "q31_minhash_neardup",
      s"""WITH ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")}
         |SELECT id_a, id_b,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
         |FROM p
         |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // plant near-duplicates: first 10 docs re-appear with one word changed
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      Dedup.nearDupPairs(docs.union(twins), threshold = 0.7)
        .orderBy("id_a", "id_b")
    }.copy(headline = true),

    // ---- WEIGHTED (multiset) jaccard — Σ min(cnt_a, cnt_b) / Σ max —
    //      the bag-semantics similarity the set-based paths above ignore
    //      (a doc repeating one token 100× is very unlike one mentioning
    //      it once; set jaccard can't see that). Spark side scores pairs
    //      with map_zip_with over token-count maps; all arithmetic is
    //      integer (den = Σa + Σb − num), so basis points hash-match.
    //      Pairs = the planted twins, scored directly (candidate
    //      generation is q31/q91's job; this is the scorer). ----
    QueryDef(
      "q97_weighted_jaccard",
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 10 AND len($toksSql) >= 8),
         |tw AS (
         |  SELECT doc_id, toks[4:] || toks[4:8] AS toks FROM d),
         |ga AS (SELECT doc_id, unnest(toks) AS t FROM d),
         |gb AS (SELECT doc_id, unnest(toks) AS t FROM tw),
         |ca AS (SELECT doc_id, t, count(*) AS c FROM ga GROUP BY 1, 2),
         |cb AS (SELECT doc_id, t, count(*) AS c FROM gb GROUP BY 1, 2),
         |num AS (
         |  SELECT ca.doc_id, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS inter_w
         |  FROM ca JOIN cb ON ca.doc_id = cb.doc_id AND ca.t = cb.t
         |  GROUP BY ca.doc_id),
         |tot AS (
         |  SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_a,
         |         CAST(len(tw.toks) AS BIGINT) AS n_b
         |  FROM d JOIN tw ON d.doc_id = tw.doc_id)
         |SELECT t.doc_id, t.n_a, t.n_b, n.inter_w,
         |       CAST(10000 * n.inter_w // (t.n_a + t.n_b - n.inter_w) AS BIGINT)
         |         AS wj_bp
         |FROM tot t JOIN num n ON t.doc_id = n.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val toks = TextAnalysis.wsTokens(col("text"))
      // ≥8 tokens: the twin construction slices tokens 4..8, and a
      // shorter doc would hand slice() a negative length (runtime error
      // in Spark, silently fine in DuckDB — the worst kind of skew)
      val base = Tables.documents(s, dir).filter(col("doc_id") < 10)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 8)
      // twin: drop the first 3 tokens, duplicate tokens 4..8 — the twin
      // both loses mass and gains mass, so Σmin is non-trivial on every
      // token the twin duplicates or the base holds exclusively
      val withTwin = base.select(col("doc_id"), col("toks"),
        concat(slice(col("toks"), lit(4), size(col("toks")) - 3),
          slice(col("toks"), 4, 5)).as("toks_b"))
      // token-count maps built linearly: explode → count → map_from_entries
      def counts(tokCol: String, out: String) =
        withTwin.select(col("doc_id"), explode(col(tokCol)).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(map_from_entries(collect_list(struct(col("t"), col("c")))).as(out))
      val pairs = withTwin
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_a"),
          size(col("toks_b")).cast("long").as("n_b"))
        .join(counts("toks", "ma"), "doc_id")
        .join(counts("toks_b", "mb"), "doc_id")
      pairs.select(col("doc_id"), col("n_a"), col("n_b"),
        aggregate(map_values(map_zip_with(col("ma"), col("mb"),
            (_, x, y) => least(coalesce(x, lit(0L)), coalesce(y, lit(0L))))),
          lit(0L), (acc, x) => acc + x).as("inter_w"))
        .withColumn("wj_bp",
          expr("CAST(10000 * inter_w div (n_a + n_b - inter_w) AS BIGINT)"))
        .orderBy("doc_id")
    },

    // ---- EXACT similarity self-join (AllPairs/PPJoin prefix filter):
    //      same output contract as q31 but with no LSH recall budget —
    //      candidates come from collisions among each doc's
    //      |s|-⌈t·|s|⌉+1 globally-rarest shingles, which provably cover
    //      every pair at jaccard ≥ t. The exact path for corpora where
    //      a probabilistic miss is unacceptable (eval-set decontam,
    //      benchmark dedup). Oracle: the same brute-force n² jaccard. ----
    QueryDef(
      "q91_prefix_jaccard",
      s"""WITH ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")}
         |SELECT id_a, id_b,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
         |FROM p
         |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      Dedup.prefixFilterNearDups(docs.union(twins), threshold = 0.7)
        .orderBy("id_a", "id_b")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- EXACT all-pairs WEIGHTED jaccard JOIN (V-SMART-Join /
    //      weighted-AllPairs family): q97 SCORES known pairs under bag
    //      semantics; this one FINDS every pair with multiset jaccard
    //      ≥ 0.6 — weighted length/prefix/positional filters generate
    //      candidates (Σ prefix-df², never docs²), map_zip_with Σ min
    //      verifies exactly. Twins repeat their own head tokens, so
    //      their SET jaccard stays ≈ 1 while the MULTISET jaccard
    //      drops — the separation this operator exists to see. Subset
    //      (doc_id < 300) keeps the oracle's token-join at catalog
    //      scale; the operator is corpus-general. ----
    QueryDef(
      "q176_weighted_jaccard_join",
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 300),
         |d AS (
         |  SELECT doc_id, toks FROM base
         |  UNION ALL
         |  SELECT doc_id + 3000000, toks || toks[1:15] FROM base
         |  WHERE doc_id < 10),
         |g AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         |c AS (SELECT doc_id, ${OracleSql.md5Long("tok")} AS t,
         |             CAST(count(*) AS BIGINT) AS c
         |      FROM g GROUP BY 1, 2),
         |w AS (SELECT doc_id, sum(c) AS wt FROM c GROUP BY 1),
         |num AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(sum(least(a.c, b.c)) AS BIGINT) AS inter_w
         |  FROM c a JOIN c b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT id_a, id_b, inter_w,
         |         wa.wt AS wa, wb.wt AS wb,
         |         CAST(inter_w * 10000 // (wa.wt + wb.wt - inter_w)
         |           AS BIGINT) AS jw_bp
         |  FROM num
         |  JOIN w wa ON wa.doc_id = num.id_a
         |  JOIN w wb ON wb.doc_id = num.id_b)
         |SELECT id_a, id_b, inter_w, CAST(wa AS BIGINT) AS wa,
         |       CAST(wb AS BIGINT) AS wb, jw_bp
         |FROM j WHERE jw_bp >= 6000
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val toks = TextAnalysis.wsTokens(col("text"))
      val twins = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", concat(toks, slice(toks, 1, 15))).as("text"))
      Dedup.weightedJaccardJoin(base.union(twins), tauBp = 6000)
        .orderBy("id_a", "id_b")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- dedup cluster resolution: near-dup pairs → connected
    //      components (min-label propagation to fixpoint) — similarity is
    //      not transitive, so production dedup keeps one representative
    //      per component, not per pair. Oracle: the same brute-force pair
    //      set closed transitively with a recursive CTE. ----
    QueryDef(
      "q60_dedup_clusters",
      s"""WITH RECURSIVE ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes
         |SELECT id AS doc_id, least(id, min(r)) AS cluster_id
         |FROM reach
         |GROUP BY id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      val pairs = Dedup.nearDupPairs(docs.union(twins), threshold = 0.7)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- dedup observability: the cluster-SIZE distribution — how many
    //      near-dup clusters exist at each size and how many docs dedup
    //      would drop (Σ size−1 per cluster) — the number a pipeline
    //      owner reads before paying for the dedup pass. Composes the
    //      q60 clustering; two tiny aggs on the cluster table. ----
    QueryDef(
      "q107_dedup_report",
      s"""WITH RECURSIVE ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes,
         |cl AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(cluster_size - 1) AS BIGINT) AS docs_dropped
         |FROM sz
         |GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      val pairs = Dedup.nearDupPairs(docs.union(twins), threshold = 0.7)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs)
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size") - 1).as("docs_dropped"))
        .orderBy("cluster_size")
    }.copy(headline = true),

    // ---- SimHash sketches + near-dup distances, oracle-checked: the
    //      60-bit sketch uses the portable md5-60bit token hash, so
    //      DuckDB recomputes the identical sketches and brute-forces the
    //      pair contract (hamming ≤ 6 AND ≥1 agreeing 15-bit band). ----
    QueryDef(
      "q32_simhash_neardup",
      s"""WITH ${twinDocsCtes("planted")},
         |${simhash60Ctes("t")},
         |bc AS (
         |  SELECT band, bucket, count(*) AS c FROM (
         |    SELECT 0 AS band, (simhash >> 0)  & 32767 AS bucket FROM s
         |    UNION ALL SELECT 1, (simhash >> 15) & 32767 FROM s
         |    UNION ALL SELECT 2, (simhash >> 30) & 32767 FROM s
         |    UNION ALL SELECT 3, (simhash >> 45) & 32767 FROM s)
         |  GROUP BY band, bucket),
         |live AS (SELECT band, bucket FROM bc WHERE c BETWEEN 2 AND 1000),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dist
         |FROM p
         |WHERE dist <= 6
         |  AND ((((sa >> 0)  & 32767) = ((sb >> 0)  & 32767) AND EXISTS (
         |          SELECT 1 FROM live WHERE band = 0 AND bucket = (sa >> 0)  & 32767)) OR
         |       (((sa >> 15) & 32767) = ((sb >> 15) & 32767) AND EXISTS (
         |          SELECT 1 FROM live WHERE band = 1 AND bucket = (sa >> 15) & 32767)) OR
         |       (((sa >> 30) & 32767) = ((sb >> 30) & 32767) AND EXISTS (
         |          SELECT 1 FROM live WHERE band = 2 AND bucket = (sa >> 30) & 32767)) OR
         |       (((sa >> 45) & 32767) = ((sb >> 45) & 32767) AND EXISTS (
         |          SELECT 1 FROM live WHERE band = 3 AND bucket = (sa >> 45) & 32767)))
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" planted")).as("text"))
      // library-default maxBucket: the oracle counts members per
      // (band, bucket) and admits pairs only through buckets within the
      // cap — the verified configuration is the skew-guarded one
      Dedup.simHashNearDups(Dedup.simHash(docs.union(twins)), maxDist = 6)
        .orderBy("id_a", "id_b")
    },

    // ---- LSH bucket-occupancy report: the observability side of every
    //      maxBucket skew guard — per band, how full the buckets are and
    //      exactly what a given cap drops (buckets over cap, candidate
    //      pairs lost). A 100 TB deployment runs this BEFORE picking the
    //      cap, the way q100 sizes salting; the guard's recall trade is
    //      measured, never silent. All-integer → oracle-exact. ----
    QueryDef(
      "q101_lsh_bucket_stats",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks
         |  FROM documents),
         |${simhash60Ctes("t")},
         |b AS (
         |  SELECT band, bucket FROM (
         |    SELECT 0 AS band, (simhash >> 0)  & 32767 AS bucket FROM s
         |    UNION ALL SELECT 1, (simhash >> 15) & 32767 FROM s
         |    UNION ALL SELECT 2, (simhash >> 30) & 32767 FROM s
         |    UNION ALL SELECT 3, (simhash >> 45) & 32767 FROM s)),
         |c AS (
         |  SELECT band, bucket, count(*) AS n FROM b
         |  GROUP BY band, bucket HAVING count(*) >= 2)
         |SELECT band,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(n) AS BIGINT) AS max_bucket,
         |       CAST(sum(CASE WHEN n > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_total,
         |       CAST(sum(CASE WHEN n <= 50 THEN n * (n - 1) // 2 ELSE 0 END)
         |            AS BIGINT) AS pairs_within_cap
         |FROM c GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      Dedup.simHashBucketStats(
        Dedup.simHash(Tables.documents(s, dir).select("doc_id", "text")),
        maxBucket = 50)
        .orderBy("band")
    },

    // ---- q101's embedding-side twin: hyperplane-LSH bucket occupancy
    //      over the embeddings corpus, replayed exactly in SQL from the
    //      same plane constants — sizes BOTH knobs of the ANN/near-dup
    //      family (maxBucket cap and nPlanes-vs-corpus provisioning)
    //      from measurement. ----
    QueryDef(
      "q102_embedding_bucket_stats",
      s"""WITH ${hyperplaneSigCtes("embeddings")},
         |c AS (
         |  SELECT band, bucket, count(*) AS n FROM (
         |    SELECT 0 AS band, b0 AS bucket FROM bk
         |    UNION ALL SELECT 1, b1 FROM bk
         |    UNION ALL SELECT 2, b2 FROM bk
         |    UNION ALL SELECT 3, b3 FROM bk)
         |  GROUP BY band, bucket HAVING count(*) >= 2)
         |SELECT band,
         |       CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(n) AS BIGINT) AS max_bucket,
         |       CAST(sum(CASE WHEN n > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_total,
         |       CAST(sum(CASE WHEN n <= 50 THEN n * (n - 1) // 2 ELSE 0 END)
         |            AS BIGINT) AS pairs_within_cap
         |FROM c GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      Similarity.embeddingBucketStats(
        Tables.embeddings(s, dir).select("vec_id", "embedding"), maxBucket = 50)
        .orderBy("band")
    },

    // ---- language-ID heuristic + quality score + BPE-ish tokens ----
    // Oracle SQL GENERATED from the same marker/stopword profiles the
    // Column expressions use, so both engines compute the identical
    // formula (scores are int-diff/int-len double sums in the same
    // association order → bit-identical → same argmax branch).
    QueryDef(
      "q33_langid_quality",
      langIdQualityOracleSql) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextAnalysis.langId(col("text")).as("guessed_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.bpeIshTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // ---- rolling-hash fingerprint (portable md5-60bit shingle min) ----
    QueryDef(
      "q34_fingerprint",
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |              ELSE list_transform(range(1, len(toks) - 1),
         |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
         |  FROM t)
         |SELECT doc_id,
         |       list_min(list_transform(sh,
         |         x -> ${OracleSql.md5Long("x")})) AS fp
         |FROM s
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ---- edit-distance (Levenshtein) near-dup within a block: the
    //      string-similarity companion to shingle jaccard. At scale the
    //      block (here: a key-range filter) comes from a cheap blocking
    //      key — edit distance is only ever computed inside blocks,
    //      never across the full n². ----
    QueryDef(
      "q55_edit_distance",
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       levenshtein(a.c_name, b.c_name) AS dist
        |FROM (SELECT * FROM customer WHERE c_custkey < 40) a
        |JOIN (SELECT * FROM customer WHERE c_custkey < 40) b
        |  ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val block = Tables.customer(s, dir).filter(col("c_custkey") < 40)
        .select(col("c_custkey"), col("c_name"))
      val a = block.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"))
      val b = block.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
        .filter(col("dist") <= 2)
        .orderBy("id_a", "id_b")
    },

    // ---- IVF (scale-path ANN): probe-pruned bucket search. Fully
    //      deterministic (portable md5 buckets + order-independent
    //      quantized centroids + bit-exact cosine), so the oracle
    //      replays the ENTIRE index build + probe + search in SQL:
    //      the approximation algorithm itself is value-checked. ----
    QueryDef(
      "q46_ann_ivf", ivfOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopK(emb, queries, k = 10, nBuckets = 16, nprobe = 4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },

    // ---- approximate count-distinct (HLL++): the 100 TB path where
    //      exact countDistinct's full shuffle is unaffordable. Sketch
    //      values are engine-specific, so the verifiable CONTRACT is
    //      emitted instead: the exact count (oracle-replayable) plus a
    //      deterministic |approx-exact|/exact < 5% boolean per group.
    //      HLL merge is commutative and idempotent, so the boolean is
    //      stable under any partitioning; the oracle asserts it true.
    //      (At 100 TB you'd drop the exact column and keep only the
    //      sketch; here it exists to value-check the sketch.) ----
    QueryDef(
      "q50_approx_distinct",
      """SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey)  AS BIGINT) AS exact_parts,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |       true AS parts_within_5pct,
        |       true AS orders_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          // rsd=1% so the asserted 5% contract holds with a 5σ margin
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
        .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts") < 0.05)
            .as("parts_within_5pct"),
          (abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders") < 0.05)
            .as("orders_within_5pct"))
        .orderBy("l_returnflag")
    },

    // ---- salted (two-phase) aggregation — must equal the plain agg ----
    QueryDef(
      "q47_salted_agg",
      """SELECT l_returnflag,
        |       round(sum(l_quantity), 2) AS sum_l_quantity,
        |       count(*)                  AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Scale.saltedSumCount(Tables.lineitem(s, dir), "l_returnflag", "l_quantity")
        .select(col("l_returnflag"),
          round(col("sum_l_quantity"), 2).as("sum_l_quantity"), col("n"))
        .orderBy("l_returnflag")
    },

    // ---- stratified sampling (training-mix quotas): up to 20 docs per
    //      language, chosen by content-addressed order (md5 of id) so the
    //      same sample falls out on any engine/partitioning ----
    QueryDef(
      "q63_stratified_sample",
      s"""SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY ${OracleSql.md5Long("CAST(doc_id AS VARCHAR)")},
        |                    doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.textops.TextAnalysis.md5Long
      val w = Window.partitionBy("lang")
        .orderBy(md5Long(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ---- data MIXING: hit a target language mixture under a total doc
    //      budget. Per-language keep RATE = min(1, budget_l / available)
    //      in integer basis points; each row flips a content-addressed
    //      md5 coin against its language's rate — fully deterministic,
    //      and the corpus never shuffles (the rate table is a broadcast
    //      aggregate; the coin is map-side). q63 is the exact-quota
    //      sampler; this is its rate-based sibling — the shape mixture
    //      rebalancing takes at 100 TB, where realized counts are
    //      binomial around the budget, not exact. ----
    QueryDef(
      "q96_mixture_sample", {
        val caseSql = "CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000 " +
          "WHEN 'fr' THEN 1500 WHEN 'es' THEN 1000 ELSE 500 END"
        s"""WITH avail AS (
           |  SELECT lang, count(*) AS n_avail FROM documents GROUP BY lang),
           |rates AS (
           |  SELECT lang, n_avail,
           |         least(10000, ((200 * ($caseSql)) // 10000) * 10000 // n_avail)
           |           AS rate_bp
           |  FROM avail)
           |SELECT d.lang,
           |       CAST(r.n_avail AS BIGINT) AS n_avail,
           |       CAST(r.rate_bp AS BIGINT) AS rate_bp,
           |       CAST(sum(CASE WHEN ${OracleSql.md5Long("CAST(d.doc_id AS VARCHAR)")} % 10000
           |                     < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM documents d JOIN rates r ON d.lang = r.lang
           |GROUP BY d.lang, r.n_avail, r.rate_bp
           |ORDER BY d.lang""".stripMargin
      }) { (s, dir) =>
      import graft.textops.TextAnalysis.md5Long
      val fracCase = coalesce(
        when(col("lang") === "en", 5000)
          .when(col("lang") === "de", 2000)
          .when(col("lang") === "fr", 1500)
          .when(col("lang") === "es", 1000), lit(500)).cast("long")
      val docs = Tables.documents(s, dir)
      val rates = docs.groupBy("lang").agg(count(lit(1)).as("n_avail"))
        .withColumn("frac_bp", fracCase)
        .withColumn("rate_bp",
          least(lit(10000L), expr("((200 * frac_bp) div 10000) * 10000 div n_avail")))
        .select("lang", "n_avail", "rate_bp")
      docs.select("doc_id", "lang")
        .join(broadcast(rates), "lang")
        .withColumn("kept",
          pmod(md5Long(col("doc_id").cast("string")), lit(10000L)) < col("rate_bp"))
        .groupBy(col("lang"), col("n_avail"), col("rate_bp"))
        .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .select("lang", "n_avail", "rate_bp", "n_kept")
        .orderBy("lang")
    },

    // ---- token-budget sequence packing: concatenate docs in id order,
    //      split at 2000-token boundaries; each doc's pack = its start
    //      offset / budget. One window cumsum — the deterministic
    //      concat-and-chunk shape LLM pretraining batches use. (The
    //      unpartitioned window is the op's sequential nature; at 100 TB
    //      you pack within id-range shards — partitionBy(shard) here —
    //      and prefix pack ids with the shard, keeping every property.) ----
    QueryDef(
      "q64_token_packing",
      """WITH d AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |         sum(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT CAST(floor((cum - n_tok) / 2000) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM c
        |GROUP BY 1
        |ORDER BY pack_id""".stripMargin) { (s, dir) =>
      // the running token total uses Scale.prefixSumLong — range
      // partitioning + broadcast offsets — NOT a global window, which
      // would drag every row into one partition (the former shape, kept
      // only as the spec's equality reference)
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tok"))
      Scale.prefixSumLong(toks, "doc_id", "n_tok")
        .select(floor((col("cum") - col("n_tok")) / 2000).as("pack_id"),
          col("n_tok"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
        .orderBy("pack_id")
    },

    // ---- TF-IDF top terms (retrieval/curation scoring): quantized
    //      tf·ln(N/df) so the ranking replays on any engine ----
    QueryDef(
      "q62_tfidf",
      s"""WITH tk AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term,
         |         CAST(round(tf.tf * ln(n.n / df.df) * 10000) AS BIGINT) AS score_q
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT doc_id, term, CAST(score_q AS DOUBLE) / 10000 AS score, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY score_q DESC, term) AS rank
         |  FROM sc) t
         |WHERE rank <= 3 AND doc_id < 50
         |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
      TextAnalysis.tfIdfTop(Tables.documents(s, dir), k = 3)
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "rank")
    },

    // ---- EMBEDDING-space fuzzy decontamination: corpus vectors whose
    //      cosine to an eval vector is ≥ 0.99, via the cross-corpus
    //      hyperplane-LSH join (q103's counterpart for semantic
    //      near-dups that share no n-grams). Eval set = every 41st
    //      vector lightly perturbed (the q30 twin transform) — close to
    //      its source but not identical. Oracle replays the exact
    //      bucketing incl. BOTH sides' caps, like q30. ----
    QueryDef(
      "q106_embedding_decontaminate", {
        val maxBucket = 1000
        val bandCond = (0 until 4).map(k =>
          s"""(a.b$k = b.b$k
             |     AND EXISTS (SELECT 1 FROM livea WHERE band = $k AND bucket = a.b$k)
             |     AND EXISTS (SELECT 1 FROM liveb WHERE band = $k AND bucket = b.b$k))""".stripMargin)
          .mkString("\n   OR ")
        def bandCounts(bk: String): String =
          s"""SELECT band, bucket, count(*) AS c FROM (
             |    SELECT 0 AS band, b0 AS bucket FROM $bk
             |    UNION ALL SELECT 1, b1 FROM $bk
             |    UNION ALL SELECT 2, b2 FROM $bk
             |    UNION ALL SELECT 3, b3 FROM $bk)
             |  GROUP BY band, bucket""".stripMargin
        s"""WITH ev AS (
           |  SELECT vec_id,
           |         list_transform(embedding,
           |           x -> CAST(CAST(x AS DOUBLE) * 1.01 + 0.005 AS FLOAT)) AS embedding
           |  FROM embeddings WHERE vec_id % 41 = 0),
           |corp AS (SELECT vec_id, embedding FROM embeddings),
           |${hyperplaneSigCtes("corp", "sga", "bka")},
           |${hyperplaneSigCtes("ev", "sgb", "bkb")},
           |bca AS (${bandCounts("bka")}),
           |bcb AS (${bandCounts("bkb")}),
           |livea AS (SELECT band, bucket FROM bca WHERE c BETWEEN 1 AND $maxBucket),
           |liveb AS (SELECT band, bucket FROM bcb WHERE c BETWEEN 1 AND $maxBucket),
           |pairs AS (
           |  SELECT a.vec_id, b.vec_id AS eval_id,
           |         ${cosineSql("a.embedding", "b.embedding")} AS sim
           |  FROM bka a JOIN bkb b ON ($bandCond))
           |SELECT vec_id, eval_id, round(sim, 8) AS sim
           |FROM pairs
           |WHERE sim >= 0.99
           |ORDER BY vec_id, eval_id""".stripMargin
      }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val evalSet = emb.filter(col("vec_id") % 41 === 0)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * 1.01 + 0.005).cast("float")).as("embedding"))
      Similarity.crossEmbeddingNearDups(emb, evalSet, threshold = 0.99)
        .select(col("id_a").as("vec_id"), col("id_b").as("eval_id"),
          round(col("sim"), 8).as("sim"))
        .orderBy("vec_id", "eval_id")
    },

    // ---- corpus-trained bigram-LM quality score (CCNet-style
    //      perplexity filter without an external model): per-doc average
    //      surprisal under an add-1-smoothed bigram model of the corpus
    //      itself. Per-position surprisals quantize to integer
    //      micro-nats BEFORE the per-doc sum (q62's pattern), so the
    //      score hash-matches across engines. ----
    QueryDef(
      "q105_lm_quality",
      s"""WITH tk AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |bi AS (
         |  SELECT doc_id, t[i] AS prev, t[i+1] AS cur
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |        FROM tk WHERE len(t) >= 2)),
         |c2 AS (SELECT prev, cur, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT count(DISTINCT cur) AS v FROM c2),
         |q AS (
         |  SELECT bi.doc_id,
         |         CAST(round(1000000 *
         |           ln(CAST(c1.c1 + v.v AS DOUBLE) / (c2.c2 + 1))) AS BIGINT) AS q
         |  FROM bi
         |  JOIN c2 USING (prev, cur)
         |  JOIN c1 USING (prev)
         |  CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       round(CAST(sum(q) AS DOUBLE) / count(*) / 1000000, 4) AS avg_nll
         |FROM q
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.bigramNll(Tables.documents(s, dir))
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- BPE tokenizer: train/apply split. TRAINING (Sennrich merges
    //      over the word-freq dictionary) is inherently iterative — each
    //      round's argmax feeds the next round's rewrite, so no single
    //      SQL statement expresses it; it is pinned by
    //      TextAnalysisSpec's reference-equality test, and its artifact
    //      ships as TextAnalysis.pinnedMerges. The APPLY path —
    //      segmentation of the corpus with the trained table, the step
    //      that actually touches 100 TB — is oracle-checked END TO END
    //      here: the oracle replays the greedy left-to-right merge fold
    //      via the wrapped-symbol string form (each symbol as ␁sym␁, a
    //      merge (l,r) as one non-overlapping left-to-right replace of
    //      ␁l␁␁r␁ with ␁lr␁ — bit-identical to the fold because both
    //      consume matches left-to-right and a fused symbol never
    //      re-fuses within its round). ----
    QueryDef(
      "q108_bpe_segment", {
        val chain = bpeSegmentChainSql
        s"""WITH tk AS (
           |  SELECT doc_id, ${OracleSql.wsTokens("text")} AS toks
           |  FROM documents WHERE doc_id < 100),
           |seg AS (
           |  SELECT doc_id, list_transform(toks, w ->
           |    string_split(trim($chain, chr(1)), chr(1) || chr(1))) AS segs
           |  FROM tk)
           |SELECT doc_id,
           |       CAST(len(segs) AS BIGINT) AS n_words,
           |       CAST(len(flatten(segs)) AS BIGINT) AS n_symbols,
           |       array_to_string(
           |         list_transform(segs, a -> array_to_string(a, ' ')),
           |         ' | ') AS seg_text
           |FROM seg ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          TextAnalysis.bpeSegment(col("text"), TextAnalysis.pinnedMerges)
            .as("segs"))
        .select(col("doc_id"),
          size(col("segs")).cast("long").as("n_words"),
          size(flatten(col("segs"))).cast("long").as("n_symbols"),
          array_join(transform(col("segs"), a => array_join(a, " ")), " | ")
            .as("seg_text"))
        .orderBy("doc_id")
    },

    // ---- deterministic k-means (Lloyd, 2 rounds): topic/balance
    //      clustering for training-data mixes. md5-bucket-mean init +
    //      quantized centroid updates + tie-broken argmin make the whole
    //      iteration replayable: the oracle unrolls both rounds. ----
    QueryDef(
      "q61_kmeans",
      s"""WITH ev AS (
         |  SELECT vec_id, embedding,
         |         ${OracleSql.md5Long("CAST(vec_id AS VARCHAR)")} % 16 AS cluster
         |  FROM embeddings),
         |${centroidCte("ev", "cent0")},
         |${assignCte("cent0", "a1")},
         |${centroidCte("a1", "cent1")},
         |${assignCte("cent1", "a2")}
         |SELECT vec_id, cluster FROM a2
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.kmeansLite(Tables.embeddings(s, dir), k = 16, iters = 2)
        .orderBy("vec_id")
    },

    // ---- the full data-prep pipeline, value-checked END TO END:
    //      length filter → exact dedup (keep min id) → near-dup cluster
    //      resolution (keep min id per component) → per-language stats.
    //      Every stage reuses an operator verified above; the oracle
    //      composes their SQL mirrors into one query. ----
    QueryDef(
      "q65_full_pipeline",
      s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id, lang, text, $toksSql AS toks
         |  FROM documents),
         |f AS (SELECT * FROM tk WHERE len(toks) >= 10),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
         |ek AS (SELECT f.* FROM f JOIN keepers USING (doc_id)),
         |${shingle3Cte("ek")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes,
         |losers AS (
         |  SELECT id FROM (
         |    SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id) t
         |  WHERE id <> cl)
         |SELECT lang, count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
         |FROM ek
         |WHERE doc_id NOT IN (SELECT id FROM losers)
         |GROUP BY lang
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val filtered = docs
        .filter(size(TextAnalysis.wsTokens(col("text"))) >= 10)
      val exactKept = Dedup.exactDedup(filtered)
      val pairs = Dedup.nearDupPairs(
          exactKept.select("doc_id", "text"), threshold = 0.7)
        .select("id_a", "id_b")
      Dedup.dedupByClusters(exactKept, pairs)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextAnalysis.wsTokens(col("text"))).cast("long")).as("total_tokens"))
        .orderBy("lang")
    }.copy(headline = true),

    // ---- PII redaction (training-data scrub): plant synthetic emails /
    //      phone numbers, redact with character-class-only regexes (RE2
    //      and java.util.regex agree on these), count what was hit. ----
    QueryDef(
      "q57_pii_redact",
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com or +1-555-010' || CAST(doc_id % 10 AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS n_emails,
        |       len(regexp_extract_all(text, '\+[0-9][0-9-]{7,}')) AS n_phones,
        |       regexp_replace(regexp_replace(text,
        |         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |         '\+[0-9][0-9-]{7,}', '<PHONE>', 'g') AS redacted
        |FROM d
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
      val phoneRe = "\\+[0-9][0-9-]{7,}"
      Tables.documents(s, dir)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
            lit("@example.com or +1-555-010"),
            (col("doc_id") % 10).cast("string")).as("text"))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(text, '$emailRe', 0)")).as("n_emails"),
          size(expr(s"regexp_extract_all(text, '\\\\+[0-9][0-9-]{7,}', 0)")).as("n_phones"),
          regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    },

    // ---- FUZZY decontamination: training docs that are NEAR-dups of an
    //      eval item (n-gram jaccard ≥ 0.7), via the cross-corpus
    //      MinHash-LSH join. q58's exact-gram check misses a lightly
    //      paraphrased eval item; this catches any rewrite preserving
    //      ≥ 70% of the shingle set, at LSH cost (one bucket join, never
    //      |train|×|eval|). Eval set = every 37th doc with one appended
    //      token — near its source (j ≈ (m-1)/m) but not identical, so
    //      the exact paths would NOT flag it. Oracle: brute-force cross
    //      jaccard over the same hashed shingle sets. ----
    QueryDef(
      "q103_fuzzy_decontaminate",
      s"""WITH tr AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |ev AS (
         |  SELECT doc_id AS eval_id,
         |         ${OracleSql.wsTokens("text || ' graftevaltail'")} AS toks
         |  FROM documents WHERE doc_id % 37 = 0),
         |${shingleSetCte("tr", "sa")},
         |${shingleSetCte("ev", "sb", "eval_id")},
         |p AS (
         |  SELECT a.doc_id, b.eval_id,
         |         len(list_intersect(a.sh, b.sh)) AS inter,
         |         len(a.sh) AS na, len(b.sh) AS nb
         |  FROM sa a CROSS JOIN sb b)
         |SELECT doc_id, eval_id,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
         |FROM p
         |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.7
         |ORDER BY doc_id, eval_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" graftevaltail")).as("text"))
      Dedup.crossNearDupPairs(docs, evalSet, threshold = 0.7)
        .select(col("id_a").as("doc_id"), col("id_b").as("eval_id"),
          col("jaccard"))
        .orderBy("doc_id", "eval_id")
    }.copy(headline = true),

    // ---- deterministic content-addressed train/val/test split + global
    //      shuffle order: every training pipeline's final step. Split
    //      assignment is a pure function of (id, salt) — stable across
    //      engines, partitionings, and reruns; adding docs never moves an
    //      existing doc between splits. The within-split shuffle rank is
    //      the md5 order — a reproducible global permutation — computed
    //      DISTRIBUTIVELY via Scale.globalRank (range partition + prefix
    //      sum) + broadcast per-split bases, NOT a per-split window
    //      (PARTITION BY split would sort 80% of the corpus in ONE
    //      task). ----
    QueryDef(
      "q104_hash_split",
      s"""WITH a AS (
         |  SELECT doc_id,
         |         md5(CAST(doc_id AS VARCHAR) || '|graftsplit') AS h
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, h,
         |         CAST(('0x' || substring(h, 1, 6)) AS BIGINT) % 10000 AS bucket
         |  FROM a),
         |c AS (
         |  SELECT doc_id, h,
         |         CASE WHEN bucket < 8000 THEN 'train'
         |              WHEN bucket < 9000 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM b)
         |SELECT doc_id, split,
         |       CAST(row_number() OVER (
         |         PARTITION BY split ORDER BY h, doc_id) AS BIGINT)
         |         AS shuffle_rank
         |FROM c
         |ORDER BY split, shuffle_rank""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id")
      val assigned = Scale.hashSplit(docs, "doc_id", "graftsplit",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
      val ranked = Scale.globalRank(assigned, "grank",
        "split", "split_hash", "doc_id")
      val base = ranked.groupBy("split").agg(min("grank").as("base"))
      ranked.join(broadcast(base), "split")
        .select(col("doc_id"), col("split"),
          (col("grank") - col("base") + 1L).as("shuffle_rank"))
        .orderBy("split", "shuffle_rank")
    },

    // ---- benchmark decontamination: flag training docs sharing any
    //      5-gram with the (small) eval set. At 100 TB the eval-set gram
    //      dictionary is broadcast — no shuffle of the corpus at all;
    //      each doc is checked map-side. ----
    QueryDef(
      "q58_decontaminate", decontaminationOracleSql) { (s, dir) =>
      val (bench, train) = decontaminationGrams(s, dir)
      train.join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("doc_id")
    },

    // ---- per-source document cap (domain cap): keep the top-10 docs
    //      per source by stopword density (integer ppm — a crawl
    //      pipeline's "keep the N most natural-language pages per
    //      domain" rule). Scale shape: the bounded-heap TopKAggregator
    //      ships ≤10 rows per source per map task; the window form the
    //      oracle replays would shuffle every document of a hot domain
    //      onto one reducer. ----
    QueryDef(
      "q109_source_cap",
      s"""WITH m AS (
         |  SELECT source, doc_id,
         |         len(list_filter(string_split(text, ' '),
         |             w -> list_contains($stopwordsSql, w))) * 1000000
         |           // len(string_split(text, ' ')) AS stop_ppm
         |  FROM documents)
         |SELECT source, doc_id, stop_ppm, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |            ORDER BY stop_ppm DESC, doc_id) AS rank
         |  FROM m) t
         |WHERE rank <= 10
         |ORDER BY source, rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.Encoders
      import graft.functions.{Scored, TopKAggregator}
      val topk = udaf(new TopKAggregator(10), Encoders.product[Scored])
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          floor(size(filter(toks, w => w.isin(stopwords: _*))).cast("long") * 1000000L /
            size(toks).cast("long")).cast("long").as("stop_ppm"))
        .groupBy("source")
        .agg(topk(col("stop_ppm").cast("double"), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "sc")))
        .select(col("source"), col("sc.id").as("doc_id"),
          col("sc.score").cast("long").as("stop_ppm"),
          (col("pos") + 1).as("rank"))
        .orderBy("source", "rank")
    },

    // ---- ANN recall report: recall@10 of the IVF probe path against
    //      the exact brute-force answer, per query. The pay-for-pruning
    //      number an index rollout decision needs — and because BOTH
    //      sides are deterministic with full SQL replays (q29's scan,
    //      q46's index build+probe), the recall itself is oracle-exact:
    //      the approximation loss is value-checked, not eyeballed. ----
    QueryDef(
      "q110_ann_recall",
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
         |            FROM embeddings WHERE vec_id < 5),
         |bf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosineSql("q.q_embedding", "e.embedding")} DESC,
         |                      e.vec_id) AS rank
         |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
         |  WHERE rank <= 10),
         |ivf AS (SELECT query_id, neighbor_id FROM ($ivfOracleSql) t2),
         |hits AS (
         |  SELECT i.query_id, count(*) AS n
         |  FROM ivf i JOIN bf b
         |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |  GROUP BY i.query_id)
         |SELECT q.query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n, 0) * 1000 AS BIGINT) AS recall_bp
         |FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val bf = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor_id")
      val ivf = Similarity.ivfTopK(emb, queries, k = 10, nBuckets = 16, nprobe = 4)
        .select("query_id", "neighbor_id")
      val hits = ivf.join(bf, Seq("query_id", "neighbor_id"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n"))
      queries.select("query_id")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n"), lit(0L)).as("n_hits"),
          (coalesce(col("n"), lit(0L)) * 1000).as("recall_bp"))
        .orderBy("query_id")
    },

    // ---- Cohen's kappa between two quality gates (q190): chance-
    //      corrected agreement between the Gopher heuristic keep and a
    //      stopword-density threshold rule — the audit before swapping
    //      one filter for a cheaper one ("they agree 80%" means nothing
    //      if both keep 80% blindly; kappa subtracts that chance floor).
    //      Exact integers: kappa = (agree·n − Σ marginal products) /
    //      (n² − Σ marginal products) in bp, DECIMAL(38,0) products.
    //      One corpus scan into a 2×2 contingency aggregate. ----
    QueryDef(
      "q190_filter_kappa",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |${gopherCountsCte("t")},
         |v AS (
         |  SELECT $gopherKeepSql AS a,
         |         stop_hits * 1000000 >= n_tokens * 200000 AS b
         |  FROM c),
         |g AS (
         |  SELECT count(*) AS n,
         |         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
         |         sum(CASE WHEN a THEN 1 ELSE 0 END) AS a1,
         |         sum(CASE WHEN b THEN 1 ELSE 0 END) AS b1
         |  FROM v),
         |k AS (
         |  SELECT n, agree,
         |         CAST(a1 AS DECIMAL(38,0)) * b1
         |           + CAST(n - a1 AS DECIMAL(38,0)) * (n - b1) AS pe_num,
         |         CAST(n AS DECIMAL(38,0)) * n AS n2
         |  FROM g)
         |SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
         |       CAST(agree * 10000 // n AS BIGINT) AS po_bp,
         |       CAST(CAST(pe_num * 10000 AS HUGEINT)
         |            // CAST(n2 AS HUGEINT) AS BIGINT) AS pe_bp,
         |       CAST(CASE WHEN n2 = pe_num THEN NULL
         |            WHEN agree * n >= pe_num THEN
         |              CAST((CAST(agree AS DECIMAL(38,0)) * n - pe_num) * 10000
         |                AS HUGEINT) // CAST(n2 - pe_num AS HUGEINT)
         |            ELSE -(CAST((pe_num - CAST(agree AS DECIMAL(38,0)) * n) * 10000
         |                AS HUGEINT) // CAST(n2 - pe_num AS HUGEINT))
         |            END AS BIGINT) AS kappa_bp
         |FROM k""".stripMargin) { (s, dir) =>
      val toks = TextAnalysis.wsTokens(col("text"))
      val v = TextAnalysis.gopherRules(Tables.documents(s, dir))
        .join(Tables.documents(s, dir).select(col("doc_id"),
          (size(filter(toks, w => w.isin(PipelineQueries.stopwords: _*)))
            .cast("long") * 1000000L >=
            size(toks).cast("long") * 200000L).as("b")), "doc_id")
        .select(col("keep").as("a"), col("b"))
      val g = v.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
        sum(when(col("a"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("b"), 1L).otherwise(0L)).as("b1"))
      g.select(col("n"), col("agree"),
          (col("a1").cast("decimal(38,0)") * col("b1") +
            (col("n") - col("a1")).cast("decimal(38,0)") *
              (col("n") - col("b1"))).as("pe_num"),
          (col("n").cast("decimal(38,0)") * col("n")).as("n2"))
        .select(col("n"), col("agree").as("n_agree"),
          expr("agree * 10000 div n").as("po_bp"),
          expr("CAST(pe_num * 10000 div n2 AS BIGINT)").as("pe_bp"),
          // Spark's integral divide truncates toward zero on both signs,
          // which is what the oracle's sign-split CASE mirrors
          when(col("n2") === col("pe_num"), lit(null))
            .otherwise(expr(
              """CAST((CAST(agree AS DECIMAL(38,0)) * n - pe_num) * 10000
                | div (n2 - pe_num) AS BIGINT)""".stripMargin))
            .as("kappa_bp"))
    },

    // ---- NDCG@10 of the IVF ranking (q188): recall (q110) says WHICH
    //      true neighbors the index returns; NDCG says WHERE it puts
    //      them — the position-weighted ranking score every retrieval
    //      eval reports. Graded gains 10..1 from the exact cosine rank,
    //      log2 position discounts pinned as integer micro literals
    //      (1e6/log2(p+1)), IDCG is the closed-form constant — the
    //      whole metric is exact integer arithmetic and the oracle
    //      replays both rankings plus the same literals. ----
    QueryDef(
      "q188_ivf_ndcg", {
        val disc = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
          356207L, 333333L, 315465L, 301030L, 289065L)
        val discCase = disc.zipWithIndex
          .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
        val idcg = 29966114L
        s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
           |            FROM embeddings WHERE vec_id < 5),
           |bf AS (
           |  SELECT query_id, neighbor_id, rank FROM (
           |    SELECT q.query_id, e.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.query_id
           |             ORDER BY ${cosineSql("q.q_embedding", "e.embedding")} DESC,
           |                      e.vec_id) AS rank
           |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
           |  WHERE rank <= 10),
           |ivf AS (SELECT query_id, neighbor_id, rank AS pos
           |        FROM ($ivfOracleSql) t2),
           |scored AS (
           |  SELECT i.query_id,
           |         coalesce(11 - b.rank, 0) *
           |           (CASE i.pos $discCase END) AS contrib
           |  FROM ivf i LEFT JOIN bf b
           |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |SELECT q.query_id,
           |       CAST(coalesce(sum(contrib), 0) AS BIGINT) AS dcg_micro,
           |       CAST(coalesce(sum(contrib), 0) * 10000 // $idcg AS BIGINT)
           |         AS ndcg_bp
           |FROM qs q LEFT JOIN scored s ON s.query_id = q.query_id
           |GROUP BY q.query_id ORDER BY q.query_id""".stripMargin
      }) { (s, dir) =>
      val disc = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val idcg = 29966114L
      val discCol = (1 to 10).foldLeft(lit(0L)) { (acc, p) =>
        when(col("pos") === p, lit(disc(p - 1))).otherwise(acc)
      }
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val bf = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val ivf = Similarity.ivfTopK(emb, queries, k = 10, nBuckets = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("pos"))
      val scored = ivf.join(bf, Seq("query_id", "neighbor_id"), "left_outer")
        .select(col("query_id"),
          (coalesce(lit(11) - col("rank"), lit(0)).cast("long") * discCol)
            .as("contrib"))
      queries.select("query_id")
        .join(scored.groupBy("query_id").agg(sum("contrib").as("dcg")),
          Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("dcg"), lit(0L)).as("dcg_micro"),
          expr(s"coalesce(dcg, 0L) * 10000 div $idcg").as("ndcg_bp"))
        .orderBy("query_id")
    },

    // ---- quality classifier: train/apply split. TRAINING (ridge over
    //      exact-integer surface features — ONE DECIMAL(38,0) moment-sum
    //      aggregate + a driver-side d×d solve) isn't a single SQL
    //      statement; LinearModelSpec pins it against a sequential
    //      BigInt reference and asserts partition invariance, and its
    //      artifact ships as the pinned nano-weights below (fitRidgeNano
    //      over the full sf0.01 documents corpus, λ=1). The APPLY path —
    //      feature extraction + the pure-integer dot product, the step
    //      that scores 100 TB — is oracle-checked end to end with the
    //      SAME literal weights on both sides. ----
    QueryDef(
      "q111_quality_classifier", {
        val Seq(wBias, wNtok, wStop, wDist) = q111Weights.toSeq
        s"""WITH f AS (
           |  SELECT doc_id,
           |         CAST(1 AS BIGINT) AS f_bias,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS f_ntok,
           |         CAST(floor(CAST(len(list_filter(string_split(text, ' '),
           |             w -> list_contains($stopwordsSql, w))) * 1000000 AS DOUBLE)
           |           / len(string_split(text, ' '))) AS BIGINT) AS f_stop_ppm,
           |         CAST(floor(CAST(len(list_distinct(string_split(text, ' ')))
           |             * 1000000 AS DOUBLE)
           |           / len(string_split(text, ' '))) AS BIGINT) AS f_distinct_ppm,
           |         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
           |  FROM documents)
           |SELECT doc_id, CAST(y AS BIGINT) AS label,
           |       CAST(f_bias * ($wBias) + f_ntok * ($wNtok)
           |         + f_stop_ppm * ($wStop) + f_distinct_ppm * ($wDist)
           |         AS BIGINT) AS score_nano,
           |       CAST(CASE WHEN f_bias * ($wBias) + f_ntok * ($wNtok)
           |         + f_stop_ppm * ($wStop) + f_distinct_ppm * ($wDist) > 0
           |         THEN 1 ELSE -1 END AS BIGINT) AS predicted
           |FROM f WHERE doc_id < 100
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      import graft.ml.LinearModel
      val toks = split(col("text"), " ")
      val feats = Tables.documents(s, dir)
        .select(col("doc_id"),
          lit(1L).as("f_bias"),
          size(toks).cast("long").as("f_ntok"),
          floor(size(filter(toks, w => w.isin(stopwords: _*))).cast("long") * 1000000L /
            size(toks).cast("long")).cast("long").as("f_stop_ppm"),
          floor(size(array_distinct(toks)).cast("long") * 1000000L /
            size(toks).cast("long")).cast("long").as("f_distinct_ppm"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      val fcols = Seq("f_bias", "f_ntok", "f_stop_ppm", "f_distinct_ppm")
      feats.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("y").as("label"),
          LinearModel.scoreNano(q111Weights, fcols).as("score_nano"))
        .withColumn("predicted", when(col("score_nano") > 0, 1L).otherwise(-1L))
        .orderBy("doc_id")
    },

    // ---- overlapping token-window chunking (embedding / context-prep):
    //      windows of 32 tokens at stride 24. A window is emitted iff it
    //      starts at 0 or begins before len-overlap (so no pure-overlap
    //      tail chunk). Purely narrow — one projection + one generate,
    //      no shuffle: chunking 100 TB is exactly one scan. chunk ids
    //      are content-independent (doc_id, start), so re-chunking after
    //      an upstream edit only rewrites that doc's rows. ----
    QueryDef(
      "q115_chunk_windows",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |            FROM documents),
         |c AS (
         |  SELECT doc_id, i AS start_tok,
         |         array_to_string(toks[i+1:i+32], ' ') AS chunk_text,
         |         least(32, len(toks) - i) AS n_tokens
         |  FROM t, unnest(range(0, greatest(len(toks) - 8, 1), 24)) AS u(i))
         |SELECT doc_id, start_tok // 24 AS chunk_idx, start_tok, n_tokens,
         |       chunk_text
         |FROM c
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            greatest(size(col("toks")) - 8, lit(1)) - 1, lit(24))).as("start_tok"))
        .select(col("doc_id"),
          (col("start_tok") / 24).cast("long").as("chunk_idx"),
          col("start_tok").cast("long").as("start_tok"),
          least(lit(32), size(col("toks")) - col("start_tok")).cast("long").as("n_tokens"),
          array_join(slice(col("toks"), col("start_tok") + 1, lit(32)), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- source-overlap matrix: which sources (domains) duplicate
    //      which — pairwise shared distinct 5-grams + integer jaccard.
    //      The curation question behind per-domain dedup priorities.
    //      Scale shape: gram→source pairs join on the GRAM, so fan-out
    //      per gram is (sources carrying it choose 2), bounded by the
    //      df cap (grams in >8 sources — boilerplate — are dropped,
    //      mirroring the LSH maxBucket trade); the corpus itself is
    //      touched once to build the distinct (source, gram) set. ----
    QueryDef(
      "q117_source_overlap",
      s"""WITH t AS (
         |  SELECT source, $toksSql AS toks FROM documents),
         |s AS (
         |  SELECT DISTINCT source, ${OracleSql.md5Long("g")} AS g FROM (
         |    SELECT source,
         |           unnest(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
         |                ELSE list_transform(range(1, len(toks) - 3),
         |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         |                          toks[i+3] || ' ' || toks[i+4]) END) AS g
         |    FROM t) u),
         |df AS (SELECT g, count(*) AS nsrc FROM s GROUP BY g),
         |keep AS (SELECT s.source, s.g FROM s JOIN df USING (g)
         |         WHERE df.nsrc BETWEEN 2 AND 8),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(count(*) AS BIGINT) AS shared_grams
         |  FROM keep a JOIN keep b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY source)
         |SELECT p.src_a, p.src_b, p.shared_grams,
         |       CAST(10000 * p.shared_grams //
         |            (za.n + zb.n - p.shared_grams) AS BIGINT) AS jaccard_bp
         |FROM pairs p
         |JOIN sz za ON za.source = p.src_a
         |JOIN sz zb ON zb.source = p.src_b
         |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      // 60-bit hashed 5-grams (the engine's standard portable gram
      // fingerprint — guide §2.3 narrower types): the distinct, the df
      // aggregate and the self-join all key on an 8-byte long instead
      // of a ~5-token string; the oracle applies the identical md5Long
      // extraction to its gram strings, so both engines compute the
      // same function. GramMd5Hashes' <k-token whole-doc gram matches
      // the CASE branch.
      val sg = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.GramHashFunctions.graftGramMd5(
            TextAnalysis.wsTokens(col("text")), 5)).as("g"))
        .distinct()
        .localCheckpoint() // referenced three times (df, pairs, sizes)
      val dfreq = sg.groupBy("g").agg(count(lit(1)).as("nsrc"))
      val keep = sg.join(dfreq.filter(col("nsrc").between(2, 8)), "g")
        .select("source", "g")
      val pairs = keep.as("a").join(keep.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
      val sz = sg.groupBy("source").agg(count(lit(1)).as("n"))
      pairs
        .join(sz.select(col("source").as("src_a"), col("n").as("na")), "src_a")
        .join(sz.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared_grams"),
          expr("10000 * shared_grams div (na + nb - shared_grams)").as("jaccard_bp"))
        .orderBy("src_a", "src_b")
    }.copy(headline = true), // sweep slow-tail promotion (round 8, final tier)

    // ---- exact duplicated-substring spans (Lee et al. 2107.06499):
    //      maximal token spans covered by a 16-token window occurring
    //      ≥2× corpus-wide at ANY alignment — what chunk-grid dedup
    //      (q73) misses for shifted copies. Twin corpus plants exact
    //      long duplicates; the oracle replays windows → counts →
    //      cover → island merge in full. ----
    QueryDef(
      "q118_dup_spans",
      s"""WITH ${twinDocsCtes("graftdupspan")},
         |w AS (
         |  SELECT doc_id, i - 1 AS pos,
         |         ${OracleSql.md5Long("array_to_string(toks[i:i+15], ' ')")} AS g
         |  FROM t, unnest(range(1, len(toks) - 14)) AS u(i)
         |  WHERE len(toks) >= 16),
         |dg AS (SELECT g FROM w GROUP BY g HAVING count(*) >= 2),
         |dp AS (SELECT DISTINCT doc_id, pos FROM w JOIN dg USING (g)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS idx
         |        FROM dp, unnest(range(0, 16)) AS v(j)),
         |r AS (SELECT doc_id, idx,
         |             idx - row_number() OVER (PARTITION BY doc_id
         |                                      ORDER BY idx) AS island
         |      FROM cov)
         |SELECT doc_id,
         |       CAST(min(idx) AS BIGINT) AS span_start,
         |       CAST(max(idx) + 1 AS BIGINT) AS span_end,
         |       CAST(max(idx) + 1 - min(idx) AS BIGINT) AS span_tokens
         |FROM r
         |GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftdupspan")).as("text"))
      Dedup.duplicatedSpans(docs.union(twins), l = 16)
        .orderBy("doc_id", "span_start")
    }.copy(headline = true), // sweep slow-tail promotion (round 7, tier 2)

    // ---- SemDeDup (arXiv:2303.09540): semantic dedup — k-means the
    //      embedding space, pairwise-prune ONLY within clusters. Twin
    //      corpus plants scaled near-copies; the oracle unrolls both
    //      k-means rounds (q61's CTEs), the cluster-size guard, the
    //      within-cluster cosine pairs, and the keep-min drops. ----
    QueryDef(
      "q119_semdedup",
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |         list_transform(embedding,
         |           x -> CAST(CAST(x AS DOUBLE) * 1.01 + 0.005 AS FLOAT))
         |  FROM embeddings WHERE vec_id < 10),
         |ev AS (
         |  SELECT vec_id, embedding,
         |         ${OracleSql.md5Long("CAST(vec_id AS VARCHAR)")} % 16 AS cluster
         |  FROM corp),
         |${centroidCte("ev", "cent0")},
         |${assignCte("cent0", "a1")},
         |${centroidCte("a1", "cent1")},
         |${assignCte("cent1", "a2")},
         |sz AS (SELECT cluster, count(*) AS csz FROM a2 GROUP BY cluster),
         |live AS (SELECT a2.* FROM a2 JOIN sz USING (cluster) WHERE csz <= 10000),
         |dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM live a JOIN live b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.99)
         |SELECT a2.vec_id, a2.cluster, (dup.vec_id IS NULL) AS kept
         |FROM a2 LEFT JOIN dup ON a2.vec_id = dup.vec_id
         |ORDER BY a2.vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val twins = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * 1.01 + 0.005).cast("float")).as("embedding"))
      Similarity.semDedup(emb.union(twins), k = 16, iters = 2, threshold = 0.99)
        .orderBy("vec_id")
    }.copy(headline = true),

    // ---- per-source token-distribution drift: KL(source ‖ corpus) in
    //      integer nano-nats — the mixture-design diagnostic behind
    //      re-weighting decisions. Exact oracle: the quantized term
    //      table is plain SQL. ----
    QueryDef(
      "q120_source_drift",
      s"""WITH tk AS (
         |  SELECT source, unnest($toksSql) AS tok FROM documents),
         |st AS MATERIALIZED (
         |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
         |  FROM tk GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
         |ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
         |n AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st),
         |term AS (
         |  SELECT st.source,
         |         CAST(floor(1000000000 * (CAST(st.c_st AS DOUBLE) / ns.n_s *
         |              ln(CAST(st.c_st AS DOUBLE) * n.n /
         |                 (CAST(ns.n_s AS DOUBLE) * ct.c_t)))) AS BIGINT) AS q
         |  FROM st JOIN ns USING (source) JOIN ct USING (tok) CROSS JOIN n)
         |SELECT t.source, ns.n_s AS n_tokens,
         |       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         |       CAST(sum(q) AS BIGINT) AS kl_nano
         |FROM term t JOIN ns ON ns.source = t.source
         |GROUP BY 1, 2
         |ORDER BY t.source""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenDrift(Tables.documents(s, dir), groupCol = "source")
        .orderBy("source")
    },

    // ---- DSIR importance resampling (arXiv:2302.03169): select the 50
    //      documents whose hashed-unigram features look most like the
    //      target domain (lang='en') relative to the raw corpus. Exact
    //      oracle: hashed features + add-1 log-ratios replay in SQL. ----
    QueryDef(
      "q121_dsir_select",
      s"""WITH tk AS (
         |  SELECT doc_id, lang = 'en' AS is_tgt,
         |         ${OracleSql.md5Long("tok")} % 4096 AS b
         |  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents)),
         |raw AS MATERIALIZED (
         |  SELECT b, CAST(count(*) AS BIGINT) AS c_raw,
         |         CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
         |  FROM tk GROUP BY b),
         |tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
         |               CAST(sum(c_tgt) AS BIGINT) AS n_tgt FROM raw),
         |w AS (
         |  SELECT b, CAST(floor(1000000 *
         |           (ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + 4096)) -
         |            ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + 4096)))) AS BIGINT) AS dw
         |  FROM raw CROSS JOIN tot),
         |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c_db
         |       FROM tk GROUP BY 1, 2),
         |sc AS (SELECT doc_id, CAST(sum(c_db) AS BIGINT) AS n_tokens,
         |              CAST(sum(c_db * dw) AS BIGINT) AS logweight_micro
         |       FROM db JOIN w USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, logweight_micro
         |FROM sc
         |ORDER BY logweight_micro DESC, doc_id
         |LIMIT 50""".stripMargin) { (s, dir) =>
      TextAnalysis.dsirLogWeights(
          Tables.documents(s, dir), isTarget = col("lang") === "en")
        .orderBy(col("logweight_micro").desc, col("doc_id"))
        .limit(50)
    },

    // ---- C4/CCNet-style paragraph-dedup REWRITE: drop every repeated
    //      16-token chunk corpus-wide (first occurrence by (doc_id, ci)
    //      owns it), re-assemble the survivors into cleaned documents.
    //      Planted full-copy twins collapse to "". Oracle: same chunking
    //      + row_number ownership + ordered string_agg. ----
    QueryDef(
      "q122_dedup_rewrite",
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |c0 AS (SELECT doc_id, toks,
         |              unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS ci
         |       FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, ci,
         |             array_to_string(list_slice(toks, ci*16 + 1, ci*16 + 16), ' ') AS chunk
         |      FROM c0),
         |r AS (SELECT doc_id, ci, chunk,
         |             row_number() OVER (PARTITION BY ${OracleSql.md5Long("chunk")}
         |                                ORDER BY doc_id, ci) AS rn
         |      FROM c)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ci), '')
         |         AS new_text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.dedupRewrite(docs.union(twins), chunkTokens = 16)
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- canonical-representative selection: near-dup clusters keep
    //      their longest member (ties → smallest id) — the "keep the
    //      best version" policy applied after q60's clustering. Oracle:
    //      transitive closure + per-cluster argmax window. ----
    QueryDef(
      "q123_cluster_reps",
      s"""WITH RECURSIVE ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes,
         |cl AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |sc AS (SELECT cl.cluster_id, cl.id, CAST(length(d.text) AS BIGINT) AS score
         |       FROM cl JOIN d ON d.doc_id = cl.id)
         |SELECT cluster_id, id AS rep_doc_id, score AS rep_score,
         |       CAST(csz AS BIGINT) AS cluster_size
         |FROM (SELECT cluster_id, id, score,
         |             row_number() OVER (PARTITION BY cluster_id
         |                                ORDER BY score DESC, id) AS rn,
         |             count(*) OVER (PARTITION BY cluster_id) AS csz
         |      FROM sc) x
         |WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      val corpus = docs.union(twins)
      val pairs = Dedup.nearDupPairs(corpus, threshold = 0.7).select("id_a", "id_b")
      Dedup.clusterRepresentatives(
          Dedup.connectedComponents(pairs), corpus, length(col("text")))
        .orderBy("cluster_id")
    }.copy(headline = true),

    // ---- per-source vocabulary coverage: OOV rate against the corpus
    //      top-1000 vocabulary (count-desc, token-asc boundary) — the
    //      tokenizer-coverage check before committing to a vocab. ----
    QueryDef(
      "q124_vocab_coverage",
      s"""WITH tk AS (
         |  SELECT source, unnest($toksSql) AS tok FROM documents),
         |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
         |vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 1000)
         |SELECT tk.source, count(*) AS n_tokens,
         |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |       CAST(floor(1000000 *
         |            CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |            / count(*)) AS BIGINT) AS oov_micro
         |FROM tk LEFT JOIN vocab v ON v.tok = tk.tok
         |GROUP BY tk.source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), vocabSize = 1000)
        .orderBy("source")
    },

    // ---- hard-negative mining for contrastive training: per query
    //      vector, the top-10 most-similar corpus vectors with a
    //      DIFFERENT label — same two-level top-k machinery as q29 with
    //      the label predicate pushed before scoring. ----
    QueryDef(
      "q125_hard_negatives",
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_embedding,
         |                  label AS q_label
         |           FROM embeddings WHERE vec_id < 5),
         |sims AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${cosineSql("q.q_embedding", "e.embedding")} AS sim
         |  FROM embeddings e
         |  JOIN q ON q.query_id <> e.vec_id AND e.label <> q.q_label)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM sims) t
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      Similarity.bruteForceTopK(emb, queries, k = 10,
          keep = col("label") =!= col("q_label"))
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    },

    // ---- BM25 ranked retrieval over the corpus (Lucene-default idf
    //      form). Per-term contributions quantize to integer micro-units
    //      before the per-doc sum (q62/q105 pattern); the oracle replays
    //      the identical double expression trees, so the score
    //      hash-matches. Scale: the token stream filters to the query
    //      terms BEFORE its only shuffle; N/avgdl/df are broadcasts; the
    //      top-k cut is a bounded TakeOrdered on the exact integer
    //      score. ----
    QueryDef(
      "q127_bm25",
      s"""WITH ${bm25TopCtes(20)}
         |SELECT doc_id, round(CAST(score_q AS DOUBLE) / 1000000, 4) AS score
         |FROM top ORDER BY score DESC, doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir),
        queryTerms = Seq("join", "vector", "slow"), k = 20)
    },

    // ---- reciprocal-rank fusion (Cormack SIGIR'09): BM25 relevance ×
    //      a length prior fused by Σ 1/(60+rank) — hybrid retrieval
    //      without score calibration (only RANKS cross lists). Both
    //      input rankings are top-50 bounded before fusion; the oracle
    //      replays both rankers and the fusion sum exactly. ----
    QueryDef(
      "q129_rrf_fusion",
      s"""WITH ${bm25TopCtes(50)},
         |ra AS (
         |  SELECT doc_id, row_number() OVER (
         |           ORDER BY round(CAST(score_q AS DOUBLE) / 1000000, 4) DESC,
         |                    doc_id) AS rank
         |  FROM top),
         |rb AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (
         |             ORDER BY n_chars DESC, doc_id) AS rank
         |    FROM documents) t
         |  WHERE rank <= 50),
         |u AS (
         |  SELECT doc_id,
         |         CAST(round(1000000.0 / (60.0 + rank)) AS BIGINT) AS c_q
         |  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)),
         |fused AS (
         |  SELECT doc_id, CAST(sum(c_q) AS BIGINT) AS rrf_q,
         |         count(*) AS n_lists
         |  FROM u GROUP BY doc_id
         |  ORDER BY rrf_q DESC, doc_id LIMIT 20)
         |SELECT doc_id, n_lists,
         |       round(CAST(rrf_q AS DOUBLE) / 1000000, 4) AS rrf
         |FROM fused ORDER BY rrf DESC, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val bmRank = TextAnalysis.bm25(docs,
          queryTerms = Seq("join", "vector", "slow"), k = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rank")
      // length prior: longest docs first — a 50-row bounded ranking
      // (orderBy+limit plans as TakeOrdered; the window then ranks only
      // the 50 survivors, not the corpus)
      val lenRank = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .select("doc_id", "rank")
      TextAnalysis.rrfFuse(Seq(bmRank, lenRank), k = 60, topK = 20)
    },

    // ---- one-pass ANALYZE-style table profile: null counts + exact
    //      NDV for five lineitem columns in a SINGLE scan (Catalyst
    //      plans multi-distinct via Expand — 5× row multiplication at
    //      the agg, but the 100 TB fact table is read ONCE; the approx
    //      path for wide profiles is q50's HLL contract). ----
    QueryDef(
      "q130_table_profile",
      profileOracleSql(Seq(
        "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_discount"))) {
      (s, dir) =>
        val cols = Seq(
          "l_returnflag", "l_linestatus", "l_shipdate", "l_quantity", "l_discount")
        val li = Tables.lineitem(s, dir)
        val aggs = cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
          countDistinct(col(c)).as(s"ndv_$c"))) :+ count(lit(1)).as("n_rows")
        val one = li.agg(aggs.head, aggs.tail: _*)
        val stackArgs = cols.map(c =>
          s"'$c', nulls_$c, ndv_$c").mkString(", ")
        one.select(expr(
            s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, ndv)"),
            col("n_rows"))
          .orderBy("col_name")
    },

    // ---- per-label embedding-centroid drift: cosine between each
    //      label's mean embedding and the corpus mean — the
    //      embedding-space analog of q120's lexical drift monitor.
    //      Micro-quantized per-element sums make the centroids exact
    //      integers; only the final cosine divides in floating point.
    //      Scale: one (group × dim)-grain partial+final sum; the global
    //      centroid (dims rows) broadcasts. ----
    QueryDef(
      "q128_embedding_drift",
      """WITH ex AS (
        |  SELECT label, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
        |  FROM (SELECT label, embedding,
        |               unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings)),
        |gm AS (
        |  SELECT label, pos, count(*) AS c,
        |         CAST(round(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*))
        |              AS BIGINT) AS m
        |  FROM ex GROUP BY label, pos),
        |gl AS (
        |  SELECT pos,
        |         CAST(round(CAST(CAST(sum(xq) AS BIGINT) AS DOUBLE) / count(*))
        |              AS BIGINT) AS mg
        |  FROM ex GROUP BY pos)
        |SELECT label, max(c) AS n_vecs,
        |       round(CAST(CAST(sum(m * mg) AS BIGINT) AS DOUBLE)
        |             / (sqrt(CAST(CAST(sum(m * m) AS BIGINT) AS DOUBLE))
        |                * sqrt(CAST(CAST(sum(mg * mg) AS BIGINT) AS DOUBLE))), 6)
        |         AS drift_cos
        |FROM gm JOIN gl USING (pos)
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, dir) =>
      Similarity.centroidDrift(Tables.embeddings(s, dir))
        .orderBy("label")
    },

    // ---- Gopher-rule quality filter (Rae et al. 2112.11446 §A1.1):
    //      the heuristic pre-filter before any model scoring — per-doc
    //      boolean verdict per rule + composed keep. Every ratio test
    //      is an integer cross-product of token counts (no float
    //      division), so the whole report is one narrow codegen'd scan
    //      with bit-stable verdicts. (Rule SQL shared with q135's
    //      dataset card via gopherCountsCte/gopherKeepSql so the two
    //      oracles cannot drift.) ----
    QueryDef(
      "q131_gopher_rules",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |${gopherCountsCte("t")}
         |SELECT doc_id, n_tokens,
         |       (n_tokens >= 40 AND n_tokens <= 100000) AS len_ok,
         |       (word_chars >= n_tokens * 3 AND word_chars <= n_tokens * 10)
         |         AS mean_len_ok,
         |       (sym_words * 10 <= n_tokens) AS sym_ok,
         |       (alpha_words * 5 >= n_tokens * 4) AS alpha_ok,
         |       (stop_hits >= 2) AS stop_ok,
         |       $gopherKeepSql AS keep
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), stops = stopwords)
        .orderBy("doc_id")
    },

    // ---- memorization-risk score (Lee et al. 2107.06499 / Carlini
    //      2202.07646): ppm of each doc's stride-1 16-token windows
    //      whose hash repeats corpus-wide — verbatim-repeat density,
    //      the "models memorize this first" priority signal. Twin
    //      corpus plants suffix-extended copies so originals AND twins
    //      score high; the oracle replays windows → counts → per-doc
    //      rate in full. ----
    QueryDef(
      "q132_memorization_risk",
      s"""WITH ${twinDocsCtes("graftmemrisk")},
         |w AS (
         |  SELECT doc_id, md5(array_to_string(toks[i:i+15], ' ')) AS g
         |  FROM t, unnest(range(1, len(toks) - 14)) AS u(i)
         |  WHERE len(toks) >= 16),
         |cnt AS (SELECT g, count(*) AS c FROM w GROUP BY g),
         |pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS dup_windows
         |  FROM w JOIN cnt USING (g) GROUP BY doc_id)
         |SELECT t.doc_id,
         |       coalesce(pd.n_windows, 0) AS n_windows,
         |       coalesce(pd.dup_windows, 0) AS dup_windows,
         |       CAST(CASE WHEN coalesce(pd.n_windows, 0) = 0 THEN 0
         |            ELSE 1000000 * pd.dup_windows // pd.n_windows END AS BIGINT)
         |         AS risk_ppm
         |FROM t LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftmemrisk")).as("text"))
      Dedup.memorizationRisk(docs.union(twins), l = 16, minCount = 2)
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- MMR diverse top-k (Carbonell & Goldstein SIGIR'98): greedy
    //      relevance-minus-redundancy selection over embeddings — the
    //      curation primitive for "relevant AND mutually non-redundant"
    //      training examples. The oracle unrolls all five greedy steps
    //      (argmax with correlated max-penalty subqueries); scores are
    //      micro-quantized so both engines cut identical argmaxes. ----
    QueryDef(
      "q133_mmr_select",
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |         ${cosineSql("embedding", "qv")} AS rel
         |  FROM embeddings, q WHERE vec_id > 0 AND vec_id < 300),
         |s1 AS (
         |  SELECT vec_id, embedding,
         |         CAST(round((CAST(0.7 AS DOUBLE) * rel
         |                     - CAST(0.3 AS DOUBLE) * 0.0) * 1000000.0)
         |              AS BIGINT) AS score_micro
         |  FROM c ORDER BY score_micro DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id, embedding FROM s1),
         |s2 AS (
         |  SELECT c.vec_id, c.embedding,
         |         CAST(round((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE)
         |           * (SELECT max(${cosineSql("c.embedding", "s.embedding")})
         |              FROM sel1 s)) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel1)
         |  ORDER BY score_micro DESC, c.vec_id LIMIT 1),
         |sel2 AS (SELECT * FROM sel1 UNION ALL
         |         SELECT vec_id, embedding FROM s2),
         |s3 AS (
         |  SELECT c.vec_id, c.embedding,
         |         CAST(round((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE)
         |           * (SELECT max(${cosineSql("c.embedding", "s.embedding")})
         |              FROM sel2 s)) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
         |  ORDER BY score_micro DESC, c.vec_id LIMIT 1),
         |sel3 AS (SELECT * FROM sel2 UNION ALL
         |         SELECT vec_id, embedding FROM s3),
         |s4 AS (
         |  SELECT c.vec_id, c.embedding,
         |         CAST(round((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE)
         |           * (SELECT max(${cosineSql("c.embedding", "s.embedding")})
         |              FROM sel3 s)) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
         |  ORDER BY score_micro DESC, c.vec_id LIMIT 1),
         |sel4 AS (SELECT * FROM sel3 UNION ALL
         |         SELECT vec_id, embedding FROM s4),
         |s5 AS (
         |  SELECT c.vec_id, c.embedding,
         |         CAST(round((CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE)
         |           * (SELECT max(${cosineSql("c.embedding", "s.embedding")})
         |              FROM sel4 s)) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
         |  ORDER BY score_micro DESC, c.vec_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rank, vec_id, score_micro FROM s1
         |UNION ALL SELECT 2, vec_id, score_micro FROM s2
         |UNION ALL SELECT 3, vec_id, score_micro FROM s3
         |UNION ALL SELECT 4, vec_id, score_micro FROM s4
         |UNION ALL SELECT 5, vec_id, score_micro FROM s5
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.mmrSelect(
        emb.filter(col("vec_id") > 0 && col("vec_id") < 300),
        qv, k = 5, relWeight = 0.7, divWeight = 0.3)
        .orderBy("rank")
    },

    // ---- asymmetric containment join: the quote/subset detector
    //      jaccard misses (a 30-token quote inside a long article has
    //      jaccard ≈ 0.06 but containment 1.0) — the standard signal
    //      for eval-answer leakage inside long documents. Candidate
    //      pairs via the q117 gram-join shape with a df cap; the
    //      planted quotes (first 30 tokens of five docs) come out fully
    //      contained. ----
    QueryDef(
      "q134_containment",
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |         array_to_string(($toksSql)[1:30], ' ')
         |  FROM documents WHERE doc_id < 5),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |sh AS (
         |  SELECT DISTINCT doc_id, ${OracleSql.md5Long("g")} AS g FROM (
         |    SELECT doc_id,
         |           unnest(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
         |                ELSE list_transform(range(1, len(toks) - 3),
         |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                          || ' ' || toks[i+3] || ' ' || toks[i+4]) END) AS g
         |    FROM t) u),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM sh GROUP BY doc_id),
         |dfq AS (SELECT g FROM sh GROUP BY g HAVING count(*) BETWEEN 2 AND 100),
         |live AS (SELECT sh.doc_id, sh.g FROM sh JOIN dfq USING (g)),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS shared
         |  FROM live a JOIN live b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT CASE WHEN za.ng <= zb.ng THEN id_a ELSE id_b END AS contained_id,
         |         CASE WHEN za.ng <= zb.ng THEN id_b ELSE id_a END AS container_id,
         |         shared,
         |         least(za.ng, zb.ng) AS n_contained,
         |         CAST(10000 * shared // least(za.ng, zb.ng) AS BIGINT)
         |           AS containment_bp
         |  FROM pairs
         |  JOIN sz za ON za.doc_id = pairs.id_a
         |  JOIN sz zb ON zb.doc_id = pairs.id_b)
         |SELECT * FROM j WHERE containment_bp >= 8000
         |ORDER BY contained_id, container_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val quotes = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", slice(TextAnalysis.wsTokens(col("text")), 1, 30))
            .as("text"))
      Dedup.containmentPairs(docs.union(quotes), k = 5, tauBp = 8000, dfCap = 100)
        .orderBy("contained_id", "container_id")
    }.copy(headline = true),

    // ---- dataset card: the one-row-per-metric corpus summary a
    //      training run publishes (datasheet/data-card practice) —
    //      size, token mass, source/lang breadth, exact-dup surplus,
    //      Gopher-keep yield. ONE scan: the gopher rule counts ride the
    //      same projection as the raw metrics (multi-distinct plans via
    //      Expand, the q130 contract), so the 100 TB corpus is read
    //      once for the whole card. ----
    QueryDef(
      "q135_dataset_card",
      s"""WITH t AS (
         |  SELECT doc_id, source, lang, text, $toksSql AS toks FROM documents),
         |${gopherCountsCte("t")},
         |k AS (SELECT CAST(sum(CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END)
         |             AS BIGINT) AS gopher_keep FROM c),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
         |           AS dup_surplus_docs
         |  FROM t)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM m
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM m
         |  UNION ALL SELECT 'n_sources', n_sources FROM m
         |  UNION ALL SELECT 'n_langs', n_langs FROM m
         |  UNION ALL SELECT 'dup_surplus_docs', dup_surplus_docs FROM m
         |  UNION ALL SELECT 'gopher_keep_docs', gopher_keep FROM k)
         |ORDER BY metric""".stripMargin) { (s, dir) =>
      val card = TextAnalysis.gopherRules(Tables.documents(s, dir),
          stops = stopwords, passthrough = Seq("source", "lang", "text"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(md5(col("text"))))
            .as("dup_surplus_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("gopher_keep_docs"))
      card.select(expr(
          "stack(6, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
            "'n_sources', n_sources, 'n_langs', n_langs, " +
            "'dup_surplus_docs', dup_surplus_docs, " +
            "'gopher_keep_docs', gopher_keep_docs) AS (metric, value)"))
        .orderBy("metric")
    },

    // ---- pair-similarity histogram over a content-addressed sample:
    //      the threshold-calibration report — where does this corpus's
    //      organic pair-jaccard mass sit? Work is sample²/2 by
    //      construction (the permille predicate rides the scan), so the
    //      broadcast self-join is bounded at any corpus size. Exact
    //      integer basis points; shares the hashed-3-shingle spelling
    //      with the q31/q91 verify machinery. ----
    QueryDef(
      "q136_pair_sim_histogram",
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE ${OracleSql.md5Long("'pairsim' || CAST(doc_id AS VARCHAR)")}
         |        % 1000 < 40),
         |${shingle3Cte("t")},
         |p AS (
         |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |         CAST(len(a.sh) + len(b.sh)
         |              - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT CAST((10000 * inter // uni) // 1000 AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Dedup.pairSimHistogram(
        Tables.documents(s, dir), samplePermille = 40, k = 3)
    },

    // ---- tokenizer fertility per source: subword symbols per word
    //      under the pinned BPE table — the tokenizer-efficiency /
    //      per-source-fairness metric (a source whose fertility is 2×
    //      the corpus mean pays 2× the context budget per word; the
    //      number vocab-size and language-mix decisions are made on).
    //      Integer ppm so the report is engine-exact; the oracle
    //      replays the full segmentation per word (the q108 replace
    //      chain) and aggregates identically. Scale shape: segmentation
    //      is a narrow map (chained folds), then ONE keyed agg on the
    //      handful of sources. ----
    QueryDef(
      "q140_tokenizer_fertility",
      s"""WITH tk AS (
         |  SELECT source, $toksSql AS toks FROM documents),
         |seg AS (
         |  SELECT source,
         |         CAST(len(toks) AS BIGINT) AS n_words,
         |         CAST(coalesce(list_sum(list_transform(toks, w ->
         |           len(string_split(trim($bpeSegmentChainSql, chr(1)),
         |               chr(1) || chr(1))))), 0) AS BIGINT) AS n_syms
         |  FROM tk)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS n_words,
         |       CAST(sum(n_syms) AS BIGINT) AS n_symbols,
         |       CAST(CASE WHEN sum(n_words) = 0 THEN 0
         |            ELSE 1000000 * sum(n_syms) // sum(n_words)
         |            END AS BIGINT) AS fertility_ppm
         |FROM seg
         |GROUP BY source
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val segs = TextAnalysis.bpeSegment(col("text"), TextAnalysis.pinnedMerges)
      Tables.documents(s, dir)
        .select(col("source"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_words"),
          size(flatten(segs)).cast("long").as("n_syms"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_syms").as("n_symbols"))
        .select(col("source"), col("n_docs"), col("n_words"), col("n_symbols"),
          expr("CASE WHEN n_words = 0 THEN 0 " +
            "ELSE 1000000 * n_symbols div n_words END").as("fertility_ppm"))
        .orderBy("source")
    },

    // ---- token-distribution entropy per document: the repetition /
    //      diversity quality signal (template spam and keyword stuffing
    //      score LOW — the complement of rarity/perplexity scoring,
    //      which measures improbability, not self-repetition).
    //      Micro-nat integer quantization per term BEFORE the per-doc
    //      sum + integer final division = engine-exact. ----
    QueryDef(
      "q141_token_entropy",
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |tf AS (
         |  SELECT doc_id, t, count(*) AS n FROM tk GROUP BY 1, 2),
         |tot AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt FROM tf GROUP BY 1),
         |q AS (
         |  SELECT tf.doc_id,
         |         CAST(round(1000000 * tf.n *
         |           ln(CAST(tot.nt AS DOUBLE) / tf.n)) AS BIGINT) AS q,
         |         tot.nt
         |  FROM tf JOIN tot USING (doc_id))
         |SELECT doc_id,
         |       CAST(max(nt) AS BIGINT) AS n_tokens,
         |       CAST(sum(q) // max(nt) AS BIGINT) AS ent_micronat
         |FROM q
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir))
        .orderBy("doc_id")
    },

    // ---- int8 embedding quantization fidelity: per-dim corpus min/max
    //      → 0..255 codes → reconstruction-error stats per vector — the
    //      float32→int8 compression pass (4× smaller vectors for
    //      serving/ANN) with the fidelity evidence attached. min/max
    //      involve no arithmetic (exact anywhere); codes/reconstruction
    //      are fixed-association double math; errors quantize to
    //      integer micro-units before the per-vector sum — the oracle
    //      replays every step bit-for-bit. ----
    QueryDef(
      "q142_embedding_quantize",
      """WITH ex AS (
        |  SELECT vec_id,
        |         unnest(range(1, len(embedding) + 1)) AS pos,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
        |q AS (
        |  SELECT ex.vec_id,
        |         CASE WHEN st.mx = st.mn THEN 0
        |              ELSE CAST(round(255 * (CAST(ex.x AS DOUBLE) - CAST(st.mn AS DOUBLE))
        |                   / (CAST(st.mx AS DOUBLE) - CAST(st.mn AS DOUBLE))) AS BIGINT)
        |         END AS code,
        |         CAST(ex.x AS DOUBLE) AS xd,
        |         CAST(st.mn AS DOUBLE) AS mnd,
        |         CAST(st.mx AS DOUBLE) AS mxd
        |  FROM ex JOIN st USING (pos)),
        |e AS (
        |  SELECT vec_id,
        |         CAST(round(1000000 *
        |           abs(xd - (mnd + code * (mxd - mnd) / 255))) AS BIGINT) AS err
        |  FROM q)
        |SELECT vec_id,
        |       CAST(count(*) AS BIGINT) AS n_dims,
        |       CAST(max(err) AS BIGINT) AS max_err_micro,
        |       CAST(sum(err) // count(*) AS BIGINT) AS mean_err_micro
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Similarity.int8QuantReport(Tables.embeddings(s, dir))
        .orderBy("vec_id")
    },

    // ---- Unicode NFC normalization: the first pass of multilingual
    //      cleaning (decomposed e+U+0301 and precomposed é must dedup /
    //      tokenize / fingerprint identically). Spark has no built-in;
    //      graft_nfc is a native codegen expression (UnicodeNormalize
    //      .scala) with a no-allocation ASCII fast path — a UDF here
    //      would break WholeStageCodegen around the hottest narrow scan
    //      in the pipeline. The corpus is ASCII, so each doc gets a
    //      deterministic decoration by doc_id residue: decomposed
    //      (normalization must rewrite), precomposed (must pass
    //      through), untouched ASCII (fast path) — all three legs
    //      oracle-checked against DuckDB's utf8proc nfc_normalize,
    //      pinning JDK-vs-utf8proc UAX #15 agreement. ----
    QueryDef(
      "q143_nfc_normalize",
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
        |              WHEN doc_id % 3 = 1 THEN text || ' caf' || chr(233)
        |              ELSE text END AS deco
        |  FROM documents)
        |SELECT doc_id,
        |       nfc_normalize(deco) AS nfc_text,
        |       CAST(length(deco) AS BIGINT) AS raw_cp,
        |       CAST(length(nfc_normalize(deco)) AS BIGINT) AS nfc_cp,
        |       deco <> nfc_normalize(deco) AS changed
        |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val deco = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" cafe\u0301")))
        .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" caf\u00e9")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), deco.as("deco"))
        .select(col("doc_id"),
          graft.functions.TextNormFunctions.graftNfc(col("deco")).as("nfc_text"),
          length(col("deco")).cast("long").as("raw_cp"),
          length(graft.functions.TextNormFunctions.graftNfc(col("deco")))
            .cast("long").as("nfc_cp"),
          (col("deco") =!=
            graft.functions.TextNormFunctions.graftNfc(col("deco"))).as("changed"))
        .orderBy("doc_id")
    },

    // ---- accent stripping (q184): the search/dedup normalization step
    //      AFTER NFC — "café" and "cafe" should fingerprint together
    //      even though NFC keeps them distinct. graft_strip_accents is
    //      a native codegen expression (NFD + drop combining marks,
    //      ASCII fast path); decorations cover all four legs: a
    //      precomposed accent (must strip), a decomposed combining mark
    //      (must strip), a NON-decomposable cluster (œ/ß survive — the
    //      deliberate no-strip), and untouched ASCII (fast path) — all
    //      oracle-checked against DuckDB's utf8proc strip_accents,
    //      pinning JDK-NFD-vs-utf8proc agreement. ----
    QueryDef(
      "q184_strip_accents",
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0 THEN text || ' Zu' || chr(776) || 'rich'
        |              WHEN doc_id % 4 = 1 THEN text || ' caf' || chr(233)
        |              WHEN doc_id % 4 = 2 THEN text || ' ' || chr(339) || 'uvre-stra'
        |                   || chr(223) || 'e'
        |              ELSE text END AS deco
        |  FROM documents)
        |SELECT doc_id,
        |       strip_accents(deco) AS plain_text,
        |       deco <> strip_accents(deco) AS changed,
        |       CAST(length(deco) AS BIGINT) AS raw_cp,
        |       CAST(length(strip_accents(deco)) AS BIGINT) AS plain_cp
        |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.TextNormFunctions.graftStripAccents
      val deco = when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" Zürich")))
        .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" café")))
        .when(col("doc_id") % 4 === 2,
          concat(col("text"), lit(" œuvre-straße")))
        .otherwise(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), deco.as("deco"))
        .select(col("doc_id"),
          graftStripAccents(col("deco")).as("plain_text"),
          (col("deco") =!= graftStripAccents(col("deco"))).as("changed"),
          length(col("deco")).cast("long").as("raw_cp"),
          length(graftStripAccents(col("deco"))).cast("long").as("plain_cp"))
        .orderBy("doc_id")
    },

    // ---- homoglyph-skeleton dedup (q185): UTS #39-style confusable
    //      folding — Cyrillic/Greek lookalikes map to their Latin
    //      skeletons before exact dedup, so a spoofed copy ("сash" with
    //      Cyrillic с) collapses onto its original. The adversarial-
    //      text leg of the dedup family: byte-level hashing is blind to
    //      it, and LSH only notices when MANY tokens change. Planted
    //      spoof twins substitute 4 vowels; the skeleton groups pair
    //      each spoof with its source. Pinned 16-char mapping shared
    //      verbatim by both engines' translate(). ----
    QueryDef(
      "q185_homoglyph_dedup", {
        val cyr = homoCyr
        val lat = homoLat
        s"""WITH base AS (SELECT doc_id, text FROM documents),
           |tw AS (SELECT doc_id + 5000000 AS doc_id,
           |              translate(text, 'aceo',
           |                chr(1072) || chr(1089) || chr(1077) || chr(1086))
           |                AS text
           |       FROM base WHERE doc_id < 15),
           |d AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
           |sk AS (SELECT doc_id,
           |              translate(text, '$cyr', '$lat') AS skel,
           |              text <> translate(text, '$cyr', '$lat') AS spoofed
           |       FROM d),
           |g AS (SELECT md5(skel) AS fp, min(doc_id) AS keep_id,
           |             CAST(count(*) AS BIGINT) AS n_copies,
           |             CAST(sum(CASE WHEN spoofed THEN 1 ELSE 0 END)
           |               AS BIGINT) AS n_spoofed
           |      FROM sk GROUP BY 1)
           |SELECT keep_id, n_copies, n_spoofed
           |FROM g WHERE n_copies >= 2
           |ORDER BY keep_id""".stripMargin
      }) { (s, dir) =>
      val cyr = homoCyr
      val lat = homoLat
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val twins = base.filter(col("doc_id") < 15)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          translate(col("text"), "aceo", homoTwinTo)
            .as("text"))
      base.union(twins)
        .select(col("doc_id"),
          translate(col("text"), cyr, lat).as("skel"),
          (col("text") =!= translate(col("text"), cyr, lat)).as("spoofed"))
        .groupBy(md5(col("skel")).as("fp"))
        .agg(min("doc_id").as("keep_id"),
          count(lit(1)).as("n_copies"),
          sum(when(col("spoofed"), 1L).otherwise(0L)).as("n_spoofed"))
        .filter(col("n_copies") >= 2)
        .select("keep_id", "n_copies", "n_spoofed")
        .orderBy("keep_id")
    },

    // ---- DoReMi-style domain re-weighting (arXiv:2305.10429, one-shot
    //      excess-loss form): weight each source by its clipped excess
    //      average bigram surprisal over the corpus mean — the mixture
    //      knob that upweights under-modeled domains. Exact-integer end
    //      to end (micro-nat quantization shared with q105, floor-div
    //      averages, basis-point weights), so the whole weighting —
    //      model, per-source averages, clipping, normalization — is
    //      replayed by the oracle. ----
    QueryDef(
      "q146_domain_reweight",
      s"""WITH tk AS (
         |  SELECT source, $toksSql AS t FROM documents),
         |bi AS (
         |  SELECT source, t[i] AS prev, t[i+1] AS cur
         |  FROM (SELECT source, t, unnest(range(1, len(t))) AS i
         |        FROM tk WHERE len(t) >= 2)),
         |c2 AS (SELECT prev, cur, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT count(DISTINCT cur) AS v FROM c2),
         |q AS (
         |  SELECT bi.source,
         |         CAST(round(1000000 *
         |           ln(CAST(c1.c1 + v.v AS DOUBLE) / (c2.c2 + 1))) AS BIGINT) AS q
         |  FROM bi
         |  JOIN c2 USING (prev, cur)
         |  JOIN c1 USING (prev)
         |  CROSS JOIN v),
         |per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(sum(q) AS BIGINT) AS sumq
         |  FROM q GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(sumq) // sum(n_bigrams) AS BIGINT) AS corpus_nll_micro,
         |         count(*) AS n_sources
         |  FROM per),
         |ex AS (
         |  SELECT per.source, per.n_bigrams,
         |         CAST(per.sumq // per.n_bigrams AS BIGINT) AS src_nll_micro,
         |         tot.corpus_nll_micro,
         |         greatest(0, per.sumq // per.n_bigrams - tot.corpus_nll_micro)
         |           AS excess_micro,
         |         tot.n_sources
         |  FROM per CROSS JOIN tot),
         |te AS (SELECT CAST(sum(excess_micro) AS BIGINT) AS tot_excess FROM ex)
         |SELECT source, n_bigrams, src_nll_micro, corpus_nll_micro,
         |       CAST(excess_micro AS BIGINT) AS excess_micro,
         |       CAST(CASE WHEN te.tot_excess > 0
         |                 THEN 10000 * excess_micro // te.tot_excess
         |                 ELSE 10000 // n_sources END AS BIGINT) AS weight_bp
         |FROM ex CROSS JOIN te
         |ORDER BY source""".stripMargin) { (s, dir) =>
      TextAnalysis.domainReweight(Tables.documents(s, dir))
        .orderBy("source")
    },

    // ---- quality-signal ENSEMBLE (Borda rank fusion for curation):
    //      real pipelines gate on a committee of weak signals, not one —
    //      here LM surprisal (lower = better), token entropy (higher =
    //      more diverse) and length (longer = better, the Gopher prior)
    //      fuse by summing each doc's corpus-wide rank under the three
    //      orders; the top-k by summed rank survives. Rank fusion is
    //      scale-free (no signal normalization to tune) and exactly
    //      reproducible: each rank is a `Scale.globalRank` over a
    //      composite TOTAL order (signal, doc_id) — range partition +
    //      prefix sum, never a single-partition window — and the fused
    //      ranks are integers, so the oracle replays all three
    //      row_numbers and the fusion bit-for-bit. Docs with <2 tokens
    //      have no LM signal and are excluded by the committee (inner
    //      join), the standard unscorable-doc rule (q105). ----
    QueryDef(
      "q147_quality_ensemble",
      s"""WITH tk AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |tku AS (SELECT doc_id, unnest(t) AS tok FROM tk),
         |tf AS (SELECT doc_id, tok, count(*) AS n FROM tku GROUP BY 1, 2),
         |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt FROM tf GROUP BY 1),
         |eq AS (
         |  SELECT tf.doc_id,
         |         CAST(round(1000000 * tf.n *
         |           ln(CAST(tot.nt AS DOUBLE) / tf.n)) AS BIGINT) AS q,
         |         tot.nt
         |  FROM tf JOIN tot USING (doc_id)),
         |ent AS (
         |  SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_tokens,
         |         CAST(sum(q) // max(nt) AS BIGINT) AS ent_micronat
         |  FROM eq GROUP BY 1),
         |bi AS (
         |  SELECT doc_id, t[i] AS prev, t[i+1] AS cur
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |        FROM tk WHERE len(t) >= 2)),
         |c2 AS (SELECT prev, cur, count(*) AS c2 FROM bi GROUP BY 1, 2),
         |c1 AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT count(DISTINCT cur) AS v FROM c2),
         |nq AS (
         |  SELECT bi.doc_id,
         |         CAST(round(1000000 *
         |           ln(CAST(c1.c1 + v.v AS DOUBLE) / (c2.c2 + 1))) AS BIGINT) AS q
         |  FROM bi JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v),
         |nll AS (
         |  SELECT doc_id, CAST(sum(q) // count(*) AS BIGINT) AS nll_micro
         |  FROM nq GROUP BY 1),
         |sig AS (
         |  SELECT ent.doc_id, nll.nll_micro, ent.ent_micronat, ent.n_tokens
         |  FROM ent JOIN nll USING (doc_id)),
         |rk AS (
         |  SELECT doc_id, nll_micro, ent_micronat, n_tokens,
         |         row_number() OVER (ORDER BY nll_micro, doc_id) AS r1,
         |         row_number() OVER (ORDER BY ent_micronat DESC, doc_id) AS r2,
         |         row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS r3
         |  FROM sig)
         |SELECT doc_id, nll_micro, ent_micronat, n_tokens,
         |       CAST(r1 + r2 + r3 AS BIGINT) AS borda
         |FROM rk
         |ORDER BY borda, doc_id
         |LIMIT 50""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val ent = TextAnalysis.tokenEntropy(docs)
      val nll = TextAnalysis.bigramNllMicro(docs).select("doc_id", "nll_micro")
      val sig = ent.join(nll, "doc_id")
        .select(col("doc_id"), col("nll_micro"), col("ent_micronat"),
          col("n_tokens"),
          (-col("ent_micronat")).as("neg_ent"),
          (-col("n_tokens")).as("neg_len"))
      // rank passes CHAINED (guide §2.4): globalRank APPENDS its rank
      // column and pins its output internally, so each pass ranks the
      // previous pass's materialized frame — the former shape pinned
      // sig separately, ranked 3 projections of it, and joined the 3
      // rank frames back on doc_id (3 joins + 1 extra checkpoint, all
      // removed; same rank values, every pass ranks the same row set).
      val r1 = Scale.globalRank(sig, "r1", "nll_micro", "doc_id")
      val r2 = Scale.globalRank(r1, "r2", "neg_ent", "doc_id")
      val r3 = Scale.globalRank(r2, "r3", "neg_len", "doc_id")
      r3.select(col("doc_id"), col("nll_micro"), col("ent_micronat"),
          col("n_tokens"),
          (col("r1") + col("r2") + col("r3")).as("borda"))
        .orderBy("borda", "doc_id")
        .limit(50)
    }.copy(headline = true), // sweep slow-tail promotion (round 7, tier 2)

    // ---- product-quantization ANN (q149): the memory-scale path for
    //      embedding search — m=4 subspace codebooks (k=16 each, the
    //      q61 deterministic Lloyd iteration per subspace) compress each
    //      64-dim float vector to 4 bytes, and queries rank the corpus
    //      by ADC table lookups instead of vector math. The oracle
    //      unrolls ALL of it: both Lloyd rounds in every subspace, the
    //      per-query distance tables against the trained codebook, and
    //      the subspace-order left-associated ADC sum — so codebook
    //      training, encoding, and search are each hash-checked, not
    //      just the final ranking. ----
    QueryDef(
      "q149_pq_ann", pqOracleSql) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.pqTopK(emb, queries, topK = 5)
        .orderBy("query_id", "rank")
    }.copy(headline = true),

    // ---- PQ recall audit (q155): the q110 pattern for the two-stage
    //      PQ path — ADC shortlists 100 candidates from the compressed
    //      codes, exact L2 re-ranks the shortlist (pqTopKRefined, the
    //      form that ships: distance concentration makes raw ADC@5 a
    //      blunt instrument, but an excellent FILTER), and the refined
    //      top-5 is scored against the EXACT squared-L2 brute-force
    //      top-5. recall_bp = hits·2000 of the 5-deep truth — the
    //      measurement that prices (m, k, shortlist) at corpus scale,
    //      exactly as q110 prices (nBuckets, nprobe). The oracle
    //      replays codebook training, encoding, the 100-deep ADC cut,
    //      AND the exact refine. ----
    QueryDef(
      "q155_pq_recall",
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
         |            FROM embeddings WHERE vec_id < 8),
         |bf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${l2Sql("q.q_embedding", "e.embedding")} ASC,
         |                      e.vec_id) AS rank
         |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
         |  WHERE rank <= 5),
         |short AS (SELECT query_id, neighbor_id
         |          FROM (${pqOracleSqlCut(100)}) t2),
         |ref AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT s.query_id, s.neighbor_id,
         |           row_number() OVER (PARTITION BY s.query_id
         |             ORDER BY ${l2Sql("q.q_embedding", "e.embedding")} ASC,
         |                      s.neighbor_id) AS rank
         |    FROM short s
         |    JOIN embeddings e ON e.vec_id = s.neighbor_id
         |    JOIN qs q ON q.query_id = s.query_id) t
         |  WHERE rank <= 5),
         |hits AS (
         |  SELECT p.query_id, count(*) AS n
         |  FROM ref p JOIN bf b
         |    ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
         |  GROUP BY p.query_id)
         |SELECT q.query_id,
         |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.n, 0) * 2000 AS BIGINT) AS recall_bp
         |FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val bf = Similarity.bruteForceTopKL2(emb, queries, k = 5)
        .select("query_id", "neighbor_id")
      val ref = Similarity.pqTopKRefined(emb, queries, topK = 5, shortlist = 100)
        .select("query_id", "neighbor_id")
      val hits = ref.join(bf, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n"))
      queries.select("query_id")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n"), lit(0L)).as("n_hits"),
          (coalesce(col("n"), lit(0L)) * 2000).as("recall_bp"))
        .orderBy("query_id")
    },

    // ---- Luhn-validated card-number triage (q157): the q57 regex
    //      family finds digit SHAPES; real PII triage must separate
    //      checksum-VALID card numbers (redact + alert) from random
    //      digit runs (noise) — the checksum is the difference between
    //      ~100% and ~10% precision on 16-digit matches. Synthetic
    //      16-digit candidates planted per doc; both engines fold the
    //      standard double-every-second-from-right sum with identical
    //      integer lambdas, so validity is hash-exact. Narrow scan. ----
    QueryDef(
      "q157_luhn_pii", {
        val luhnSql =
          """list_sum(list_transform(range(1, 17), i ->
            |  CASE WHEN i % 2 = 1
            |       THEN CASE WHEN 2 * CAST(substring(cand, CAST(i AS INT), 1) AS INT) > 9
            |                 THEN 2 * CAST(substring(cand, CAST(i AS INT), 1) AS INT) - 9
            |                 ELSE 2 * CAST(substring(cand, CAST(i AS INT), 1) AS INT) END
            |       ELSE CAST(substring(cand, CAST(i AS INT), 1) AS INT) END))"""
            .stripMargin.replace("\n", " ")
        s"""WITH d AS (
           |  SELECT doc_id,
           |         '4' || lpad(CAST(doc_id * 48271 % 1000000000000000 AS VARCHAR),
           |                     15, '0') AS cand
           |  FROM documents WHERE doc_id % 5 = 0)
           |SELECT doc_id, cand,
           |       CAST($luhnSql AS BIGINT) AS luhn_total,
           |       CAST($luhnSql AS BIGINT) % 10 = 0 AS luhn_valid
           |FROM d ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val luhn = expr(
        """aggregate(transform(sequence(1, 16), i ->
          |  CASE WHEN i % 2 = 1
          |       THEN CASE WHEN 2 * CAST(substring(cand, i, 1) AS INT) > 9
          |                 THEN 2 * CAST(substring(cand, i, 1) AS INT) - 9
          |                 ELSE 2 * CAST(substring(cand, i, 1) AS INT) END
          |       ELSE CAST(substring(cand, i, 1) AS INT) END),
          |  0L, (a, x) -> a + x)""".stripMargin.replace("\n", " "))
      Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          concat(lit("4"),
            lpad((col("doc_id") * 48271L % 1000000000000000L).cast("string"),
              15, "0")).as("cand"))
        .select(col("doc_id"), col("cand"),
          luhn.cast("long").as("luhn_total"),
          (luhn.cast("long") % 10 === 0).as("luhn_valid"))
        .orderBy("doc_id")
    },

    // ---- leakage-safe train/val/test split (q166): near-duplicates of
    //      an eval document inside the training set are silent
    //      contamination — a per-DOCUMENT hash split (q104) happily
    //      strands twins on opposite sides. Here the split key is the
    //      near-dup CLUSTER representative (q60's connected components
    //      over LSH pairs), so an entire duplicate family lands on ONE
    //      side by construction. Planted twins make the property
    //      non-vacuous; the oracle replays pairs → closure → rep →
    //      the exact q104 md5-bucket rule on the rep. ----
    QueryDef(
      "q166_leakage_safe_split",
      s"""WITH RECURSIVE ${twinDocsCtes("graftplantedtail")},
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes,
         |cl AS (SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id),
         |alld AS (
         |  SELECT t.doc_id, coalesce(cl.rep, t.doc_id) AS rep
         |  FROM t LEFT JOIN cl ON cl.id = t.doc_id),
         |sp AS (
         |  SELECT doc_id, rep,
         |         CAST(('0x' || substring(
         |           md5(CAST(rep AS VARCHAR) || '|graftsplit'), 1, 6)) AS BIGINT)
         |           % 10000 AS bucket
         |  FROM alld)
         |SELECT doc_id, rep,
         |       CASE WHEN bucket < 8000 THEN 'train'
         |            WHEN bucket < 9000 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM sp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      val uni = docs.union(twins)
      val pairs = Dedup.nearDupPairs(uni, threshold = 0.7)
        .select("id_a", "id_b")
      val cl = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("cluster").as("rep0"))
      val withRep = uni.select("doc_id")
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep0"), col("doc_id")).as("rep"))
      Scale.hashSplit(withRep, "rep", "graftsplit",
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy("doc_id")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- split-leakage audit (q197): how many NEAR-DUP pairs does the
    //      naive per-document hash split scatter ACROSS train/val/test?
    //      The measurement that motivates q166's cluster-level split —
    //      a near-identical pair straddling train and test inflates
    //      eval. Pairs from the exact-contract near-dup join (jaccard ≥
    //      0.7, planted twins included — twins get independent split
    //      hashes, so they leak by construction); splits from the q104
    //      content-addressed rule; output is the split-pair leakage
    //      matrix. Subset corpus keeps the brute oracle bounded. ----
    QueryDef(
      "q197_split_leakage",
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' graftplantedtail'
         |  FROM documents WHERE doc_id < 10),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN CAST(('0x' || substring(
         |                md5(CAST(doc_id AS VARCHAR) || '|graftsplit'),
         |                1, 6)) AS BIGINT) % 10000 < 8000 THEN 'train'
         |              WHEN CAST(('0x' || substring(
         |                md5(CAST(doc_id AS VARCHAR) || '|graftsplit'),
         |                1, 6)) AS BIGINT) % 10000 < 9000 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM d)
         |SELECT least(a.split, b.split) AS split_lo,
         |       greatest(a.split, b.split) AS split_hi,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       least(a.split, b.split) <> greatest(a.split, b.split)
         |         AS leaked
         |FROM pr
         |JOIN sp a ON a.doc_id = pr.id_a
         |JOIN sp b ON b.doc_id = pr.id_b
         |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") < 1000).select("doc_id", "text")
      val twins = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"))
      val corpus = base.union(twins)
      val pairs = Dedup.nearDupPairs(corpus, threshold = 0.7)
        .select("id_a", "id_b")
      val sp = Scale.hashSplit(corpus.select("doc_id"), "doc_id",
          "graftsplit", Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .select("doc_id", "split")
      pairs
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("split_lo"), col("split_hi"), col("n_pairs"),
          (col("split_lo") =!= col("split_hi")).as("leaked"))
        .orderBy("split_lo", "split_hi")
    },

    // ---- clustering quality vs ground truth (q194): purity and the
    //      exact Adjusted Rand Index of the deterministic k-means
    //      assignment against the embeddings' true `label` column — the
    //      eval that decides whether unsupervised clusters are USABLE
    //      as supervision (SemDeDup buckets, curriculum groups). ARI is
    //      pure pair-counting combinatorics, so the whole metric is
    //      integer-exact: C(x,2) sums, cross-multiplied through C(n,2),
    //      ×2 to clear the half, DECIMAL(38,0) products, sign-safe
    //      division (chance-level clusterings go negative). Oracle
    //      replays the 2-round k-means (shared CTEs) + the same
    //      combinatorics. ----
    QueryDef(
      "q194_clustering_ari",
      s"""WITH ev AS (
         |  SELECT vec_id, embedding,
         |         ${OracleSql.md5Long("CAST(vec_id AS VARCHAR)")} % 16 AS cluster
         |  FROM embeddings),
         |${centroidCte("ev", "cent0")},
         |${assignCte("cent0", "a1")},
         |${centroidCte("a1", "cent1")},
         |${assignCte("cent1", "a2")},
         |lab AS (SELECT e.vec_id, a2.cluster, e.label
         |        FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id),
         |ct AS (SELECT cluster, label, count(*) AS nij
         |       FROM lab GROUP BY 1, 2),
         |ai AS (SELECT cluster, sum(nij) AS a FROM ct GROUP BY 1),
         |bj AS (SELECT label, sum(nij) AS b FROM ct GROUP BY 1),
         |s AS (
         |  SELECT (SELECT sum(nij * (nij - 1) // 2) FROM ct) AS sij,
         |         (SELECT sum(a * (a - 1) // 2) FROM ai) AS sa,
         |         (SELECT sum(b * (b - 1) // 2) FROM bj) AS sb,
         |         (SELECT sum(nij) FROM ct) AS n,
         |         (SELECT sum(mx) FROM (
         |            SELECT max(nij) AS mx FROM ct GROUP BY cluster) t)
         |           AS majority),
         |k AS (
         |  SELECT n, majority, sij, sa, sb,
         |         CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) // 2
         |           AS DECIMAL(38,0)) AS c2,
         |         CAST(sa AS DECIMAL(38,0)) * sb AS sasb
         |  FROM s)
         |SELECT CAST(n AS BIGINT) AS n,
         |       CAST(majority * 10000 // n AS BIGINT) AS purity_bp,
         |       CAST(CASE
         |         WHEN c2 * (sa + sb) = 2 * sasb THEN NULL
         |         WHEN c2 * sij >= sasb THEN
         |           CAST((c2 * sij - sasb) * 2 * 10000 AS HUGEINT)
         |             // CAST(c2 * (sa + sb) - 2 * sasb AS HUGEINT)
         |         ELSE -(CAST((sasb - c2 * sij) * 2 * 10000 AS HUGEINT)
         |             // CAST(c2 * (sa + sb) - 2 * sasb AS HUGEINT))
         |         END AS BIGINT) AS ari_bp
         |FROM k""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val assigned = Similarity.kmeansLite(emb, k = 16)
      val ct = assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("nij"))
        .localCheckpoint() // four aggregates below read this tiny table
      val sij = ct.agg(sum(expr("nij * (nij - 1) div 2")).as("sij"),
        sum("nij").as("n"))
      val sa = ct.groupBy("cluster").agg(sum("nij").as("a"))
        .agg(sum(expr("a * (a - 1) div 2")).as("sa"))
      val sb = ct.groupBy("label").agg(sum("nij").as("b"))
        .agg(sum(expr("b * (b - 1) div 2")).as("sb"))
      val maj = ct.groupBy("cluster").agg(max("nij").as("mx"))
        .agg(sum("mx").as("majority"))
      sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .crossJoin(broadcast(maj))
        .select(col("n"), col("majority"), col("sij"), col("sa"), col("sb"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2
            | AS DECIMAL(38,0))""".stripMargin).as("c2"),
          (col("sa").cast("decimal(38,0)") * col("sb")).as("sasb"))
        .select(col("n"),
          expr("majority * 10000 div n").as("purity_bp"),
          when(col("c2") * (col("sa") + col("sb")) === col("sasb") * 2,
            lit(null))
            .otherwise(expr(
              """CAST((c2 * sij - sasb) * 2 * 10000
                | div (c2 * (sa + sb) - 2 * sasb) AS BIGINT)""".stripMargin))
            .as("ari_bp"))
    }.copy(headline = true), // sweep slow-tail promotion (round 8, final tier)

    // ---- Johnson-Lindenstrauss distortion audit (q182): project the
    //      64-dim embeddings onto 16 dims with a pinned ±1 (Achlioptas)
    //      matrix and report the pairwise distance-ratio histogram over
    //      a bounded sample — the go/no-go audit BEFORE swapping the
    //      ANN/dedup paths onto reduced vectors at 100 TB (4× less
    //      memory and shuffle IF the ratios concentrate near 10000 bp).
    //      ±1 entries keep every projected coordinate a signed SUM, so
    //      both engines run identical index-ordered IEEE folds (the
    //      q29/q30 precedent); the sign masks are literal longs shared
    //      between the query and the oracle. ----
    QueryDef(
      "q182_jl_distortion", {
        val masks = graft.similarity.Similarity.jlMasks
        def projSql(j: Int): String =
          s"""list_sum(list_transform(range(1, 65),
             |  i -> (CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             |        - CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
             |       * (CASE WHEN (CAST(${masks(j)} AS BIGINT)
             |            >> (CAST(i AS INT) - 1)) & 1 = 1
             |          THEN 1.0 ELSE -1.0 END)))""".stripMargin
        val d2pSql = (0 until 16)
          .map(j => s"(p$j * p$j)").mkString(" + ")
        s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
           |           WHERE vec_id < 40),
           |p AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         ${l2Sql("a.embedding", "b.embedding")} AS d2,
           |         ${(0 until 16).map(j => s"${projSql(j)} AS p$j")
                       .mkString(", ")}
           |  FROM s a JOIN s b ON a.vec_id < b.vec_id),
           |r AS (
           |  SELECT id_a, id_b,
           |         CAST(round(10000.0 * ($d2pSql) / (16.0 * d2)) AS BIGINT)
           |           AS ratio_bp
           |  FROM p WHERE d2 > 0)
           |SELECT CAST(ratio_bp // 1000 AS BIGINT) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_pairs
           |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin
      }) { (s, dir) =>
      val sample = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 40).select("vec_id", "embedding")
      val pairs = sample.as("a").join(
        broadcast(sample.select(col("vec_id").as("id_b"),
          col("embedding").as("eb"))),
        col("vec_id") < col("id_b"))
        .select(col("vec_id").as("id_a"), col("id_b"),
          zip_with(col("embedding"), col("eb"),
            (x, y) => x.cast("double") - y.cast("double")).as("diff"))
      val d2 = aggregate(transform(col("diff"), x => x * x),
        lit(0.0), (acc, x) => acc + x)
      def pj(j: Int) = aggregate(
        transform(col("diff"), (x, i) =>
          x * element_at(
            typedLit(graft.similarity.Similarity.jlSigns(j, 64)), i + 1)),
        lit(0.0), (acc, x) => acc + x)
      pairs
        .withColumn("d2", d2)
        .select(Seq(col("id_a"), col("id_b"), col("d2")) ++
          (0 until 16).map(j => pj(j).as(s"p$j")): _*)
        .filter(col("d2") > 0.0)
        .select(expr("CAST(round(10000.0 * (" +
          (0 until 16).map(j => s"p$j * p$j").mkString(" + ") +
          ") / (16.0 * d2)) AS BIGINT)").as("ratio_bp"))
        .select(expr("ratio_bp div 1000").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket")
    },

    // ---- JL-projected ANN recall (q183): the follow-through on q182 —
    //      run the SAME top-10 L2 retrieval in the 16-dim projected
    //      space and report recall@10 against the exact 64-dim truth
    //      per query. q110 audits the IVF approximation; this audits
    //      the REPRESENTATION approximation (4× smaller vectors, 4×
    //      less scan/shuffle at 100 TB — shippable only if this number
    //      holds). On THIS corpus the verdict is NO (recall ~10%):
    //      near-isotropic synthetic embeddings leave top-10 margins far
    //      below the k=16 JL distortion — exactly the failure the audit
    //      exists to catch before a fleet burns a week on reduced
    //      vectors. Corpus is projected ONCE (narrow, 16 signed sums
    //      per row); both rankings are bounded top-k. ----
    QueryDef(
      "q183_jl_ann_recall", {
        val masks = graft.similarity.Similarity.jlMasks
        def projVecSql(rel: String, j: Int): String =
          s"""list_sum(list_transform(range(1, 65),
             |  i -> CAST($rel.embedding[CAST(i AS INT)] AS DOUBLE)
             |       * (CASE WHEN (CAST(${masks(j)} AS BIGINT)
             |            >> (CAST(i AS INT) - 1)) & 1 = 1
             |          THEN 1.0 ELSE -1.0 END)))""".stripMargin
        s"""WITH pc AS (
           |  SELECT vec_id,
           |         [${(0 until 16).map(j => projVecSql("embeddings", j))
                        .mkString(", ")}] AS ps
           |  FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS q_embedding
           |      FROM embeddings WHERE vec_id < 5),
           |qp AS (SELECT vec_id AS query_id, ps AS qs FROM pc
           |       WHERE vec_id < 5),
           |ex AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.query_id, e.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.query_id
           |             ORDER BY ${l2Sql("q.q_embedding", "e.embedding")},
           |                      e.vec_id) AS rank
           |    FROM embeddings e JOIN q ON q.query_id <> e.vec_id) t
           |  WHERE rank <= 10),
           |pr AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT qp.query_id, c.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY qp.query_id
           |             ORDER BY list_sum(list_transform(
           |               list_zip(qp.qs, c.ps),
           |               x -> (x[1] - x[2]) * (x[1] - x[2]))),
           |                      c.vec_id) AS rank
           |    FROM pc c JOIN qp ON qp.query_id <> c.vec_id) t
           |  WHERE rank <= 10)
           |SELECT ex.query_id,
           |       CAST(count(pr.neighbor_id) AS BIGINT) AS n_hits,
           |       CAST(count(pr.neighbor_id) * 10000 // 10 AS BIGINT)
           |         AS recall_bp
           |FROM ex LEFT JOIN pr
           |  ON ex.query_id = pr.query_id
           | AND ex.neighbor_id = pr.neighbor_id
           |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      def pj(j: Int) = aggregate(
        transform(col("embedding"), (x, i) =>
          x.cast("double") * element_at(
            typedLit(graft.similarity.Similarity.jlSigns(j, 64)), i + 1)),
        lit(0.0), (acc, x) => acc + x)
      val pc = emb.select(col("vec_id"),
        array((0 until 16).map(pj): _*).as("ps"))
        .localCheckpoint() // projected corpus read by both join sides
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val exact = graft.similarity.Similarity
        .bruteForceTopKL2(emb, queries, k = 10)
        .select("query_id", "neighbor_id")
      val qp = pc.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("ps").as("qs"))
      val pd2 = aggregate(zip_with(col("qs"), col("ps"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
      val w = Window.partitionBy("query_id")
        .orderBy(col("pd2"), col("neighbor_id"))
      val projTop = pc.join(broadcast(qp), col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          pd2.as("pd2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id")
      exact.as("ex").join(projTop.as("pr"),
          col("ex.query_id") === col("pr.query_id") &&
            col("ex.neighbor_id") === col("pr.neighbor_id"), "left_outer")
        .groupBy(col("ex.query_id").as("query_id"))
        .agg(count(col("pr.neighbor_id")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("n_hits * 10000 div 10").as("recall_bp"))
        .orderBy("query_id")
    },

    // ---- multinomial Naive Bayes language classifier (q199): train on
    //      a content-addressed 80% split, score the held-out 20%, report
    //      the confusion matrix. The FULL train+apply path is
    //      oracle-checked (unlike iterative trainers, NB training IS one
    //      aggregation): per-(lang, token) Laplace log-likelihoods and
    //      per-lang priors, micro-unit-quantized BEFORE the per-doc
    //      integer sum (the q62/q105 idiom). Scale shape: the model is
    //      vocab-bounded and BROADCAST — scoring is one map-side join
    //      over per-doc distinct-token counts plus a doc-keyed argmax;
    //      the corpus is never shuffled by token. Unseen-token mass uses
    //      the closed form (T - seen) * w0(lang), so the dense doc x lang
    //      frame is 5 rows per doc, not vocab-wide. ----
    QueryDef(
      "q199_nb_langid",
      """WITH sp AS (
        |  SELECT doc_id, lang, text,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |            || '|graftnb'), 1, 6)) AS BIGINT) % 10000 AS bucket
        |  FROM documents),
        |tr AS (SELECT * FROM sp WHERE bucket < 8000),
        |te AS (SELECT * FROM sp WHERE bucket >= 8000),
        |tt AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM tr),
        |ct AS (SELECT lang, tok, count(*) AS c FROM tt GROUP BY 1, 2),
        |nl AS (SELECT lang, sum(c) AS nl FROM ct GROUP BY 1),
        |vv AS (SELECT count(DISTINCT tok) AS v FROM ct),
        |dl AS (SELECT lang, count(*) AS dl FROM tr GROUP BY 1),
        |dd AS (SELECT count(*) AS dd FROM tr),
        |cls AS (
        |  SELECT dl.lang,
        |         CAST(round(1000000 * ln(CAST(dl.dl AS DOUBLE) / dd.dd))
        |           AS BIGINT) AS prior_q,
        |         CAST(round(1000000 * ln(1.0 / (nl.nl + vv.v)))
        |           AS BIGINT) AS w0_q
        |  FROM dl, dd, nl, vv WHERE nl.lang = dl.lang),
        |w AS (
        |  SELECT ct.lang, ct.tok,
        |         CAST(round(1000000 * ln(CAST(ct.c + 1 AS DOUBLE)
        |            / (nl.nl + vv.v))) AS BIGINT) AS w_q
        |  FROM ct, nl, vv WHERE nl.lang = ct.lang),
        |dtok AS (
        |  SELECT doc_id, tok, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM te)
        |  GROUP BY 1, 2),
        |td AS (SELECT doc_id, sum(cnt) AS t FROM dtok GROUP BY 1),
        |seen AS (
        |  SELECT d.doc_id, w.lang AS plang,
        |         sum(d.cnt * w.w_q) AS sw, sum(d.cnt) AS sc
        |  FROM dtok d JOIN w ON w.tok = d.tok GROUP BY 1, 2),
        |scr AS (
        |  SELECT te.doc_id, te.lang AS true_lang, cls.lang AS plang,
        |         cls.prior_q + coalesce(seen.sw, 0)
        |           + (td.t - coalesce(seen.sc, 0)) * cls.w0_q AS score
        |  FROM te JOIN td ON td.doc_id = te.doc_id
        |  CROSS JOIN cls
        |  LEFT JOIN seen ON seen.doc_id = te.doc_id
        |               AND seen.plang = cls.lang),
        |pred AS (
        |  SELECT doc_id, true_lang, plang AS pred_lang FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, plang) AS rn FROM scr) t
        |  WHERE rn = 1)
        |SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2
        |ORDER BY true_lang, pred_lang""".stripMargin) { (s, dir) =>
      val docs = Scale.hashSplit(
        Tables.documents(s, dir).select("doc_id", "lang", "text"),
        "doc_id", "graftnb", Seq("train" -> 8000, "test" -> 2000))
      val train = docs.filter(col("split") === "train")
      val test = docs.filter(col("split") === "test")
      val ct = train
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint() // model-sized; read by weights + nl + vocab
      val nl = ct.groupBy("lang").agg(sum("c").as("nl"))
      val vv = ct.select("tok").distinct().agg(count(lit(1)).as("v"))
      val dl = train.groupBy("lang").agg(count(lit(1)).as("dl"))
      val dd = train.agg(count(lit(1)).as("dd"))
      val cls = dl.join(broadcast(nl), "lang")
        .crossJoin(broadcast(vv)).crossJoin(broadcast(dd))
        .select(col("lang").as("plang"),
          round(lit(1000000) * log(col("dl").cast("double") / col("dd")))
            .cast("long").as("prior_q"),
          round(lit(1000000) * log(lit(1.0) / (col("nl") + col("v"))))
            .cast("long").as("w0_q"))
      val weights = ct.join(broadcast(nl), "lang").crossJoin(broadcast(vv))
        .select(col("lang").as("plang"), col("tok"),
          round(lit(1000000) * log((col("c") + lit(1)).cast("double")
            / (col("nl") + col("v")))).cast("long").as("w_q"))
      val dtok = test
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      val td = dtok.groupBy("doc_id").agg(sum("cnt").as("t"))
      val seen = dtok.join(broadcast(weights), "tok")
        .groupBy("doc_id", "plang")
        .agg(sum(col("cnt") * col("w_q")).as("sw"), sum("cnt").as("sc"))
      test.select(col("doc_id"), col("lang").as("true_lang"))
        .join(td, "doc_id")
        .crossJoin(broadcast(cls))
        .join(seen, Seq("doc_id", "plang"), "left_outer")
        .select(col("doc_id"), col("true_lang"), col("plang"),
          (col("prior_q") + coalesce(col("sw"), lit(0L))
            + (col("t") - coalesce(col("sc"), lit(0L))) * col("w0_q"))
            .as("score"))
        .groupBy("doc_id", "true_lang")
        .agg(min(struct((-col("score")).as("ns"), col("plang").as("pl")))
          .as("m"))
        .groupBy(col("true_lang"), col("m.pl").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("true_lang", "pred_lang")
    }.copy(headline = true),

    // ---- content-defined chunking dedup (q200): FastCDC-style local
    //      boundaries (cut where the rolling 4-gram hash ≡ 0 mod 8), so
    //      an edit reflows only the chunks it touches. The corpus plants
    //      PREFIX-edited twins — the case that breaks fixed-size
    //      chunking (q73: every chunk shifts) but not CDC: every
    //      original cutpoint survives a prepend, so every original
    //      chunk except the head chunk still matches. Output: per-doc
    //      shared-chunk summary. ----
    QueryDef(
      "q200_cdc_dedup",
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'graftcdc ' || text
         |  FROM documents WHERE doc_id < 10),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
         |${cdcChunkCtes("t")},
         |occ AS (
         |  SELECT chunk_hash, count(DISTINCT doc_id) AS nd
         |  FROM ch GROUP BY 1)
         |SELECT ch.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN occ.nd >= 2 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_shared_chunks,
         |       CAST(CAST(sum(CASE WHEN occ.nd >= 2 THEN ch.n_tokens
         |                     ELSE 0 END) AS HUGEINT) * 1000000
         |            // CAST(sum(ch.n_tokens) AS HUGEINT) AS BIGINT)
         |         AS shared_token_ppm
         |FROM ch JOIN occ USING (chunk_hash)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("graftcdc "), col("text")).as("text"))
      val chunks = Dedup.cdcChunks(docs.union(twins))
      val occ = chunks.groupBy("chunk_hash")
        .agg(countDistinct("doc_id").as("nd"))
      chunks.join(occ, "chunk_hash")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"),
          sum(when(col("nd") >= 2, col("n_tokens")).otherwise(0L)).as("st"),
          sum("n_tokens").as("tt"))
        .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
          expr("st * 1000000 div tt").as("shared_token_ppm"))
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- blocklist / policy filter (q201): which banned phrases does
    //      each document contain (the C4 cleaning step)? One native
    //      Aho-Corasick pass over the text bytes per row — O(|text|)
    //      regardless of blocklist size — vs k contains() scans or a
    //      backtracking regex alternation; the automaton is a constant
    //      reference object inside whole-stage codegen. Exactly
    //      list_sort(list_filter(terms, t -> contains(text, t))). ----
    QueryDef(
      "q201_blocklist", {
        val termList = PipelineQueries.blocklistTerms
          .map(t => s"'$t'").mkString("[", ", ", "]")
        s"""SELECT doc_id,
           |       CAST(len(m) AS BIGINT) AS n_terms,
           |       array_to_string(m, ',') AS terms_csv
           |FROM (
           |  SELECT doc_id,
           |         list_sort(list_filter($termList,
           |           t -> contains(text, t))) AS m
           |  FROM documents) t
           |WHERE len(m) > 0
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.MultiMatchFunctions.graftMultiMatch(
            col("text"), PipelineQueries.blocklistTerms).as("m"))
        .filter(size(col("m")) > 0)
        .select(col("doc_id"), size(col("m")).cast("long").as("n_terms"),
          array_join(col("m"), ",").as("terms_csv"))
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- water-filling mixture allocation (q202): split a global token
    //      budget (60% of corpus tokens) across sources so every source
    //      gets an EQUAL share except those whose capacity is below the
    //      water level, which contribute everything — the "how many
    //      tokens of each source" curation decision under per-source
    //      caps. Closed form, all integers: sort by cap, prefix sums,
    //      the saturated set is the prefix where cap ≤ the running fair
    //      share, the remainder spreads base/+1 Hamilton-style so the
    //      allocation sums to the budget EXACTLY. Scale shape: the only
    //      corpus-sized work is the per-source token count; everything
    //      after runs on the S-row aggregate (bounded global window,
    //      q193's precedent). ----
    QueryDef(
      "q202_water_fill",
      """WITH tok AS (
        |  SELECT source, sum(len(string_split(text, ' '))) AS cap
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(cap) AS t, count(*) AS s FROM tok),
        |b AS (SELECT CAST(t AS HUGEINT) * 6 // 10 AS budget, s FROM tot),
        |r AS (
        |  SELECT source, cap,
        |         row_number() OVER (ORDER BY cap, source) AS i,
        |         sum(cap) OVER (ORDER BY cap, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi
        |  FROM tok),
        |f AS (
        |  SELECT r.*, b.budget, b.s,
        |         CASE WHEN cap <= CAST(greatest(budget - (pi - cap), 0)
        |                AS HUGEINT) // (s - i + 1)
        |              THEN 1 ELSE 0 END AS sat_flag
        |  FROM r, b),
        |k AS (
        |  SELECT coalesce((SELECT min(i) - 1 FROM f WHERE sat_flag = 0),
        |                  (SELECT s FROM b)) AS k),
        |q AS (
        |  SELECT k.k,
        |         coalesce((SELECT sum(cap) FROM f WHERE i <= k.k), 0) AS pk,
        |         b.budget, b.s
        |  FROM k, b),
        |p AS (
        |  SELECT k, pk, budget, s,
        |         CASE WHEN s > k THEN CAST(budget - pk AS HUGEINT) // (s - k)
        |              ELSE 0 END AS base,
        |         CASE WHEN s > k THEN CAST(budget - pk AS HUGEINT) % (s - k)
        |              ELSE 0 END AS extra,
        |         CASE WHEN s = k THEN budget - pk ELSE 0 END AS unallocated
        |  FROM q)
        |SELECT f.source, CAST(f.cap AS BIGINT) AS cap_tokens,
        |       CAST(CASE WHEN f.i <= p.k THEN f.cap
        |                 WHEN f.i - p.k <= p.extra THEN p.base + 1
        |                 ELSE p.base END AS BIGINT) AS alloc_tokens,
        |       CAST(CASE WHEN f.i <= p.k THEN 1 ELSE 0 END AS BIGINT)
        |         AS saturated,
        |       CAST(p.unallocated AS BIGINT) AS unallocated
        |FROM f, p ORDER BY f.source""".stripMargin) { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("cap"))
      val budget = tok.agg(sum("cap").as("t"))
        .select(expr("t * 6 div 10").as("budget"))
      Scale.waterFill(tok, budget).orderBy("source")
    },

    // ---- Wilson lower-bound source ranking (q203): rank sources by the
    //      95% lower confidence bound of their Gopher-keep pass rate —
    //      the small-sample-aware "which domains are actually clean"
    //      ranking (a 3/3 source must NOT outrank a 95/100 one, which
    //      raw pass-rate ranking does). Bit-exact across engines: the
    //      bound is +,-,×,÷,sqrt only — all IEEE correctly-rounded — in
    //      ONE identical expression string, then micro-unit rounded.
    //      Scale shape: one corpus scan into a per-source 2-counter
    //      aggregate; the ranking window is S rows. ----
    QueryDef(
      "q203_wilson_rank", {
        val nd = "CAST(n_docs AS DOUBLE)"
        val ph = s"(CAST(n_pass AS DOUBLE) / $nd)"
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |${gopherCountsCte("t")},
           |g AS (
           |  SELECT d.source,
           |         CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS keep
           |  FROM c JOIN documents d USING (doc_id)),
           |a AS (
           |  SELECT source, count(*) AS n_docs, sum(keep) AS n_pass
           |  FROM g GROUP BY 1),
           |wdef AS (
           |  SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           |         CAST(n_pass AS BIGINT) AS n_pass,
           |         CAST(round(1000000 * (($ph + (1.96 * 1.96) / (2 * $nd)
           |           - 1.96 * sqrt($ph * (1 - $ph) / $nd
           |                         + (1.96 * 1.96) / (4 * $nd * $nd)))
           |           / (1 + (1.96 * 1.96) / $nd))) AS BIGINT)
           |           AS wilson_lb_q
           |  FROM a)
           |SELECT source, n_docs, n_pass, wilson_lb_q,
           |       CAST(row_number() OVER (
           |         ORDER BY wilson_lb_q DESC, source) AS BIGINT) AS rnk
           |FROM wdef ORDER BY rnk""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val nd = "CAST(n_docs AS DOUBLE)"
      val ph = s"(CAST(n_pass AS DOUBLE) / $nd)"
      TextAnalysis.gopherRules(Tables.documents(s, dir),
          stops = stopwords, passthrough = Seq("source"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_pass"))
        .select(col("source"), col("n_docs"), col("n_pass"),
          expr(s"""CAST(round(1000000 * (($ph + (1.96 * 1.96) / (2 * $nd)
                  |  - 1.96 * sqrt($ph * (1 - $ph) / $nd
                  |                + (1.96 * 1.96) / (4 * $nd * $nd)))
                  |  / (1 + (1.96 * 1.96) / $nd))) AS BIGINT)""".stripMargin)
            .as("wilson_lb_q"))
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("wilson_lb_q").desc,
            col("source"))).cast("long"))
        .orderBy("rnk")
    },

    // ---- curriculum interleave schedule (q204): the deterministic
    //      training ORDER — quality deciles best-first, and WITHIN each
    //      decile sources interleave round-robin (so no decile opens
    //      with a single-domain run). Entirely rank arithmetic: decile
    //      via the distributed equi-depth machinery (ntile semantics,
    //      globalRank — no single-partition window over the corpus),
    //      intra-(decile,source) position via a per-group window, and
    //      the global train_pos via a SECOND globalRank over (decile,
    //      pos, source) — the same total order the oracle's one window
    //      states declaratively. Append-stable given the same corpus
    //      snapshot; every tie broken by doc_id. ----
    QueryDef(
      "q204_curriculum", {
        s"""WITH t AS (
           |  SELECT doc_id, source,
           |         CAST(len(list_filter(string_split(text, ' '),
           |                w -> list_contains($stopwordsSql, w)))
           |              AS BIGINT) * 1000000
           |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS sc
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, source, sc,
           |         11 - ntile(10) OVER (ORDER BY sc, doc_id) AS decile
           |  FROM t),
           |p AS (
           |  SELECT b.*, row_number() OVER (PARTITION BY decile, source
           |           ORDER BY sc DESC, doc_id) AS pos
           |  FROM b)
           |SELECT doc_id, source, CAST(decile AS BIGINT) AS decile,
           |       CAST(row_number() OVER (ORDER BY decile, pos, source)
           |         AS BIGINT) AS train_pos
           |FROM p ORDER BY train_pos""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr(s"""CAST(size(filter(split(text, ' '),
                  |  w -> array_contains(array(${stopwords
                       .map(w => s"'$w'").mkString(", ")}), w)))
                  |AS BIGINT) * 1000000
                  |div CAST(size(split(text, ' ')) AS BIGINT)""".stripMargin)
            .as("sc"))
      val binned = Scale.equiDepthBins(scored, 10, "sc", "doc_id")
        .withColumn("decile", (lit(11) - col("bin")).cast("long"))
        .withColumn("pos",
          row_number().over(Window.partitionBy("decile", "source")
            .orderBy(col("sc").desc, col("doc_id"))))
      Scale.globalRank(binned, "train_pos", "decile", "pos", "source")
        .select(col("doc_id"), col("source"), col("decile"),
          col("train_pos"))
        .orderBy("train_pos")
    },

    // ---- MinHash precision/recall curve (q205): how good is a 16-hash
    //      MinHash estimate as a REPLACEMENT for exact jaccard, at each
    //      candidate threshold? The go/no-go audit before trusting
    //      sketch-only dedup at a new threshold. Corpus: a bounded
    //      sample + planted high-sim (1-token tail) and mid-sim
    //      (half-doc) twins so both ends of the curve are populated.
    //      The estimator here is the PORTABLE construction — per-slot
    //      minima of md5Long(slot || ':' || gramhash) — so the oracle
    //      replays the sketch bit-for-bit; exact side is the hashed
    //      3-gram jaccard. Scale shape: sample²/2 by construction
    //      (q136's contract) — the curve converges in SAMPLE size. ----
    QueryDef(
      "q205_minhash_pr",
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' graftpr'
         |  FROM documents WHERE doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |         array_to_string((string_split(text, ' '))[
         |           1:greatest(len(string_split(text, ' ')) // 2, 1)], ' ')
         |  FROM documents WHERE doc_id < 40),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |${shingle3Cte("t")},
         |sg AS (
         |  SELECT doc_id, sh,
         |         list_transform(range(0, 16), i ->
         |           list_min(list_transform(sh, h ->
         |             ${OracleSql.md5Long(
                        "CAST(i AS VARCHAR) || ':' || CAST(h AS VARCHAR)")})))
         |           AS sig
         |  FROM s),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         len(list_intersect(a.sh, b.sh)) AS inter,
         |         len(a.sh) AS na, len(b.sh) AS nb,
         |         len(list_filter(range(1, 17),
         |             j -> a.sig[j] = b.sig[j])) AS matches
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id),
         |sc AS (
         |  SELECT 10000 * inter // (na + nb - inter) AS exact_bp,
         |         10000 * matches // 16 AS est_bp
         |  FROM p),
         |tt AS (SELECT unnest([5000, 6000, 7000, 8000, 9000]) AS tau),
         |cls AS (
         |  SELECT tt.tau,
         |         sum(CASE WHEN est_bp >= tau AND exact_bp >= tau
         |             THEN 1 ELSE 0 END) AS tp,
         |         sum(CASE WHEN est_bp >= tau AND exact_bp < tau
         |             THEN 1 ELSE 0 END) AS fp,
         |         sum(CASE WHEN est_bp < tau AND exact_bp >= tau
         |             THEN 1 ELSE 0 END) AS fn
         |  FROM tt CROSS JOIN sc GROUP BY 1)
         |SELECT CAST(tau AS BIGINT) AS tau, CAST(tp AS BIGINT) AS tp,
         |       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         |       CAST(CASE WHEN tp + fp > 0
         |            THEN 10000 * tp // (tp + fp) END AS BIGINT)
         |         AS precision_bp,
         |       CAST(CASE WHEN tp + fn > 0
         |            THEN 10000 * tp // (tp + fn) END AS BIGINT)
         |         AS recall_bp
         |FROM cls ORDER BY tau""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") < 40).select("doc_id", "text")
      val tails = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graftpr")).as("text"))
      val halves = base.select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), lit(1),
          greatest(expr("size(split(text, ' ')) div 2"), lit(1))), " ")
          .as("text"))
      val withSig = base.union(tails).union(halves)
        .select(col("doc_id"),
          graft.functions.GramHashFunctions.graftGramMd5(
            TextAnalysis.wsTokens(col("text")), 3, distinct = true).as("sh"))
        .withColumn("sig",
          array((0 until 16).map(i =>
            array_min(transform(col("sh"), h =>
              TextAnalysis.md5Long(concat(lit(s"$i:"),
                h.cast("string")))))): _*))
        .localCheckpoint() // both sides of the pair self-join
      val rhs = withSig.select(col("doc_id").as("id_b"),
        col("sh").as("shb"), col("sig").as("sigb"))
      val pairs = withSig.join(broadcast(rhs), col("doc_id") < col("id_b"))
        .select(
          size(array_intersect(col("sh"), col("shb"))).cast("long")
            .as("inter"),
          size(col("sh")).cast("long").as("na"),
          size(col("shb")).cast("long").as("nb"),
          size(filter(zip_with(col("sig"), col("sigb"), (x, y) => x === y),
            x => x)).cast("long").as("matches"))
      pairs
        .select(expr("10000 * inter div (na + nb - inter)").as("exact_bp"),
          expr("10000 * matches div 16").as("est_bp"))
        .select(explode(typedLit(Seq(5000L, 6000L, 7000L, 8000L, 9000L)))
          .as("tau"), col("exact_bp"), col("est_bp"))
        .groupBy("tau")
        .agg(
          sum(when(col("est_bp") >= col("tau") &&
            col("exact_bp") >= col("tau"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("est_bp") >= col("tau") &&
            col("exact_bp") < col("tau"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("est_bp") < col("tau") &&
            col("exact_bp") >= col("tau"), 1L).otherwise(0L)).as("fn"))
        .select(col("tau"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            expr("10000 * tp div (tp + fp)")).as("precision_bp"),
          when(col("tp") + col("fn") > 0,
            expr("10000 * tp div (tp + fn)")).as("recall_bp"))
        .orderBy("tau")
    },

    // ---- post-dedup mixture shift (q206): dedup CHANGES the source
    //      mixture — duplicates concentrate in some domains, so the
    //      token shares a mixture was tuned on move the moment exact
    //      dedup runs. Per-source token share before vs after
    //      first-occurrence exact dedup, in ppm, with the delta. The
    //      corpus plants a duplicate-laundering source (exact copies
    //      under a new domain) that dedup zeroes — the case this report
    //      exists to surface. Scale shape: one fingerprint agg (q28's),
    //      one doc-keyed flag join, one S-row aggregate; totals
    //      broadcast. ----
    QueryDef(
      "q206_dedup_mixture_shift",
      """WITH d AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'srcdup', text
        |  FROM documents WHERE doc_id < 15),
        |k AS (SELECT min(doc_id) AS keep_id FROM d GROUP BY md5(text)),
        |tok AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM d),
        |ba AS (
        |  SELECT source, sum(nt) AS t_before,
        |         sum(CASE WHEN doc_id IN (SELECT keep_id FROM k)
        |             THEN nt ELSE 0 END) AS t_after
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT sum(t_before) AS tb, sum(t_after) AS ta FROM ba)
        |SELECT source,
        |       CAST(t_before AS BIGINT) AS tokens_before,
        |       CAST(t_after AS BIGINT) AS tokens_after,
        |       CAST(CAST(t_before AS HUGEINT) * 1000000 // tb AS BIGINT)
        |         AS share_before_ppm,
        |       CAST(CAST(t_after AS HUGEINT) * 1000000 // ta AS BIGINT)
        |         AS share_after_ppm,
        |       CAST(CAST(t_after AS HUGEINT) * 1000000 // ta
        |            - CAST(t_before AS HUGEINT) * 1000000 // tb AS BIGINT)
        |         AS delta_ppm
        |FROM ba, tot ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      val laundered = docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("srcdup").as("source"), col("text"))
      val d = docs.union(laundered)
      val kept = d.groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id")).select("keep_id")
      val ba = d
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .join(kept.withColumn("kept", lit(1L)),
          col("doc_id") === col("keep_id"), "left_outer")
        .groupBy("source")
        .agg(sum("nt").as("t_before"),
          sum(when(col("kept") === 1L, col("nt")).otherwise(0L))
            .as("t_after"))
      val tot = ba.agg(sum("t_before").as("tb"), sum("t_after").as("ta"))
      ba.crossJoin(broadcast(tot))
        .select(col("source"),
          col("t_before").as("tokens_before"),
          col("t_after").as("tokens_after"),
          expr("""CAST(CAST(t_before AS DECIMAL(38,0)) * 1000000 div tb
                | AS BIGINT)""".stripMargin).as("share_before_ppm"),
          expr("""CAST(CAST(t_after AS DECIMAL(38,0)) * 1000000 div ta
                | AS BIGINT)""".stripMargin).as("share_after_ppm"),
          expr("""CAST(CAST(t_after AS DECIMAL(38,0)) * 1000000 div ta
                | - CAST(t_before AS DECIMAL(38,0)) * 1000000 div tb
                | AS BIGINT)""".stripMargin).as("delta_ppm"))
        .orderBy("source")
    },

    // ---- deterministic bootstrap CI (q207): 95% bootstrap confidence
    //      interval of each source's mean quality score — "is src3
    //      really dirtier than src7, or is 25 docs just noise?" (the
    //      interval-overlap companion to q203's Wilson rank). B = 200
    //      resamples whose picks are md5(source, b, slot) mod n — pure
    //      content addressing, so both engines draw the SAME resamples
    //      and the CI is exact-reproducible, no RNG state anywhere. All
    //      integer: micro-unit scores, floor-div means, CI = ranks 5
    //      and 196 of the 200 ordered means. Scale shape: the grid is
    //      B× the corpus — at 100 TB bootstrap a bounded per-source
    //      sample (the estimator converges in sample size, like q136/
    //      q205); every join is (source, slot)-keyed, windows partition
    //      by source. ----
    QueryDef(
      "q207_bootstrap_ci",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                w -> list_contains($stopwordsSql, w)))
         |              AS BIGINT) * 1000000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS sc
         |  FROM documents),
         |r AS (
         |  SELECT t.*,
         |         row_number() OVER (PARTITION BY source ORDER BY doc_id)
         |           - 1 AS rn,
         |         count(*) OVER (PARTITION BY source) AS n
         |  FROM t),
         |grid AS (
         |  SELECT source, rn, n, b.b,
         |         ${OracleSql.md5Long(
                    "'bs:' || source || ':' || CAST(b.b AS VARCHAR)" +
                      " || ':' || CAST(rn AS VARCHAR)")} % n AS pick
         |  FROM r, unnest(range(0, 200)) AS b(b)),
         |m AS (
         |  SELECT g.source, g.b,
         |         CAST(sum(r2.sc) AS HUGEINT) // max(g.n) AS mean_b
         |  FROM grid g JOIN r r2
         |    ON r2.source = g.source AND r2.rn = g.pick
         |  GROUP BY 1, 2),
         |mr AS (
         |  SELECT source, mean_b,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY mean_b, b) AS q
         |  FROM m),
         |pt AS (
         |  SELECT source, CAST(sum(sc) AS HUGEINT) // count(*) AS mean_ppm,
         |         count(*) AS n_docs
         |  FROM t GROUP BY 1)
         |SELECT pt.source, CAST(pt.n_docs AS BIGINT) AS n_docs,
         |       CAST(pt.mean_ppm AS BIGINT) AS mean_ppm,
         |       CAST(lo.mean_b AS BIGINT) AS ci_lo_ppm,
         |       CAST(hi.mean_b AS BIGINT) AS ci_hi_ppm
         |FROM pt
         |JOIN mr lo ON lo.source = pt.source AND lo.q = 5
         |JOIN mr hi ON hi.source = pt.source AND hi.q = 196
         |ORDER BY pt.source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr(s"""CAST(size(filter(split(text, ' '),
                  |  w -> array_contains(array(${stopwords
                       .map(w => s"'$w'").mkString(", ")}), w)))
                  |AS BIGINT) * 1000000
                  |div CAST(size(split(text, ' ')) AS BIGINT)""".stripMargin)
            .as("sc"))
        .localCheckpoint() // read by the rank frame and the point estimate
      val bySrc = Window.partitionBy("source")
      val r = t
        .withColumn("rn", row_number().over(bySrc.orderBy("doc_id")) - 1)
        .withColumn("n", count(lit(1)).over(bySrc))
        // read twice (grid spine + resample lookup) — don't rerun the
        // rank window per consumer; row is (id, src, sc, rn, n)-narrow,
        // and at 100 TB this relation is the BOUNDED per-source sample
        // (scaladoc above), not the corpus
        .localCheckpoint()
      val grid = r
        .select(col("source"), col("rn"), col("n"),
          explode(sequence(lit(0), lit(199))).as("b"))
        .select(col("source"), col("b"), col("n"),
          pmod(TextAnalysis.md5Long(concat(lit("bs:"), col("source"),
            lit(":"), col("b").cast("string"),
            lit(":"), col("rn").cast("string"))), col("n")).as("pick"))
      val m = grid
        .join(r.select(col("source"), col("rn").as("pick"), col("sc")),
          Seq("source", "pick"))
        .groupBy("source", "b")
        .agg(sum("sc").as("ssum"), max("n").as("nn"))
        .select(col("source"), col("b"), expr("ssum div nn").as("mean_b"))
      val mr = m.withColumn("q",
        row_number().over(bySrc.orderBy("mean_b", "b")))
      val pt = t.groupBy("source")
        .agg(expr("sum(sc) div count(1)").as("mean_ppm"),
          count(lit(1)).as("n_docs"))
      // both CI ranks in ONE pass over the ranked means — two separate
      // filter-joins would recompute the B×corpus grid pipeline twice
      val ci = mr.filter(col("q") === 5 || col("q") === 196)
        .groupBy("source")
        .agg(max(when(col("q") === 5, col("mean_b"))).as("ci_lo_ppm"),
          max(when(col("q") === 196, col("mean_b"))).as("ci_hi_ppm"))
      pt.join(ci, "source")
        .select(col("source"), col("n_docs"), col("mean_ppm"),
          col("ci_lo_ppm"), col("ci_hi_ppm"))
        .orderBy("source")
    }.copy(headline = true),

    // ---- code-switching detection (q208): documents whose HEAD and
    //      TAIL halves identify as different languages — mixed-language
    //      pages (boilerplate in one language wrapping content in
    //      another) that a whole-doc langid (q33) files under one label
    //      and a monolingual filter then mis-keeps or mis-drops. Same
    //      marker-profile scorer as q33, applied per half; the corpus
    //      plants Spanish-suffixed twins the whole-doc path would
    //      average away. Narrow: one scan, two marker passes per row,
    //      no shuffle beyond the presentation sort. ----
    QueryDef(
      "q208_code_switch", {
        def scoreSql(p: String, markers: Seq[String]): String =
          markers.map { m =>
            val esc = m.replace("'", "''")
            s"(length($p) - length(replace($p, '$esc', ''))) / ${m.length}"
          }.mkString(" + ")
        val langNames = TextAnalysis.langMarkers.map(_._1)
        def colsFor(p: String, sfx: String) =
          TextAnalysis.langMarkers.map { case (l, ms) =>
            s"${scoreSql(p, ms)} AS s_${sfx}_$l"
          }.mkString(",\n         ")
        def bestFor(sfx: String) =
          s"greatest(${langNames.map(l => s"s_${sfx}_$l").mkString(", ")})"
        def argmaxFor(sfx: String, g: String) =
          s"CASE WHEN $g <= 0 THEN 'und' " +
            langNames.map(l => s"WHEN s_${sfx}_$l = $g THEN '$l'")
              .mkString(" ") + " END"
        s"""WITH d AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text || '$esMixSuffix'
           |  FROM documents WHERE doc_id < 10),
           |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
           |h AS (
           |  SELECT doc_id,
           |         ' ' || lower(array_to_string(
           |           toks[1:(len(toks) + 1) // 2], ' ')) || ' ' AS hp,
           |         ' ' || lower(array_to_string(
           |           toks[(len(toks) + 1) // 2 + 1:], ' ')) || ' ' AS tp
           |  FROM t),
           |sc AS (
           |  SELECT doc_id,
           |         ${colsFor("hp", "h")},
           |         ${colsFor("tp", "t")}
           |  FROM h),
           |g AS (SELECT *, ${bestFor("h")} AS gh, ${bestFor("t")} AS gt
           |      FROM sc)
           |SELECT doc_id,
           |       ${argmaxFor("h", "gh")} AS lang_head,
           |       ${argmaxFor("t", "gt")} AS lang_tail,
           |       (${argmaxFor("h", "gh")}) <> (${argmaxFor("t", "gt")})
           |         AS mixed
           |FROM g ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(esMixSuffix)).as("text"))
      val toks = split(col("text"), " ")
      val half = expr("(size(split(text, ' ')) + 1) div 2")
      docs.union(planted)
        .select(col("doc_id"),
          TextAnalysis.langId(
            array_join(slice(toks, lit(1), half), " ")).as("lang_head"),
          TextAnalysis.langId(
            array_join(slice(toks, half + 1,
              greatest(size(toks) - half, lit(0))), " ")).as("lang_tail"))
        .withColumn("mixed", col("lang_head") =!= col("lang_tail"))
        .orderBy("doc_id")
    },

    // ---- incremental chunk novelty (q209): what fraction of each NEW
    //      document is content the corpus has never seen — the
    //      incremental-crawl triage ("this batch is 92% yesterday's
    //      boilerplate, skip it") run BEFORE paying full dedup.
    //      Yesterday = docs < 300, today's batch = the rest; chunks are
    //      CDC (q200's boundary rule, shared oracle CTEs), so a page
    //      that only grew a new footer still matches its old body
    //      chunks. Scale shape: chunk each side independently (per-doc
    //      boundaries — filtering first is exact), then ONE hash
    //      equi-join of today's chunks against yesterday's distinct
    //      hash set. ----
    QueryDef(
      "q209_chunk_novelty",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |${cdcChunkCtes("t")},
         |old AS (SELECT DISTINCT chunk_hash FROM ch WHERE doc_id < 300),
         |nw AS (SELECT * FROM ch WHERE doc_id >= 300)
         |SELECT nw.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN old.chunk_hash IS NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_novel,
         |       CAST(CAST(sum(CASE WHEN old.chunk_hash IS NULL
         |                     THEN nw.n_tokens ELSE 0 END) AS HUGEINT)
         |            * 1000000 // CAST(sum(nw.n_tokens) AS HUGEINT)
         |         AS BIGINT) AS novel_token_ppm
         |FROM nw LEFT JOIN old USING (chunk_hash)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val oldHashes = Dedup.cdcChunks(docs.filter(col("doc_id") < 300))
        .select("chunk_hash").distinct().withColumn("seen", lit(1))
      Dedup.cdcChunks(docs.filter(col("doc_id") >= 300))
        .join(oldHashes, Seq("chunk_hash"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"),
          sum(when(col("seen").isNull, col("n_tokens")).otherwise(0L))
            .as("nt"),
          sum("n_tokens").as("tt"))
        .select(col("doc_id"), col("n_chunks"), col("n_novel"),
          expr("nt * 1000000 div tt").as("novel_token_ppm"))
        .orderBy("doc_id")
    },

    // ---- query-likelihood retrieval, Dirichlet smoothing (q210): the
    //      language-modeling ranker beside BM25 (q127) — an ABSENT query
    //      term costs ln of its smoothed collection probability instead
    //      of contributing nothing, so short docs aren't rewarded for
    //      omission. Same scale discipline as q127: term-filtered tf
    //      aggregate, broadcast per-term collection counts + 1-row
    //      totals, map-side |Q|-row grid per doc, bounded top-k.
    //      Micro-nat quantization per (doc, term) before the sum. ----
    QueryDef(
      "q210_query_likelihood",
      s"""WITH dls AS (
         |  SELECT doc_id, len($toksSql) AS dl FROM documents),
         |tfq AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toksSql) AS term FROM documents) x
         |  WHERE term IN ('join', 'vector', 'slow') GROUP BY 1, 2),
         |cfq AS (
         |  SELECT term, count(*) AS cf FROM (
         |    SELECT unnest($toksSql) AS term FROM documents) x
         |  WHERE term IN ('join', 'vector', 'slow') GROUP BY 1),
         |st AS (
         |  SELECT sum(len($toksSql)) AS total_tokens FROM documents),
         |grid AS (
         |  SELECT d.doc_id, d.dl, q.term
         |  FROM dls d, unnest(['join', 'vector', 'slow']) AS q(term)),
         |sc AS (
         |  SELECT g.doc_id,
         |         CAST(round(1000000.0 * ln(
         |           (coalesce(t.tf, 0) + 2000.0 * c.cf / s.total_tokens)
         |             / (g.dl + 2000.0))) AS BIGINT) AS c_q
         |  FROM grid g
         |  LEFT JOIN tfq t ON t.doc_id = g.doc_id AND t.term = g.term
         |  JOIN cfq c ON c.term = g.term
         |  CROSS JOIN st s),
         |agg AS (
         |  SELECT doc_id, sum(c_q) AS score_q FROM sc GROUP BY 1
         |  ORDER BY score_q DESC, doc_id LIMIT 20)
         |SELECT doc_id,
         |       round(CAST(score_q AS DOUBLE) / 1000000, 4) AS score
         |FROM agg ORDER BY score DESC, doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.queryLikelihood(Tables.documents(s, dir),
        queryTerms = Seq("join", "vector", "slow"), k = 20)
    },

    // ---- canary leak audit (q211): plant unique canary strings
    //      mid-document (the Carlini-style memorization probe a training
    //      pipeline seeds BEFORE training, then greps generations for),
    //      and audit that the corpus scan finds each canary exactly
    //      where it was planted and NOWHERE else. The scan is one
    //      graft_multi_match automaton pass over the corpus — all K
    //      canaries in one O(|text|) sweep, the same primitive a
    //      billion-doc canary sweep needs. ----
    QueryDef(
      "q211_canary_audit", {
        val canaryList = canaries.map(c => s"'$c'").mkString("[", ", ", "]")
        s"""WITH c AS (
           |  SELECT i.i AS ci, ($canaryList)[i.i + 1] AS canary
           |  FROM unnest(range(0, ${canaries.size})) AS i(i)),
           |d AS (
           |  SELECT d0.doc_id,
           |         CASE WHEN c.canary IS NULL THEN d0.text
           |              ELSE array_to_string(
           |                toks[1:(len(toks) + 1) // 2]
           |                  || string_split(c.canary, ' ')
           |                  || toks[(len(toks) + 1) // 2 + 1:], ' ')
           |         END AS text
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
           |        FROM documents) d0
           |  LEFT JOIN c ON d0.doc_id = c.ci * 7),
           |hits AS (
           |  SELECT doc_id, unnest(list_filter($canaryList,
           |           t -> contains(text, t))) AS canary
           |  FROM d)
           |SELECT canary, doc_id FROM hits
           |ORDER BY canary, doc_id""".stripMargin
      }) { (s, dir) =>
      val cdf = canaries.zipWithIndex
        .map { case (c, i) => (i.toLong * 7L, c) }
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val toks = split(col("text"), " ")
      val half = expr("(size(split(text, ' ')) + 1) div 2")
      val planted = docs
        .join(broadcast(s.createDataFrame(cdf).toDF("cid", "canary")),
          col("doc_id") === col("cid"), "left_outer")
        .select(col("doc_id"),
          when(col("canary").isNull, col("text"))
            .otherwise(array_join(concat(
              slice(toks, lit(1), half),
              split(col("canary"), " "),
              slice(toks, half + 1,
                greatest(size(toks) - half, lit(0)))), " "))
            .as("text"))
      planted
        .select(col("doc_id"),
          explode(graft.functions.MultiMatchFunctions.graftMultiMatch(
            col("text"), canaries)).as("canary"))
        .select(col("canary"), col("doc_id"))
        .orderBy("canary", "doc_id")
    },

    // ---- embedding standardization parameters (q212): per-dimension
    //      mean and std of the embedding corpus — the whitening prep
    //      that makes L2/cosine distances dimension-balanced BEFORE
    //      IVF/PQ/JL run (one hot dimension otherwise dominates every
    //      bucket boundary). Exact two-pass construction: micro-unit
    //      quantization per value, integer sums, then centered squares
    //      in DECIMAL(38,0) — the only doubles are one round(s/n) and
    //      one sqrt of an exact < 2^53 integer, both IEEE
    //      correctly-rounded. Scale shape: two scans into a dims-row
    //      aggregate; the 64-row mean table broadcasts back. ----
    QueryDef(
      "q212_embedding_whiten",
      """WITH ex AS (
        |  SELECT u.i AS dim,
        |         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000)
        |           AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
        |m AS (
        |  SELECT dim, count(*) AS n,
        |         CAST(round(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT)
        |           AS mean_q
        |  FROM ex GROUP BY 1),
        |v AS (
        |  SELECT ex.dim,
        |         CAST(sum(CAST(ex.q - m.mean_q AS HUGEINT)
        |                  * (ex.q - m.mean_q)) AS HUGEINT)
        |           // max(m.n) AS var_q2
        |  FROM ex JOIN m ON m.dim = ex.dim GROUP BY 1)
        |SELECT CAST(m.dim AS BIGINT) AS dim, CAST(m.n AS BIGINT) AS n,
        |       m.mean_q,
        |       CAST(round(sqrt(CAST(v.var_q2 AS DOUBLE))) AS BIGINT)
        |         AS std_q
        |FROM m JOIN v ON v.dim = m.dim
        |ORDER BY dim""".stripMargin) { (s, dir) =>
      val ex = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("p", "x")))
        .select((col("p") + 1).cast("long").as("dim"),
          round(col("x").cast("double") * 1000000).cast("long").as("q"))
      val m = ex.groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("q").as("s"))
        .select(col("dim"), col("n"),
          round(col("s").cast("double") / col("n")).cast("long")
            .as("mean_q"))
      val v = ex.join(broadcast(m), "dim")
        .groupBy("dim")
        .agg(
          sum(((col("q") - col("mean_q")).cast("decimal(38,0)")
            * (col("q") - col("mean_q"))).cast("decimal(38,0)"))
            .as("ss"),
          max("n").as("nn"))
        .select(col("dim"), expr("CAST(ss div nn AS BIGINT)").as("var_q2"))
      m.join(broadcast(v), "dim")
        .select(col("dim"), col("n"), col("mean_q"),
          round(sqrt(col("var_q2").cast("double"))).cast("long")
            .as("std_q"))
        .orderBy("dim")
    },

    // ---- kNN label-noise audit (q213): confident-learning-lite — for a
    //      content-addressed sample of labeled vectors, does the 10-NN
    //      neighborhood vote agree with the assigned label? Per-label
    //      flagged counts (strict-majority disagreement) locate label
    //      noise BEFORE a classifier trains on it. Scale shape: the
    //      sample (the knob, q136's contract) broadcasts against the
    //      corpus scan; the per-query top-k is the bounded two-level
    //      merge; everything after is a labels-row aggregate. ----
    QueryDef(
      "q213_label_noise",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS q_embedding,
         |         label AS qlabel
         |  FROM embeddings
         |  WHERE ${OracleSql.md5Long(
                  "'ln:' || CAST(vec_id AS VARCHAR)")} % 1000 < 200),
         |sims AS (
         |  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
         |         e.label AS nlabel,
         |         ${cosineSql("q.q_embedding", "e.embedding")} AS sim
         |  FROM embeddings e JOIN q ON q.query_id <> e.vec_id),
         |knn AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank
         |    FROM sims) t WHERE rank <= 10),
         |per AS (
         |  SELECT query_id, qlabel,
         |         sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
         |           AS n_agree
         |  FROM knn GROUP BY 1, 2)
         |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_audited,
         |       CAST(sum(CASE WHEN n_agree < 5 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_flagged,
         |       CAST(CAST(sum(CASE WHEN n_agree < 5 THEN 1 ELSE 0 END)
         |              AS HUGEINT) * 10000 // count(*) AS BIGINT)
         |         AS flagged_bp
         |FROM per GROUP BY 1 ORDER BY label""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(
        pmod(TextAnalysis.md5Long(concat(lit("ln:"),
          col("vec_id").cast("string"))), lit(1000L)) < 200)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"), col("label").as("qlabel"))
      val knn = Similarity.bruteForceTopK(emb,
        queries.select("query_id", "q_embedding"), k = 10)
      knn
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlabel")), "neighbor_id")
        .join(broadcast(queries.select("query_id", "qlabel")), "query_id")
        .groupBy("query_id", "qlabel")
        .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("n_agree"))
        .groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_audited"),
          sum(when(col("n_agree") < 5, 1L).otherwise(0L)).as("n_flagged"))
        .select(col("label"), col("n_audited"), col("n_flagged"),
          expr("n_flagged * 10000 div n_audited").as("flagged_bp"))
        .orderBy("label")
    },

    // ---- split goodness-of-fit audit (q214): chi-squared test that the
    //      content-addressed train/val/test split (q104's md5-bucket
    //      rule) actually hits its 80/10/10 weights — the release gate
    //      run on every corpus snapshot (a skewed hash or a doc-id
    //      pattern correlated with the salt shows up here first). ALL
    //      integer arithmetic: term = (10⁴·obs − n·w)² · 10⁶ div
    //      (10⁴·n·w) in 128-bit exact — no doubles anywhere; the χ²(2)
    //      5% critical value ships as a pinned micro-unit literal.
    //      Scale shape: one scan into a 3-row aggregate. ----
    QueryDef(
      "q214_split_gof",
      """WITH sp AS (
        |  SELECT CASE
        |    WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |           || '|graftsplit'), 1, 6)) AS BIGINT) % 10000 < 8000
        |      THEN 'train'
        |    WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |           || '|graftsplit'), 1, 6)) AS BIGINT) % 10000 < 9000
        |      THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM documents),
        |c AS (SELECT split, count(*) AS n_obs FROM sp GROUP BY 1),
        |w AS (
        |  SELECT c.split, c.n_obs,
        |         CASE c.split WHEN 'train' THEN 8000 ELSE 1000 END AS wbp,
        |         (SELECT sum(n_obs) FROM c) AS n
        |  FROM c),
        |t AS (
        |  SELECT split, n_obs,
        |         CAST(CAST(10000 * n_obs - n * wbp AS HUGEINT)
        |              * (10000 * n_obs - n * wbp) * 1000000
        |              // (CAST(10000 AS HUGEINT) * n * wbp) AS BIGINT)
        |           AS term_q
        |  FROM w),
        |s AS (SELECT CAST(sum(term_q) AS BIGINT) AS chi2_q FROM t)
        |SELECT t.split, CAST(t.n_obs AS BIGINT) AS n_obs, t.term_q,
        |       s.chi2_q, s.chi2_q <= 5991465 AS uniform_ok
        |FROM t, s ORDER BY split""".stripMargin) { (s, dir) =>
      val counts = Scale.hashSplit(
        Tables.documents(s, dir).select("doc_id"), "doc_id", "graftsplit",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .groupBy("split").agg(count(lit(1)).as("n_obs"))
      val w = counts
        .withColumn("wbp",
          when(col("split") === "train", 8000L).otherwise(1000L))
        .crossJoin(broadcast(counts.agg(sum("n_obs").as("n"))))
      val t = w.select(col("split"), col("n_obs"),
        expr("""CAST(CAST(10000 * n_obs - n * wbp AS DECIMAL(38,0))
              | * (10000 * n_obs - n * wbp) * 1000000
              | div (CAST(10000 AS DECIMAL(38,0)) * n * wbp) AS BIGINT)"""
          .stripMargin).as("term_q"))
      t.crossJoin(broadcast(t.agg(sum("term_q").as("chi2_q"))))
        .select(col("split"), col("n_obs"), col("term_q"), col("chi2_q"),
          (col("chi2_q") <= 5991465L).as("uniform_ok"))
        .orderBy("split")
    },

    // ---- SCD2 build + point-in-time join (q215): turn a change stream
    //      into slowly-changing-dimension version rows (valid_from =
    //      change ts, version = per-user ordinal, interval closed by the
    //      NEXT change), then join facts to the version in effect at
    //      fact time — the warehouse pattern behind "what plan was this
    //      user on when they bought". The PIT join is the same
    //      union+window as-of machinery as q48/q179 (one shuffle,
    //      linear, never a per-user range product); pre-signup
    //      purchases stay NULL rather than matching a later version.
    //      Ties at one (user, ts) pre-aggregate to max event_id. ----
    QueryDef(
      "q215_scd2_join",
      """WITH s0 AS (
        |  SELECT user_id, ts, max(event_id) AS eid
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |dim AS (
        |  SELECT user_id, ts, eid % 3 AS plan,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts)
        |           AS version
        |  FROM s0),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, d.plan,
        |       CAST(d.version AS BIGINT) AS version,
        |       epoch_us(d.ts) AS valid_from_us
        |FROM p ASOF LEFT JOIN dim d
        |  ON p.user_id = d.user_id AND p.ts >= d.ts
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.eventsTs(s, dir)
      val dim = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("vfrom"))
        .agg(max("event_id").as("eid"))
        .select(col("user_id"), col("vfrom"),
          expr("eid % 3").as("plan"),
          row_number().over(Window.partitionBy("user_id")
            .orderBy("vfrom")).cast("long").as("version"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Temporal.asofJoin(purchases, dim, "user_id", "ts", "vfrom",
          Seq("plan", "version", "vfrom"))
        .select(col("event_id"), col("user_id"), col("plan"),
          col("version"), unix_micros(col("vfrom")).as("valid_from_us"))
        .orderBy("event_id")
    },

    // ---- bounded-round k-core peel (q216): repeatedly drop nodes of
    //      degree < 3 from the co-purchase graph — the dense-core
    //      extraction behind spam-ring / community-core detection
    //      (PageRank finds IMPORTANT nodes; the k-core finds mutually
    //      dense ones). 4 peel rounds, exactly unrolled in the oracle;
    //      peeling is monotone so R rounds are the exact R-step prefix
    //      of the full peel. Each round: one degree aggregate + two
    //      semi-joins on the SHRINKING edge list. ----
    QueryDef(
      "q216_kcore", {
        val peels = (1 to 4).map { r =>
          s"""d$r AS (SELECT n, count(*) AS d FROM (
             |  SELECT u AS n FROM e${r - 1}
             |  UNION ALL SELECT v FROM e${r - 1}) t GROUP BY 1),
             |e$r AS (
             |  SELECT e.u, e.v FROM e${r - 1} e
             |  JOIN d$r du ON du.n = e.u AND du.d >= 3
             |  JOIN d$r dv ON dv.n = e.v AND dv.d >= 3)""".stripMargin
        }.mkString(",\n")
        s"""WITH li AS (
           |  SELECT l_orderkey, l_partkey FROM lineitem
           |  WHERE l_orderkey % 3 = 0 AND l_partkey % 2 = 0),
           |e0 AS (
           |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
           |  FROM li x JOIN li y
           |    ON x.l_orderkey = y.l_orderkey
           |   AND x.l_partkey < y.l_partkey),
           |$peels
           |SELECT n, CAST(count(*) AS BIGINT) AS degree FROM (
           |  SELECT u AS n FROM e4 UNION ALL SELECT v FROM e4) t
           |GROUP BY 1 ORDER BY n""".stripMargin
      }) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0 && col("l_partkey") % 2 === 0)
        .select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("u"), col("y.l_partkey").as("v"))
        .distinct()
      graft.graph.Graph.kCorePeel(e, k = 3, rounds = 4)
        .orderBy("n")
    },

    // ---- late-interaction max-sim retrieval (q217): documents as BAGS
    //      of vectors (ColBERT-style late interaction — here vec groups
    //      of 8), scored by the MAX per-vector cosine against the query
    //      vector; multi-vector queries extend by summing per-query-
    //      vector maxes. The shape single-vector retrieval (q29) cannot
    //      express: a doc matches if ANY of its passage vectors matches.
    //      Scale shape: queries broadcast, per-(query, doc) max is a
    //      partial+final aggregate (map-side combine over each doc's
    //      vectors), top-5 cut per query is the bounded window over the
    //      doc-level (not vector-level) scores. Self-group excluded. ----
    QueryDef(
      "q217_maxsim",
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS q_embedding
         |  FROM embeddings WHERE vec_id % 97 = 0),
         |sims AS (
         |  SELECT q.query_id, e.vec_id // 8 AS doc_id,
         |         max(${cosineSql("q.q_embedding", "e.embedding")}) AS sim
         |  FROM embeddings e JOIN q ON e.vec_id // 8 <> q.query_id // 8
         |  GROUP BY 1, 2)
         |SELECT query_id, doc_id, rank, round(sim, 8) AS sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, doc_id) AS rank
         |  FROM sims) t
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"))
      val sims = emb
        .join(broadcast(queries),
          expr("vec_id div 8") =!= expr("query_id div 8"))
        .groupBy(col("query_id"), expr("vec_id div 8").as("doc_id"))
        .agg(max(Similarity.cosine(col("q_embedding"), col("embedding")))
          .as("sim"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("doc_id"))
      sims.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("doc_id"), col("rank"),
          round(col("sim"), 8).as("sim"))
        .orderBy("query_id", "rank")
    },

    // ---- Neyman allocation audit (q218): how much estimator variance
    //      does smart per-source sample allocation buy? Classic survey
    //      sampling: Var_prop = Σ W_h·S_h²/m vs Neyman's
    //      (Σ W_h·S_h)²/m — the design question behind "sample quality
    //      audits proportionally, or oversample the noisy sources?".
    //      Per-source std via the q212 exact recipe; then every design
    //      quantity is integer: gain_bp = (A·N − B²)·10⁴ div (A·N) with
    //      A = Σ n_h S_h², B = Σ n_h S_h — non-negative by
    //      Cauchy-Schwarz, exactly reproducible. One scan → S-row
    //      aggregate → 1-row report. ----
    QueryDef(
      "q218_neyman_alloc",
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(string_split(text, ' '),
         |                w -> list_contains($stopwordsSql, w)))
         |              AS BIGINT) * 1000000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) AS sc
         |  FROM documents),
         |m AS (
         |  SELECT source, count(*) AS n,
         |         CAST(round(CAST(sum(sc) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS mean_q
         |  FROM t GROUP BY 1),
         |v AS (
         |  SELECT t.source,
         |         CAST(sum(CAST(t.sc - m.mean_q AS HUGEINT)
         |                  * (t.sc - m.mean_q)) AS HUGEINT)
         |           // max(m.n) AS var_q2,
         |         max(m.n) AS n
         |  FROM t JOIN m ON m.source = t.source GROUP BY 1),
         |sd AS (
         |  SELECT source, n,
         |         CAST(round(sqrt(CAST(var_q2 AS DOUBLE))) AS BIGINT) AS s
         |  FROM v),
         |agg AS (
         |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
         |         CAST(sum(CAST(n AS HUGEINT) * s * s) AS HUGEINT) AS a,
         |         CAST(sum(CAST(n AS HUGEINT) * s) AS HUGEINT) AS b
         |  FROM sd)
         |SELECT CAST(nn AS BIGINT) AS n_docs,
         |       CAST(a // nn AS BIGINT) AS var_prop_q2,
         |       CAST(b * b // (nn * nn) AS BIGINT) AS var_neyman_q2,
         |       CAST(CASE WHEN a > 0
         |            THEN (a * nn - b * b) * 10000 // (a * nn) END
         |         AS BIGINT) AS neyman_gain_bp
         |FROM agg""".stripMargin) { (s, dir) =>
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr(s"""CAST(size(filter(split(text, ' '),
                  |  w -> array_contains(array(${stopwords
                       .map(w => s"'$w'").mkString(", ")}), w)))
                  |AS BIGINT) * 1000000
                  |div CAST(size(split(text, ' ')) AS BIGINT)""".stripMargin)
            .as("sc"))
      val m = t.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("sc").as("ssum"))
        .select(col("source"), col("n"),
          round(col("ssum").cast("double") / col("n")).cast("long")
            .as("mean_q"))
      val sd = t.join(broadcast(m), "source")
        .groupBy("source")
        .agg(
          sum(((col("sc") - col("mean_q")).cast("decimal(38,0)")
            * (col("sc") - col("mean_q"))).cast("decimal(38,0)")).as("ss"),
          max("n").as("nn"))
        .select(col("source"), col("nn").as("n"),
          round(sqrt(expr("CAST(ss div nn AS BIGINT)").cast("double")))
            .cast("long").as("s"))
      sd.agg(
          sum("n").as("nn"),
          sum((col("n").cast("decimal(38,0)") * col("s") * col("s"))
            .cast("decimal(38,0)")).as("a"),
          sum((col("n").cast("decimal(38,0)") * col("s"))
            .cast("decimal(38,0)")).as("b"))
        .select(col("nn").cast("long").as("n_docs"),
          expr("CAST(a div nn AS BIGINT)").as("var_prop_q2"),
          expr("CAST(b * b div (CAST(nn AS DECIMAL(38,0)) * nn) AS BIGINT)")
            .as("var_neyman_q2"),
          expr("""CAST(CASE WHEN a > 0
                | THEN (a * nn - b * b) * 10000
                |      div (a * CAST(nn AS DECIMAL(38,0)))
                | END AS BIGINT)""".stripMargin).as("neyman_gain_bp"))
    },

    // ---- watermark-lateness audit (q219): replay the event stream in
    //      a simulated ingest order (event time + content-addressed
    //      0-10 min jitter — multi-source interleaving) and measure, for
    //      each candidate watermark delay, how many events the running
    //      event-time high-water mark would DROP — the tuning table
    //      behind every `withWatermark` delay choice (StreamOps defaults
    //      to 30 min; this is where that number comes from). The running
    //      max runs on Scale.prefixMaxLongBy — range partition +
    //      broadcast prefix maxes, NO single-partition window, so the
    //      replay survives a 100× stream history. ----
    QueryDef(
      "q219_watermark_audit",
      s"""WITH e AS (
         |  SELECT event_id, epoch_us(ts) AS tus,
         |         epoch_us(ts) + (${OracleSql.md5Long(
                    "'jit:' || CAST(event_id AS VARCHAR)")} % 600)
         |           * 1000000 AS arr_us
         |  FROM events),
         |w AS (
         |  SELECT tus, max(tus) OVER (ORDER BY arr_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
         |  FROM e),
         |l AS (SELECT wm - tus AS late_us FROM w),
         |d AS (SELECT unnest([60, 300, 600, 900]) AS delay_s)
         |SELECT CAST(d.delay_s AS BIGINT) AS delay_s,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(CASE WHEN late_us > d.delay_s * 1000000
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(CAST(sum(CASE WHEN late_us > d.delay_s * 1000000
         |              THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
         |            // count(*) AS BIGINT) AS dropped_ppm
         |FROM d CROSS JOIN l GROUP BY 1 ORDER BY 1""".stripMargin) {
      (s, dir) =>
      val ev = Tables.eventsTs(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("tus"))
        .withColumn("arr_us", col("tus") +
          pmod(TextAnalysis.md5Long(concat(lit("jit:"),
            col("event_id").cast("string"))), lit(600L)) * 1000000L)
      Scale.prefixMaxLongBy(ev, Seq("arr_us", "event_id"), "tus", "wm")
        .select((col("wm") - col("tus")).as("late_us"))
        .select(explode(typedLit(Seq(60L, 300L, 600L, 900L)))
          .as("delay_s"), col("late_us"))
        .groupBy("delay_s")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > col("delay_s") * 1000000L, 1L)
            .otherwise(0L)).as("n_dropped"))
        .select(col("delay_s"), col("n_events"), col("n_dropped"),
          expr("n_dropped * 1000000 div n_events").as("dropped_ppm"))
        .orderBy("delay_s")
    },

    // ---- IDF-weighted set similarity (q220): jaccard where each token
    //      counts by its corpus rarity — two docs sharing "the" are not
    //      similar, two sharing a rare identifier are. The scorer the
    //      plain-jaccard dedup paths (q31/q91) upgrade to when common
    //      boilerplate tokens dominate; scored here on the planted-twin
    //      pair set (candidate generation stays q31's job — q97's
    //      framing). Weights = round(1e6·ln((N+1)/(df+1))) quantized
    //      per token BEFORE the per-pair sums; df table broadcast. ----
    QueryDef(
      "q220_idf_jaccard",
      s"""WITH base AS (
         |  SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
         |n AS (SELECT count(*) AS n FROM base),
         |dfq AS (
         |  SELECT tok, count(*) AS df FROM (
         |    SELECT doc_id, unnest(toks) AS tok FROM base) x
         |  GROUP BY 1),
         |pa AS (
         |  SELECT doc_id AS pair_id, unnest(toks) AS tok, 1 AS in_a, 0 AS in_b
         |  FROM base WHERE doc_id < 10),
         |pb AS (
         |  SELECT doc_id AS pair_id, unnest(toks || ['graftidfx']) AS tok,
         |         0 AS in_a, 1 AS in_b
         |  FROM base WHERE doc_id < 10),
         |u AS (
         |  SELECT pair_id, tok, max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM (SELECT * FROM pa UNION ALL SELECT * FROM pb) t
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT u.pair_id, u.in_a, u.in_b,
         |         CAST(round(1000000 * ln(CAST(n.n + 1 AS DOUBLE)
         |           / (coalesce(dfq.df, 0) + 1))) AS BIGINT) AS wq
         |  FROM u LEFT JOIN dfq ON dfq.tok = u.tok CROSS JOIN n)
         |SELECT pair_id AS id_a, pair_id + 1000000 AS id_b,
         |       CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
         |       CAST(count(*) AS BIGINT) AS n_union,
         |       CAST(CAST(sum(in_a * in_b) AS HUGEINT) * 10000
         |            // count(*) AS BIGINT) AS jacc_bp,
         |       CAST(CAST(sum(in_a * in_b * wq) AS HUGEINT) * 10000
         |            // CAST(sum(wq) AS HUGEINT) AS BIGINT) AS widf_bp
         |FROM w GROUP BY 1, 2 ORDER BY id_a""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(TextAnalysis.wsTokens(col("text"))).as("toks"))
        .localCheckpoint() // df table + both pair sides read this
      val n = base.agg(count(lit(1)).as("n"))
      val dfq = base.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val pa = base.filter(col("doc_id") < 10)
        .select(col("doc_id").as("pair_id"), explode(col("toks")).as("tok"),
          lit(1L).as("in_a"), lit(0L).as("in_b"))
      val pb = base.filter(col("doc_id") < 10)
        .select(col("doc_id").as("pair_id"),
          explode(concat(col("toks"), array(lit("graftidfx")))).as("tok"),
          lit(0L).as("in_a"), lit(1L).as("in_b"))
      pa.union(pb)
        .groupBy("pair_id", "tok")
        .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
        .join(broadcast(dfq), Seq("tok"), "left_outer")
        .crossJoin(broadcast(n))
        .select(col("pair_id"), col("in_a"), col("in_b"),
          round(lit(1000000) * log((col("n") + lit(1)).cast("double")
            / (coalesce(col("df"), lit(0L)) + lit(1)))).cast("long")
            .as("wq"))
        .groupBy(col("pair_id").as("id_a"))
        .agg(sum(col("in_a") * col("in_b")).as("n_inter"),
          count(lit(1)).as("n_union"),
          sum(col("in_a") * col("in_b") * col("wq")).as("iw"),
          sum("wq").as("uw"))
        .select(col("id_a"), (col("id_a") + 1000000L).as("id_b"),
          col("n_inter"), col("n_union"),
          expr("n_inter * 10000 div n_union").as("jacc_bp"),
          expr("iw * 10000 div uw").as("widf_bp"))
        .orderBy("id_a")
    },

    // ---- local clustering coefficient (q221): per-node
    //      2·tri/(d·(d−1)) over the co-purchase graph — triangles
    //      (q154) say how cliquish the graph is; THIS says which nodes
    //      sit in cliques (spam rings cluster, organic hubs don't).
    //      Same degree-ordered wedge join, each triangle then credits
    //      its three vertices. ----
    QueryDef(
      "q221_local_clustering",
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey % 3 = 0 AND l_partkey % 2 = 0),
        |e0 AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.a ELSE e0.b END AS src,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
        |              THEN e0.b ELSE e0.a END AS dst
        |  FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b),
        |w AS (SELECT e1.src AS s, e1.dst AS w1, e2.dst AS w2
        |      FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
        |tri AS (
        |  SELECT n, count(*) AS n_tri FROM (
        |    SELECT unnest([s, w1, w2]) AS n
        |    FROM w JOIN e0 ON e0.a = w.w1 AND e0.b = w.w2) t
        |  GROUP BY 1)
        |SELECT deg.n, CAST(deg.d AS BIGINT) AS d,
        |       CAST(coalesce(tri.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST(CASE WHEN deg.d >= 2 THEN
        |         CAST(10000 * 2 * coalesce(tri.n_tri, 0) AS HUGEINT)
        |           // (deg.d * (deg.d - 1)) END AS BIGINT) AS lcc_bp
        |FROM deg LEFT JOIN tri ON tri.n = deg.n
        |ORDER BY deg.n""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 3 === 0 && col("l_partkey") % 2 === 0)
        .select("l_orderkey", "l_partkey")
      val e = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("u"), col("y.l_partkey").as("v"))
      graft.graph.Graph.localClustering(e).orderBy("n")
    },

    // ---- C4 line-level cleaning (q222): Raffel JMLR 2020 §2.2 — keep
    //      a line only if it ends in terminal punctuation, has ≥5
    //      words, and doesn't mention "javascript"; drop the whole page
    //      on "lorem ipsum"/"{" or when <3 lines survive. The corpus
    //      has no newlines, so the query PLANTS deterministic line
    //      structure (8-token lines; md5-parity terminal punctuation;
    //      marker plants on doc_id strata — the q57 planted-PII
    //      pattern), then runs TextAnalysis.c4LineFilter: pure
    //      higher-order array expressions, ONE narrow scan, no explode/
    //      shuffle — the oracle rebuilds the same lines relationally
    //      and replays every rule. ----
    QueryDef(
      "q222_c4_line_filter",
      s"""WITH tk AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, $toksSql AS toks FROM documents) x
         |  WHERE len(toks) > 0),
         |ix AS (
         |  SELECT doc_id, toks,
         |         unnest(range((len(toks) + 7) // 8)) AS i
         |  FROM tk),
         |l0 AS (
         |  SELECT doc_id, i,
         |         array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS line
         |  FROM ix),
         |l1 AS (
         |  SELECT doc_id, i,
         |         CASE WHEN doc_id % 7 = 0 AND i = 0
         |                THEN line || ' javascript'
         |              WHEN doc_id % 13 = 0 AND i = 1 THEN line || ' {'
         |              WHEN doc_id % 17 = 0 AND i = 2
         |                THEN line || ' lorem ipsum'
         |              ELSE line END AS line
         |  FROM l0),
         |l2 AS (
         |  SELECT doc_id, i,
         |         line || CASE WHEN ${OracleSql.md5Long("line")} % 3 = 0
         |                      THEN '' ELSE '.' END AS line
         |  FROM l1),
         |lw AS (
         |  SELECT doc_id, i, line,
         |         len(list_filter(string_split_regex(line, '\\s+'),
         |             w -> w <> '')) AS nw
         |  FROM l2),
         |kept AS (
         |  SELECT * FROM lw
         |  WHERE (ends_with(line, '.') OR ends_with(line, '!')
         |         OR ends_with(line, '?') OR ends_with(line, '"'))
         |    AND nw >= 5 AND NOT contains(line, 'javascript')),
         |alld AS (
         |  SELECT doc_id, count(*) AS n_lines,
         |         max(CASE WHEN contains(line, 'lorem ipsum')
         |                    OR contains(line, '{') THEN 1 ELSE 0 END) AS ban
         |  FROM l2 GROUP BY 1),
         |kd AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         CAST(sum(nw) AS BIGINT) AS kept_tokens,
         |         CAST(len(array_to_string(list(line ORDER BY i), chr(10)))
         |           AS BIGINT) AS clean_chars
         |  FROM kept GROUP BY 1)
         |SELECT a.doc_id, CAST(a.n_lines AS BIGINT) AS n_lines,
         |       CAST(kd.n_kept AS BIGINT) AS n_kept,
         |       kd.kept_tokens, kd.clean_chars
         |FROM alld a JOIN kd USING (doc_id)
         |WHERE a.ban = 0 AND kd.n_kept >= 3
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = col("toks")
      val lineAt = (i: org.apache.spark.sql.Column) => {
        val raw = array_join(slice(toks, i * 8 + 1, lit(8)), " ")
        val planted =
          when(col("doc_id") % 7 === 0 && i === 0,
            concat(raw, lit(" javascript")))
          .when(col("doc_id") % 13 === 0 && i === 1, concat(raw, lit(" {")))
          .when(col("doc_id") % 17 === 0 && i === 2,
            concat(raw, lit(" lorem ipsum")))
          .otherwise(raw)
        concat(planted,
          when(TextAnalysis.md5Long(planted) % 3 === 0, lit(""))
            .otherwise(lit(".")))
      }
      val lineWords = (l: org.apache.spark.sql.Column) =>
        size(filter(split(l, "\\s+"), w => w =!= "")).cast("long")
      val lined = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("toks"))
        .filter(size(toks) > 0)
        .select(col("doc_id"),
          transform(
            sequence(lit(0), shiftright(size(toks) + 7, 3) - 1),
            lineAt).as("lines"))
      TextAnalysis.c4LineFilter(lined)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          aggregate(col("kept_lines"), lit(0L), (a, l) => a + lineWords(l))
            .as("kept_tokens"),
          length(array_join(col("kept_lines"), "\n")).cast("long")
            .as("clean_chars"))
        .orderBy("doc_id")
    }.copy(headline = true),

    // ---- golden-record survivorship (q224): the MDM merge AFTER
    //      near-dup clustering — q123 keeps one best ROW per cluster,
    //      this MERGES the cluster field-wise (modal source with
    //      deterministic ties, longest-text member, breadth stats).
    //      Clusters are q60's connected components over the planted-twin
    //      corpus; oracle replays closure + two-level argmax idioms
    //      exactly. ----
    QueryDef(
      "q224_survivorship",
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' graftplantedtail', source
         |  FROM documents WHERE doc_id < 10),
         |t AS (SELECT doc_id, $toksSql AS toks FROM d),
         |${shingle3Cte("t")},
         |${bruteJaccardCtes("0.7")},
         |$closureCtes,
         |cl AS (SELECT id, least(id, min(r)) AS cluster_id
         |       FROM reach GROUP BY id),
         |mem AS (
         |  SELECT cl.cluster_id, d.doc_id, len(d.text) AS tc,
         |         d.source AS src
         |  FROM cl JOIN d ON d.doc_id = cl.id),
         |per AS (
         |  SELECT cluster_id, count(*) AS n_members, min(doc_id) AS rep_id,
         |         count(DISTINCT src) AS n_sources,
         |         CAST(sum(tc) AS BIGINT) AS total_chars
         |  FROM mem GROUP BY 1),
         |gt0 AS (SELECT cluster_id, max(tc) AS mtc FROM mem GROUP BY 1),
         |gt AS (
         |  SELECT m.cluster_id, min(m.doc_id) AS golden_text_id,
         |         CAST(min(g.mtc) AS BIGINT) AS golden_text_chars
         |  FROM mem m JOIN gt0 g
         |    ON g.cluster_id = m.cluster_id AND m.tc = g.mtc
         |  GROUP BY 1),
         |cs AS (SELECT cluster_id, src, count(*) AS cnt
         |       FROM mem GROUP BY 1, 2),
         |cm AS (SELECT cluster_id, max(cnt) AS mc FROM cs GROUP BY 1),
         |sv AS (
         |  SELECT cs.cluster_id, min(cs.src) AS src_mode
         |  FROM cs JOIN cm
         |    ON cm.cluster_id = cs.cluster_id AND cs.cnt = cm.mc
         |  GROUP BY 1)
         |SELECT p.cluster_id, CAST(p.n_members AS BIGINT) AS n_members,
         |       p.rep_id, sv.src_mode,
         |       CAST(p.n_sources AS BIGINT) AS n_sources,
         |       gt.golden_text_id, gt.golden_text_chars, p.total_chars
         |FROM per p JOIN sv USING (cluster_id) JOIN gt USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text", "source")
      val twins = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftplantedtail")).as("text"),
          col("source"))
      val corpus = base.union(twins)
      val pairs = Dedup.nearDupPairs(
          corpus.select("doc_id", "text"), threshold = 0.7)
        .select("id_a", "id_b")
      Dedup.goldenRecords(corpus, pairs).orderBy("cluster_id")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- URL canonicalization dedup (q225): the web-crawl dedup key —
    //      scheme/host case, default ports, fragments, utm_* tracking
    //      params and query-param order all vary for the SAME page, and
    //      byte-exact URL dedup misses the family. Deterministic URL
    //      plant (case/port/fragment vary on doc_id strata), then
    //      TextAnalysis.urlCanonicalize — pure split/filter/sort
    //      expressions in the scan stage — and a family report. ----
    QueryDef(
      "q225_url_canon",
      """WITH u AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
        |         || '://'
        |         || (CASE WHEN doc_id % 4 < 2 THEN 'WWW.SITE'
        |                  ELSE 'www.site' END)
        |         || CAST(doc_id % 50 AS VARCHAR) || '.COM'
        |         || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |         || (CASE WHEN doc_id % 7 = 0 THEN ''
        |             ELSE '/Path' || CAST(doc_id % 20 AS VARCHAR) || '/' END)
        |         || '?utm_source=feed&b=' || CAST(doc_id % 4 AS VARCHAR)
        |         || '&a=1'
        |         || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)
        |           AS raw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, raw, canon FROM (
        |    SELECT doc_id, raw,
        |      scheme || '://' || host ||
        |      (CASE WHEN port IS NOT NULL
        |            AND NOT ((scheme = 'https' AND port = '443')
        |                  OR (scheme = 'http' AND port = '80'))
        |            THEN ':' || port ELSE '' END) || path ||
        |      (CASE WHEN len(keep) > 0
        |            THEN '?' || array_to_string(keep, '&') ELSE '' END)
        |        AS canon
        |    FROM (
        |      SELECT doc_id, raw,
        |        lower(string_split(nf, '://')[1]) AS scheme,
        |        lower(string_split(hp, ':')[1]) AS host,
        |        string_split(hp, ':')[2] AS port,
        |        string_split(pq, '?')[1] AS path,
        |        list_sort(list_filter(
        |          string_split(string_split(pq, '?')[2], '&'),
        |          p -> NOT starts_with(p, 'utm_') AND p <> '')) AS keep
        |      FROM (
        |        -- authority ends at the FIRST of '/','?' — mirrors the
        |        -- engine's query-without-path handling
        |        SELECT doc_id, raw, nf, rest,
        |          regexp_split_to_array(rest, '[/?]')[1] AS hp,
        |          substr(rest, len(regexp_split_to_array(rest, '[/?]')[1]) + 1) AS pq
        |        FROM (
        |          SELECT doc_id, raw, regexp_replace(raw, '#.*', '') AS nf,
        |            string_split(regexp_replace(raw, '#.*', ''), '://')[2]
        |              AS rest
        |          FROM u) x) y) z))
        |SELECT canon AS canon_url, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT raw) AS BIGINT) AS n_variants,
        |       min(doc_id) AS rep_doc
        |FROM c GROUP BY 1 ORDER BY canon_url""".stripMargin) { (s, dir) =>
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 4 < 2, lit("WWW.SITE")).otherwise(lit("www.site")),
        (col("doc_id") % 50).cast("string"), lit(".COM"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        // every 7th doc has a query but NO path — the crawl shape that
        // pins the '?'-terminates-authority rule
        when(col("doc_id") % 7 === 0, lit(""))
          .otherwise(concat(lit("/Path"), (col("doc_id") % 20).cast("string"),
            lit("/"))),
        lit("?utm_source=feed&b="), (col("doc_id") % 4).cast("string"),
        lit("&a=1"),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          TextAnalysis.urlCanonicalize(col("raw")).as("canon"))
        .groupBy(col("canon").as("canon_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw")).as("n_variants"),
          min("doc_id").as("rep_doc"))
        .orderBy("canon_url")
    },

    // ---- sampled silhouette (q226): the geometry-only cluster-quality
    //      audit for the k-means family — ARI (q194) needs ground
    //      truth, silhouette doesn't. Labels are q61's deterministic
    //      2-round Lloyd (SHARED oracle CTEs, so the clustering cannot
    //      drift); per sampled vector a/b are floor-div means of
    //      round(sqrt(Σ Δ²)) micro-distances and s_bp gets an explicit
    //      floor (b−a is signed). Work = sample × corpus by
    //      construction — the sample is the knob. ----
    QueryDef(
      "q226_silhouette",
      s"""WITH ev AS (
         |  SELECT vec_id, embedding,
         |         ${OracleSql.md5Long("CAST(vec_id AS VARCHAR)")} % 16
         |           AS cluster
         |  FROM embeddings),
         |${centroidCte("ev", "cent0")},
         |${assignCte("cent0", "a1")},
         |${centroidCte("a1", "cent1")},
         |${assignCte("cent1", "a2")},
         |q AS (
         |  SELECT vec_id, cluster,
         |         list_transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
         |           AS e
         |  FROM a2),
         |sm AS (SELECT * FROM q WHERE vec_id < 100),
         |p AS (
         |  SELECT sm.vec_id AS i, sm.cluster AS ci, q.cluster AS cj,
         |         CAST(round(sqrt(CAST(list_sum(list_transform(
         |             range(1, len(sm.e) + 1),
         |             ix -> (sm.e[ix] - q.e[ix]) * (sm.e[ix] - q.e[ix])))
         |           AS DOUBLE))) AS BIGINT) AS d
         |  FROM sm JOIN q ON q.vec_id <> sm.vec_id),
         |per AS (
         |  SELECT i, ci, cj, CAST(sum(d) AS BIGINT) AS sd, count(*) AS cnt
         |  FROM p GROUP BY 1, 2, 3),
         |ab AS (
         |  SELECT i, ci,
         |         max(CASE WHEN cj = ci THEN sd // cnt END) AS a_micro,
         |         min(CASE WHEN cj <> ci THEN sd // cnt END) AS b_micro
         |  FROM per GROUP BY 1, 2)
         |SELECT i AS vec_id, ci AS cluster,
         |       CAST(a_micro AS BIGINT) AS a_micro,
         |       CAST(b_micro AS BIGINT) AS b_micro,
         |       CAST(CASE WHEN a_micro IS NULL OR b_micro IS NULL
         |                   OR greatest(a_micro, b_micro) = 0 THEN 0
         |            ELSE (num - ((num % den + den) % den)) // den END
         |         AS BIGINT) AS s_bp
         |FROM (SELECT *, 10000 * (b_micro - a_micro) AS num,
         |             greatest(a_micro, b_micro) AS den
         |      FROM ab)
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val labels = Similarity.kmeansLite(emb, k = 16, iters = 2)
      Similarity.silhouetteSampled(emb, labels, col("vec_id") < 100)
        .orderBy("vec_id")
    }.copy(headline = true),

    // ---- mojibake detection + repair (q227): the encoding-damage
    //      cleanup every web pipeline runs (ftfy's core case) — UTF-8
    //      text decoded as Latin-1 turns every accented char into a
    //      2-char digraph ("é" → "Ã©"). Detection is ONE
    //      graft_multi_count automaton pass over the 13-digraph table;
    //      repair is the literal replace chain. Deterministic plant on
    //      doc_id % 9; each repair shrinks the text by exactly one char
    //      per hit, which the oracle asserts structurally. ----
    QueryDef(
      "q227_mojibake", {
        val pats = TextAnalysis.mojibakeMap
        val hitsSql = pats.map { case (m, _) =>
          s"(length(t2) - length(replace(t2, '$m', ''))) // ${m.length}"
        }.mkString(" + ")
        val repairSql = pats.foldLeft("t2") { case (acc, (m, r)) =>
          s"replace($acc, '$m', '$r')"
        }
        s"""WITH d AS (
           |  SELECT doc_id,
           |         text || (CASE WHEN doc_id % 9 = 0
           |                  THEN ' CafÃ© rÃ©sumÃ© naÃ¯ve touchÃ©'
           |                  ELSE '' END) AS t2
           |  FROM documents),
           |m AS (
           |  SELECT doc_id, CAST($hitsSql AS BIGINT) AS n_hits,
           |         CAST(length(t2) AS BIGINT) AS len_before,
           |         CAST(length($repairSql) AS BIGINT) AS len_after
           |  FROM d)
           |SELECT doc_id, n_hits, len_before, len_after
           |FROM m WHERE n_hits > 0 ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val t2 = concat(col("text"),
        when(col("doc_id") % 9 === 0,
          lit(" CafÃ© rÃ©sumÃ© naÃ¯ve touchÃ©")).otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), t2.as("t2"))
        .select(col("doc_id"),
          TextAnalysis.mojibakeCount(col("t2")).as("n_hits"),
          length(col("t2")).cast("long").as("len_before"),
          length(TextAnalysis.mojibakeRepair(col("t2"))).cast("long")
            .as("len_after"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id")
    },

    // ---- dedup method agreement (q306): do MinHash-LSH (the q31
    //      contract: 3-shingle jaccard ≥ 0.7) and winnowing (the q294
    //      contract: ≥2 shared window-4 fingerprints, df ≤ 50) flag the
    //      SAME pairs on the planted-twin corpus? The q273-style
    //      agreement audit for dedup: both methods run end-to-end on
    //      the identical union corpus, the pair sets meet in one
    //      full-outer reconciliation, and the report is (both, only-A,
    //      only-B, overlap bp). Disagreements are the review queue a
    //      production dedup pipeline actually triages. ----
    QueryDef(
      "q306_dedup_agreement", {
        val winnowCtes =
          s"""g AS (
             |  SELECT doc_id,
             |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |              ELSE list_transform(range(1, len(toks) - 1),
             |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
             |  FROM t),
             |h AS (
             |  SELECT doc_id,
             |         list_transform(sh, x -> ${OracleSql.md5Long("x")}) AS hs
             |  FROM g),
             |f AS (
             |  SELECT doc_id, unnest(
             |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
             |         ELSE list_distinct(list_transform(range(1, len(hs) - 2),
             |              i -> list_min(hs[i:i+3]))) END) AS fp
             |  FROM h),
             |dfc AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
             |ff AS (SELECT doc_id, fp FROM f JOIN dfc USING (fp)),
             |wp AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
        s"""WITH ${twinDocsCtes("graftagreetail")},
           |${shingle3Cte("t")},
           |${bruteJaccardCtes("0.7")},
           |$winnowCtes,
           |mh AS (SELECT id_a, id_b FROM pr)
           |SELECT nm AS n_minhash, nw AS n_winnow, nb AS n_both,
           |       nm - nb AS n_only_minhash, nw - nb AS n_only_winnow,
           |       CAST(10000 * nb // greatest(nm + nw - nb, 1) AS BIGINT) AS overlap_bp
           |FROM (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM mh) AS nm,
           |  (SELECT CAST(count(*) AS BIGINT) FROM wp) AS nw,
           |  (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN wp USING (id_a, id_b)) AS nb)""".stripMargin
      }) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val twins = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" graftagreetail")).as("text"))
      val uni = docs.union(twins).localCheckpoint() // both methods scan it
      val mh = graft.dedup.Dedup.nearDupPairs(uni, threshold = 0.7)
        .select("id_a", "id_b")
      val fps = uni.select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.graftWinnow(
          graft.functions.GramHashFunctions
            .graftGramMd5(TextAnalysis.wsTokens(col("text")), 3), 4)).as("fp"))
      val capped = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
          .select("fp"), "fp")
        .localCheckpoint() // both self-join sides read it
      val wp = capped.as("a").join(capped.as("b"), Seq("fp"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("nfp"))
        .filter(col("nfp") >= 2)
        .select("id_a", "id_b")
      val joined = mh.withColumn("inmh", lit(1))
        .join(wp.withColumn("inwp", lit(1)), Seq("id_a", "id_b"), "full_outer")
      joined.agg(
        sum(when(col("inmh") === 1, 1L).otherwise(0L)).as("n_minhash"),
        sum(when(col("inwp") === 1, 1L).otherwise(0L)).as("n_winnow"),
        sum(when(col("inmh") === 1 && col("inwp") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("inmh") === 1 && col("inwp").isNull, 1L).otherwise(0L)).as("n_only_minhash"),
        sum(when(col("inwp") === 1 && col("inmh").isNull, 1L).otherwise(0L)).as("n_only_winnow"))
        .selectExpr("n_minhash", "n_winnow", "n_both", "n_only_minhash", "n_only_winnow",
          "CAST(10000 * n_both div greatest(n_minhash + n_winnow - n_both, 1L) AS BIGINT) AS overlap_bp")
    }.copy(headline = true), // sweep slow-tail promotion (round 7)

    // ---- IVF probe-sweep tuning curve (q319): recall@10 vs nprobe ∈
    //      {1,2,4,8} against the exact brute-force truth — the q286 LSH
    //      tuning report's IVF sibling, and the knob table an index
    //      rollout reads ("how many buckets must I probe for 95%
    //      recall"). Truth is computed ONCE and pinned; each probe
    //      level is an independent bucket-pruned search whose entire
    //      build+probe the oracle replays (the q46/q110 mirrors,
    //      parameterized). Scale: candidate surface per level is
    //      nprobe/nBuckets of the corpus — the sweep measures exactly
    //      the recall that pruning fraction buys. ----
    QueryDef(
      "q319_ivf_tuning", {
        val levels = Seq(1, 2, 4, 8)
        val hitCtes = levels.map { np =>
          s"""h$np AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n
             |  FROM (${ivfOracleSqlAt(np)}) i
             |  JOIN bf b ON b.query_id = i.query_id
             |           AND b.neighbor_id = i.neighbor_id)""".stripMargin
        }.mkString(",\n")
        // recall denominator = |truth set|, measured not assumed: with 5
        // queries × k=10 it is 50 on this corpus, but a tiny or
        // tie-exhausted corpus yields fewer truth rows and the literal
        // would silently mislabel the metric
        val rows = levels.map(np =>
          s"SELECT $np AS nprobe, n AS n_hits, CAST(n * 10000 // den AS BIGINT) AS recall_bp FROM h$np CROSS JOIN bfn")
          .mkString(" UNION ALL ")
        s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
           |            FROM embeddings WHERE vec_id < 5),
           |bf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.query_id, e.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.query_id
           |             ORDER BY ${cosineSql("q.q_embedding", "e.embedding")} DESC,
           |                      e.vec_id) AS rank
           |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
           |  WHERE rank <= 10),
           |bfn AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS den FROM bf),
           |$hitCtes
           |SELECT nprobe, n_hits, recall_bp FROM ($rows) u
           |ORDER BY nprobe""".stripMargin
      }) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val bf = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint() // the truth set; every probe level joins it
      // measured recall denominator (1-row aggregate), mirroring bfn
      val bfn = bf.agg(greatest(count(lit(1)), lit(1L)).as("den"))
      // build the IVF index ONCE (guide §2.4 remove redundant work):
      // every probe level previously re-ran the identical bucket
      // assignment + centroid aggregation (a full corpus agg of 64
      // quantized element sums, plus a dim-probe job, per level — 4×).
      // Centroids pin (16 rows); the bucketed corpus stays lazy (a
      // scan + one hash per row — cheaper to re-scan than to
      // materialize corpus-sized embedding rows). Quantized means are
      // order-independent, so sharing cannot change any level's result.
      val bucketed = emb.withColumn("bucket",
        Similarity.ivfBucket(col("vec_id"), 16))
      val cents = Similarity.coarseCentroids(emb, 16).localCheckpoint()
      Seq(1, 2, 4, 8).map { np =>
        Similarity.ivfTopKPrebuilt(bucketed, cents, queries, k = 10, nprobe = np)
          .select("query_id", "neighbor_id")
          .join(bf, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(broadcast(bfn))
          .selectExpr(s"$np AS nprobe", "n_hits",
            "CAST(n_hits * 10000 div den AS BIGINT) AS recall_bp")
      }.reduce(_ unionByName _).orderBy("nprobe")
    }.copy(headline = true) // sweep slow-tail promotion (round 7, tier 2)
  )

  /** q201's banned-phrase list (ASCII, so byte order == string order on
    * both engines; includes a zero-hit term to pin the no-match path).
    * (def, not val: `defs` above initializes first.)
    */
  private[operators] def blocklistTerms: Seq[String] = Seq(
    "big table", "crash", "slow scan", "stream merge", "vector",
    "window window")

  /** q208's planted Spanish-marker suffix — long enough to dominate the
    * tail half of any corpus doc. (def, not val: `defs` initializes
    * first.)
    */
  private def esMixSuffix: String = " el la de que los una" * 10

  /** q211's canary strings: tokens outside the corpus vocabulary, so a
    * hit can only come from a plant. (def, not val: `defs` initializes
    * first.)
    */
  private[operators] def canaries: Seq[String] = Seq(
    "qzcanary alpha kilo nine", "qzcanary bravo lima three",
    "qzcanary charlie mike seven", "qzcanary delta nano one",
    "qzcanary echo oscar five")

  /** CTEs tok/cuts/tk/ci/ch: the FULL CDC chunking replay (rolling
    * 4-gram cut rule, per-doc cut prefix sum, ordered chunk reassembly
    * and hashing) over a relation exposing (doc_id, toks) — ONE spelling
    * shared by q200 (dedup report) and q209 (snapshot novelty) so the
    * boundary rule cannot drift between oracles. Mirrors
    * [[Dedup.cdcChunks]] with w=4, divisor=8 exactly. (def, not val:
    * `defs` above initializes first.)
    */
  private def cdcChunkCtes(from: String): String =
    s"""tok AS (
       |  SELECT doc_id, u.i - 1 AS j, toks[u.i] AS tok
       |  FROM $from, unnest(range(1, len(toks) + 1)) AS u(i)),
       |cuts AS (
       |  SELECT doc_id, u.i - 1 AS j,
       |         CASE WHEN ${OracleSql.md5Long(
                    "array_to_string(toks[u.i-3:u.i], ' ')")} % 8 = 0
       |              THEN 1 ELSE 0 END AS cut
       |  FROM $from, unnest(range(4, len(toks) + 1)) AS u(i)),
       |tk AS (
       |  SELECT tok.doc_id, tok.j, tok.tok, coalesce(cuts.cut, 0) AS cut
       |  FROM tok LEFT JOIN cuts
       |    ON cuts.doc_id = tok.doc_id AND cuts.j = tok.j),
       |ci AS (
       |  SELECT doc_id, j, tok,
       |         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY j
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS chunk_idx
       |  FROM tk),
       |ch AS (
       |  SELECT doc_id, chunk_idx,
       |         ${OracleSql.md5Long(
                  "string_agg(tok, ' ' ORDER BY j)")} AS chunk_hash,
       |         count(*) AS n_tokens
       |  FROM ci GROUP BY 1, 2)""".stripMargin

  /** q149's full SQL replay of PQ train/encode/search (both Lloyd
    * rounds in all 4 subspaces, the per-query distance tables, the
    * subspace-order ADC sum, the top-5 cut) — shared with q155, which
    * wraps it as the approximate side of the recall audit.
    * (def, not val: `defs` above initializes first.)
    */
  private def pqOracleSql: String = pqOracleSqlCut(5)

  /** [[pqOracleSql]] with a parameterized top-k cut — q155's refine
    * stage consumes the `shortlist`-deep (rank ≤ 100) form. */
  private def pqOracleSqlCut(cut: Int): String = {
        def cbCte(from: String, out: String): String =
          s"""${out}_ex AS (
             |  SELECT sub, code, unnest(range(1, len(subemb) + 1)) AS i,
             |         unnest(subemb) AS val
             |  FROM $from),
             |${out}_ce AS (
             |  SELECT sub, code, i,
             |         CAST(CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
             |              / 1000000 / count(*) AS FLOAT) AS v
             |  FROM ${out}_ex GROUP BY sub, code, i),
             |$out AS (SELECT sub, code, list(v ORDER BY i) AS centroid
             |         FROM ${out}_ce GROUP BY sub, code)""".stripMargin
        def pqAssignCte(cb: String, out: String): String =
          s"""$out AS (
             |  SELECT vec_id, sub, subemb, code FROM (
             |    SELECT p.vec_id, p.sub, p.subemb, c.code,
             |           row_number() OVER (PARTITION BY p.vec_id, p.sub
             |             ORDER BY ${l2Sql("p.subemb", "c.centroid")} ASC, c.code) AS rn
             |    FROM pts p JOIN $cb c ON p.sub = c.sub) t
             |  WHERE rn = 1)""".stripMargin
        val initHash = OracleSql.md5Long(
          "CAST(vec_id AS VARCHAR) || '|' || CAST(sub AS VARCHAR)")
        s"""WITH subs AS (SELECT unnest(range(0, 4)) AS sub),
           |pts AS (
           |  SELECT vec_id, sub,
           |         list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS subemb
           |  FROM embeddings CROSS JOIN subs),
           |a0 AS (
           |  SELECT vec_id, sub, subemb,
           |         CAST($initHash % 16 AS INT) AS code
           |  FROM pts),
           |${cbCte("a0", "cb0")},
           |${pqAssignCte("cb0", "a1")},
           |${cbCte("a1", "cb1")},
           |${pqAssignCte("cb1", "a2")},
           |qp AS (
           |  SELECT vec_id AS query_id, sub,
           |         list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS qsub
           |  FROM embeddings CROSS JOIN subs WHERE vec_id < 8),
           |dtab AS (
           |  SELECT q.query_id, q.sub, c.code, ${l2Sql("q.qsub", "c.centroid")} AS d
           |  FROM qp q JOIN cb1 c ON q.sub = c.sub),
           |sc AS (
           |  SELECT d.query_id, a.vec_id AS neighbor_id,
           |         max(CASE WHEN d.sub = 0 THEN d.d END) AS t0,
           |         max(CASE WHEN d.sub = 1 THEN d.d END) AS t1,
           |         max(CASE WHEN d.sub = 2 THEN d.d END) AS t2,
           |         max(CASE WHEN d.sub = 3 THEN d.d END) AS t3
           |  FROM a2 a JOIN dtab d ON d.sub = a.sub AND d.code = a.code
           |  WHERE d.query_id <> a.vec_id
           |  GROUP BY d.query_id, a.vec_id)
           |SELECT query_id, neighbor_id, adc_d2, rank FROM (
           |  SELECT query_id, neighbor_id,
           |         (((0.0 + t0) + t1) + t2) + t3 AS adc_d2,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY (((0.0 + t0) + t1) + t2) + t3 ASC, neighbor_id) AS rank
           |  FROM sc) t
           |WHERE rank <= $cut
           |ORDER BY query_id, rank""".stripMargin
  }

  /** BM25 CTE chain (tk…top) shared by q127 and q129's fusion input so
    * the scoring SQL cannot drift between them. `top` holds the
    * `limit`-bounded (doc_id, score_q) ranking for query terms
    * ('join','vector','slow'), k1=1.2, b=0.75 — expression trees mirror
    * TextAnalysis.bm25 exactly (incl. the symbolic `(1.2 + 1.0)` add;
    * see the bm25 scaladoc on ulp-safe literals).
    * (def, not val: `defs` above initializes first.)
    */
  private def bm25TopCtes(limit: Int): String =
    s"""tk AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |  FROM t WHERE term IN ('join', 'vector', 'slow')
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n, CAST(sum(len(toks)) AS BIGINT) AS total_dl
       |       FROM tk),
       |sc AS (
       |  SELECT tf.doc_id,
       |         CAST(round(1000000.0
       |           * ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
       |           * (tf.tf * (1.2 + 1.0)
       |              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl
       |                   / (CAST(st.total_dl AS DOUBLE) / st.n))))) AS BIGINT)
       |           AS c_q
       |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
       |top AS (
       |  SELECT doc_id, CAST(sum(c_q) AS BIGINT) AS score_q
       |  FROM sc GROUP BY doc_id
       |  ORDER BY score_q DESC, doc_id LIMIT $limit)""".stripMargin

  /** q130's oracle: per-column null count + exact NDV over lineitem,
    * one SELECT per column UNION ALLed (DuckDB side; the Spark side does
    * it in ONE scan via Expand). (def, not val: `defs` initializes first.)
    */
  private def profileOracleSql(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         |       count(*) AS n_rows
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"

  /** q58's oracle and gram builders, shared with q72's bloom-prefilter
    * variant (AnalyticsQueries) so the "q72 == q58" equality spec always
    * compares ONE definition of the gram set / bench split.
    * (def, not val: `defs` above initializes first — a val here would
    * still be null when the QueryDefs capture it.)
    */
  private[operators] def decontaminationOracleSql: String =
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
       |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 20)
       |SELECT doc_id, count(*) AS n_shared_grams
       |FROM tr JOIN b USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** q46's oracle: the ENTIRE IVF index build + probe + search replayed
    * in SQL. Shared with q82 (AnalyticsQueries), which runs the SAME
    * search through a persisted index — identical results by contract.
    */
  private[operators] def ivfOracleSql: String = ivfOracleSqlAt(4)

  /** [[ivfOracleSql]] parameterized by the probe count (q319 sweeps it). */
  private[operators] def ivfOracleSqlAt(nprobe: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         ${OracleSql.md5Long("CAST(vec_id AS VARCHAR)")} % 16 AS bucket
       |  FROM embeddings),
       |ex AS (
       |  SELECT bucket,
       |         unnest(range(1, len(embedding) + 1)) AS i,
       |         unnest(embedding) AS val
       |  FROM e),
       |ce AS (
       |  SELECT bucket, i,
       |         CAST(CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
       |              / 1000000 / count(*) AS FLOAT) AS v
       |  FROM ex GROUP BY bucket, i),
       |cent AS (SELECT bucket, list(v ORDER BY i) AS centroid FROM ce GROUP BY bucket),
       |q AS (SELECT vec_id AS query_id, embedding AS q_embedding
       |      FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, q_embedding, bucket FROM (
       |    SELECT q.query_id, q.q_embedding, c.bucket,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosineSql("q.q_embedding", "c.centroid")} DESC, c.bucket) AS crank
       |    FROM q CROSS JOIN cent c) t
       |  WHERE crank <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |         ${cosineSql("p.q_embedding", "e.embedding")} AS sim
       |  FROM probes p
       |  JOIN e ON e.bucket = p.bucket AND e.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** (bench gram dictionary, train (doc_id, gram) stream) for q58/q72. */
  private[operators] def decontaminationGrams(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val grams5 = array_distinct(TextAnalysis.shingles(col("text"), 5))
    val bench = docs.filter(col("doc_id") < 20)
      .select(explode(grams5).as("g")).distinct()
    val train = docs.filter(col("doc_id") >= 20)
      .select(col("doc_id"), explode(grams5).as("g"))
    (bench, train)
  }
}
