package graft.operators

/** Canonical DuckDB spellings of the engine's portable primitives — ONE
  * definition each, shared by every oracle that mirrors them. Drift in
  * these fragments breaks cross-engine hash parity for whichever oracle
  * holds the stale copy, so new oracles must interpolate these rather
  * than inline the SQL.
  */
object OracleSql {

  /** Mirror of TextAnalysis.md5Long: lower 60 bits of md5 as BIGINT.
    * (DuckDB's CAST of a '0x…' literal parses hex; 15 hex chars keep the
    * value positive and inside BIGINT.)
    */
  def md5Long(e: String): String =
    s"CAST(('0x' || substring(md5($e), 18, 15)) AS BIGINT)"

  /** Mirror of Scale.hashSplit's bucket: md5Long(key|salt) mod 10000. */
  def hashSplitBucket(keySql: String, salt: String): String =
    s"(${md5Long(s"CAST($keySql AS VARCHAR) || '|$salt'")} % 10000)"

  /** Mirror of TextAnalysis.wsTokens over a column/expression. */
  def wsTokens(e: String = "text"): String =
    s"list_filter(string_split_regex($e, '\\s+'), w -> w <> '')"

  /** DuckDB SQL fragment: sequential-double dot product of two float
    * lists — bit-exact with Similarity.dot.
    */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  /** Cosine of two float lists over [[dotSql]]. */
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** CTEs `pairs` (s, c) and `edges` (src, dst): mirror of
    * Tables.coPurchasePairs and Tables.bothWays. */
  val coPurchaseCtes: String =
    s"""pairs AS (
       |  SELECT DISTINCT l_suppkey + ${graft.tables.Tables.SupplierNodeOffset} AS s,
       |         o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT s AS src, c AS dst FROM pairs
       |          UNION ALL SELECT c, s FROM pairs)""".stripMargin

  /** The 3-shingle strings of the token list `toks`, in order (the whole
    * list joined when it has fewer than 3 tokens) — mirror of
    * TextAnalysis.shingles(_, 3) before its dedup. */
  def shingles3Sql(toks: String): String =
    s"""CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       |              ELSE list_transform(range(1, len($toks) - 1),
       |                   i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]) END""".stripMargin

  /** CTEs `g` (doc_id, sh), `h` (doc_id, hs), `f` (doc_id, fp), `dfc` and
    * `ff` (doc_id, fp) over `t` (doc_id, toks): each doc's winnowing
    * fingerprints (the min md5Long of every window of 4 ordered
    * 3-shingle hashes), kept where at most 50 docs share them — mirror
    * of WinnowFunctions.graftWinnow over GramHashFunctions.graftGramMd5
    * with the df cap. */
  val winnowCtes: String =
    s"""g AS (
       |  SELECT doc_id, ${shingles3Sql("toks")} AS sh
       |  FROM t),
       |h AS (
       |  SELECT doc_id,
       |         list_transform(sh, x -> ${md5Long("x")}) AS hs
       |  FROM g),
       |f AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
       |         ELSE list_distinct(list_transform(range(1, len(hs) - 2),
       |              i -> list_min(hs[i:i+3]))) END) AS fp
       |  FROM h),
       |dfc AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
       |ff AS (SELECT doc_id, fp FROM f JOIN dfc USING (fp))""".stripMargin

  /** CTEs `qs` (query_id, q_embedding): the embeddings with vec_id <
    * `nQueries`, and `bf` (query_id, neighbor_id, rank): each query's `k`
    * nearest other embeddings under `orderBy` (an ORDER BY key over
    * `q.q_embedding` and `e.embedding`), ties to the lower vec_id —
    * mirror of Similarity.bruteForceTopK (cosine, the default) and
    * bruteForceTopKL2. */
  def bruteTopKCtes(nQueries: Int, k: Int,
      orderBy: String = s"${cosineSql("q.q_embedding", "e.embedding")} DESC"): String =
    s"""qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
       |       FROM embeddings WHERE vec_id < $nQueries),
       |bf AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY $orderBy, e.vec_id) AS rank
       |    FROM embeddings e JOIN qs q ON q.query_id <> e.vec_id) t
       |  WHERE rank <= $k)""".stripMargin

  /** CTEs `li` (the sampled lineitem keys) and `e0` (u, v): mirror of
    * Tables.partPairs, distinct. */
  val partPairsCtes: String =
    """li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 3 = 0 AND l_partkey % 2 = 0),
      |e0 AS (
      |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      |  FROM li x JOIN li y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""".stripMargin

  /** CTEs `deg` (n, d) and `o` (src, dst) over `e0` (u, v), u < v: each
    * edge oriented from its lower-(degree, id) endpoint — mirror of
    * Graph.degreeOriented. */
  val degreeOrientedCtes: String =
    """deg AS (SELECT n, count(*) AS d FROM (
      |  SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) t GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |              THEN e0.u ELSE e0.v END AS src,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |              THEN e0.v ELSE e0.u END AS dst
      |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v)""".stripMargin

  /** CTE `g` (n, sx, sy, sxy, sxx): the least-squares moment sums of
    * the integer points `p` (x, y) as DECIMAL(38,0) — mirror of
    * CurationQueries.regressionSums. */
  val regressionSumsCte: String =
    """g AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
      |        sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |        sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |        sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
      |        sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
      |      FROM p)""".stripMargin

  /** CTE `d` (day, c): events per UTC day, day in days since the epoch —
    * mirror of CurationQueries.dailyEventCounts. */
  val dailyEventCountsCte: String =
    """d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1)""".stripMargin

  /** CTEs `obs` (source, lang, o), its margins `rt` (source, r) and `ct`
    * (lang, c), and its total `nt` (n): the source×lang contingency
    * table of the documents — mirror of CurationQueries.contingency. */
  val contingencyCtes: String =
    """obs AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY source, lang),
      |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS r
      |       FROM obs GROUP BY source),
      |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c
      |       FROM obs GROUP BY lang),
      |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)""".stripMargin

  /** [[contingencyCtes]] plus `frame` and `j` (source, lang, observed,
    * r, c): every source×lang cell with its margins, observed = 0 where
    * no document has the pair — mirror of CurationQueries.contingencyCells. */
  val contingencyCellsCtes: String =
    s"""$contingencyCtes,
       |frame AS (SELECT rt.source, ct.lang, rt.r, ct.c
       |          FROM rt CROSS JOIN ct),
       |j AS (SELECT f.source, f.lang, coalesce(obs.o, 0) AS observed,
       |        f.r, f.c
       |      FROM frame f LEFT JOIN obs
       |        ON obs.source = f.source AND obs.lang = f.lang)""".stripMargin

  /** CTEs `e` (vec_id, keys…, embedding) and `xq` (vec_id, keys…, i, x):
    * every embedding cell at its 1-based dim i, quantized to micro-units
    * x = round(1000000 · v) — mirror of CurationQueries.quantizedCells. */
  def quantizedCellsCtes(keys: String*): String = {
    val ks = ("vec_id" +: keys).mkString(", ")
    s"""e AS (SELECT $ks, embedding FROM embeddings),
       |xq AS (SELECT $ks,
       |         unnest(range(1, len(embedding) + 1)) AS i,
       |         CAST(round(1000000 * CAST(unnest(embedding) AS DOUBLE))
       |           AS BIGINT) AS x
       |       FROM e)""".stripMargin
  }

  /** CTEs `outdeg`, `nodes`, `seeds` and `r0`–`r3` over an `edges`
    * (src, dst) CTE: three rounds of Graph.personalizedPageRankMicro's
    * integer iteration. `seedsSql` selects the seed ids from `nodes`;
    * plain PageRank (Graph.pageRankMicro) passes every node. */
  def rankCtes(seedsSql: String): String = {
    def round(prev: String, out: String): String =
      s"""i$out AS (
         |  SELECT e.dst AS id, sum(r.rank_micro // o.outdeg) AS inbox
         |  FROM edges e JOIN outdeg o ON e.src = o.src
         |  JOIN $prev r ON r.id = e.src
         |  GROUP BY e.dst),
         |$out AS (
         |  SELECT n.id,
         |         CAST(CASE WHEN sd.id IS NOT NULL THEN 150000 ELSE 0 END
         |              + coalesce(i.inbox, 0) * 85 // 100 AS BIGINT)
         |           AS rank_micro
         |  FROM nodes n
         |  LEFT JOIN seeds sd ON sd.id = n.id
         |  LEFT JOIN i$out i ON n.id = i.id)""".stripMargin
    s"""outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |seeds AS ($seedsSql),
       |r0 AS (SELECT n.id,
       |         CAST(CASE WHEN sd.id IS NOT NULL THEN 1000000 ELSE 0 END
       |           AS BIGINT) AS rank_micro
       |       FROM nodes n LEFT JOIN seeds sd ON sd.id = n.id),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}""".stripMargin
  }

  /** Spark's linear-interpolation percentile at fraction `p` over a
    * 1-indexed DuckDB sorted `list` whose length is the column `n`.
    */
  def pctlSql(list: String, p: String): String =
    s"""(CASE WHEN floor($p * (n - 1)) = ceil($p * (n - 1))
       |      THEN CAST($list[CAST($p * (n - 1) AS BIGINT) + 1] AS DOUBLE)
       |      ELSE (ceil($p * (n - 1)) - $p * (n - 1)) * $list[CAST(floor($p * (n - 1)) AS BIGINT) + 1]
       |         + ($p * (n - 1) - floor($p * (n - 1))) * $list[CAST(ceil($p * (n - 1)) AS BIGINT) + 1]
       |      END)""".stripMargin.replaceAll("\n\\s*", " ")
}
