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
