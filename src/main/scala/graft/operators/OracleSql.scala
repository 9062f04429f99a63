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
