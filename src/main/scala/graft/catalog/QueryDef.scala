package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a DataFrame-API query plus the equivalent ANSI
  * SQL that DuckDB runs as the correctness oracle. Every entry
  * has one; `oracle` stays an `Option` because the perfbench harness
  * reads it with `.map`.
  *
  * Contract (see builder prompt): output column names must match between
  * `fn` and `oracle` exactly — the driver sorts columns by name and hashes
  * values. Every aggregate/computed column is therefore aliased the same
  * way on both sides, and results are made deterministic (stable ORDER BY
  * or order-insensitive compare on unique rows).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object QueryDef {
  def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(sql))
}
