package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Loaders for the driver-generated testdata star schema (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning applies end-to-end — at 100 TB the scan is the dominant
  * cost and `PushedFilters` + `ReadSchema` pruning is what keeps it sane.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val broadcastable: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events with `ts` normalized to Long nanos-since-epoch — the contract
    * every downstream query was written against. The driver's generator
    * has shipped two physical spellings of this column across rounds:
    * parquet TIMESTAMP(NANOS) (read as Long nanos under
    * spark.sql.legacy.parquet.nanosAsLong) and parquet timestamp[us]
    * (read as TIMESTAMP_NTZ). Both normalize here, so a regeneration
    * flip never propagates past the load boundary. The NTZ instant is
    * naive; with the session pinned UTC, `cast(.. as timestamp_ltz)`
    * interprets it as UTC — exactly how DuckDB's `epoch_us(ts)` reads
    * the same cell, keeping oracle parity.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw // already Long nanos (legacy NANOS parquet)
      case _ =>
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp_ltz)) * 1000"))
    }
  }

  /** events with `ts` as a proper TimestampType (microsecond precision).
    * The raw column is parquet TIMESTAMP(NANOS), which Spark reads as Long
    * nanos-since-epoch under spark.sql.legacy.parquet.nanosAsLong; the
    * sub-microsecond remainder is truncated — queries that cross the
    * DuckDB oracle must only use ≥1µs granularity (they do: date_trunc to
    * hour/day).
    */
  def eventsTs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // integer floor-div, NOT `/` — Spark's `/` is double division, whose
    // round-to-nearest can land 1µs above the truncated value DuckDB's
    // epoch_us produces (observed as an off-by-1µs q75 duration).
    events(spark, dir).withColumn("ts",
      timestamp_micros(expr("ts div 1000")))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Node-id offset that keeps supplier nodes apart from customer nodes
    * in the co-purchase graph. o_custkey reaches 150 000·sf, so the two
    * id ranges stay disjoint up to sf ≈ 6.7·10⁶ (a 1e7 offset merged them
    * from sf ≈ 67). */
  val SupplierNodeOffset = 1000000000000L

  /** The supplier⇄customer co-purchase graph as distinct (s, c) pairs:
    * s = l_suppkey + [[SupplierNodeOffset]], c = o_custkey, one row per
    * supplier that sold to a customer. The one spelling every graph
    * query builds on; `OracleSql.coPurchaseCtes` mirrors it. */
  def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val ord = orders(spark, dir).select("o_orderkey", "o_custkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select((col("l_suppkey") + SupplierNodeOffset).as("s"),
        col("o_custkey").as("c"))
      .distinct()
  }

  /** (s, c) pairs as a directed-both-ways (src, dst) edge list. */
  def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(col("s").as("src"), col("c").as("dst"))
      .union(pairs.select(col("c").as("src"), col("s").as("dst")))

  /** Register every table as a temp view so spark.sql(...) surfaces work. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
