package graft.tables

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

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

  /** One table version as the schema memo sees it: the qualified path,
    * each file's (path, length, modification time), and the session's
    * parquet type-mapping confs (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`; `nanosAsLong`, for one, decides how a
    * footer maps to Spark types). */
  private final case class Version(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  /** Inferred schema per table version, JVM-wide: it holds one
    * `StructType` per table version ever loaded. */
  private val schemas = new ConcurrentHashMap[Version, StructType]()

  /** Reads `dir/name.parquet` with its memoized schema. Spark's own
    * inference launches one footer-reading job per read, even for a
    * single file; here only the first load of a table version pays it,
    * and every load pays one driver-side listing instead. Loads run
    * concurrently (`graft.Verify`), so the inference runs outside the
    * map and the first schema stored wins.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = version(spark, path)
    val known = schemas.get(key)
    val schema =
      if (known != null) known
      else {
        val inferred = spark.read.parquet(path).schema
        val prior = schemas.putIfAbsent(key, inferred)
        if (prior != null) prior else inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  private def version(spark: SparkSession, path: String): Version = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    Version(fs.makeQualified(p).toString, files.sorted.toSeq, confs.sorted)
  }

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
