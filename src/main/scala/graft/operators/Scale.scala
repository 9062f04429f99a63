package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: the shuffle-shaping tools a 100 TB deployment leans
  * on beyond what AQE does automatically.
  */
object Scale {

  /** Two-phase (salted) aggregation for skewed keys: phase 1 aggregates
    * on (key, salt) — spreading a hot key over `salts` reducers — phase 2
    * merges the partials. Correct for any algebraic aggregate expressed
    * as (partialExprs, mergeExprs) pairs; this helper covers the common
    * count/sum case.
    *
    * AQE's skew-join splitting handles join skew at runtime; aggregation
    * skew on a pathological hot key is still the user's to salt — this is
    * that tool.
    */
  def saltedSumCount(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      salts: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(salts)))
      .groupBy(col(keyCol), col("_salt"))
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
      .groupBy(col(keyCol))
      .agg(sum("_psum").as(s"sum_$valueCol"), sum("_pcnt").as("n"))

  /** A running column of [[scan]]: each row gets the aggregate over
    * every row at-or-before it in the scan's order.
    */
  sealed trait Running { def out: String }
  /** Running sum of a LongType column. */
  final case class Sum(value: String, out: String) extends Running
  /** Running max of a LongType column. */
  final case class Max(value: String, out: String) extends Running
  /** 1-based row number: a running sum of ones. */
  final case class RowNumber(out: String) extends Running

  /** Distributed running aggregates over a global order — the scale
    * form of `sum(v) / max(v) / row_number() OVER (ORDER BY k ROWS
    * UNBOUNDED PRECEDING..CURRENT)`, which Spark otherwise executes in
    * ONE partition (the WindowExec "moving all data to a single
    * partition" warning).
    *
    * Shape: range-partition on the order key (global order across
    * partitions, local order within), one job folds every running column
    * per partition, the per-partition totals fold on the driver into
    * exclusive prefixes (O(partitions) values — the same driver-side step
    * Spark's own RangePartitioner takes), the offsets are broadcast
    * back, and every partition accumulates locally — a narrow pass. Any
    * number of running columns share that one pass; they are appended in
    * the order given, as non-null longs. Identical results to the window
    * form for a unique (total-order) key; values must be LongType.
    *
    * Also returns each column's grand total (sum, max or row count)
    * in the same order — free, because the offsets already sit on the
    * driver: callers that would otherwise run an `agg` over the result (a
    * second full pass of the ranked lineage) should take it from here.
    * On empty input a sum or row count is 0 and a max is Long.MinValue.
    */
  def scan(df: DataFrame, orderCols: Seq[String], cols: Running*): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    require(cols.nonEmpty, "scan needs at least one running column")
    val spark = df.sparkSession
    // The range exchange is left for AQE to size (repartitionByRange
    // WITHOUT numPartitions may be coalesced): partition count tracks
    // the DATA, not a constant — a customer-grain rank coalesces to a
    // handful of partitions while a corpus-grain rank keeps
    // shuffle.partitions' parallelism. A fixed count spent (3 jobs ×
    // parts) task launches on every rank pass regardless of input size
    // — the measured reason the rank-fusion queries (q312/q147) ran
    // SLOWER at 32 cores than 8. Coalescing merges ADJACENT range
    // partitions, so the global order and the per-partition prefix
    // offsets below are unaffected.
    val ranged = df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = ranged.schema
    // per running column: the value's field index (-1: a row's 1) and
    // whether it folds by max (else by +)
    val vIdx = cols.map {
      case Sum(v, _) => schema.fieldIndex(v)
      case Max(v, _) => schema.fieldIndex(v)
      case RowNumber(_) => -1
    }.toArray
    val isMax = cols.map(_.isInstanceOf[Max]).toArray
    val zero = isMax.map(m => if (m) Long.MinValue else 0L)
    def fold(acc: Array[Long], j: Int, v: Long): Unit =
      acc(j) = if (isMax(j)) math.max(acc(j), v) else acc(j) + v
    def step(acc: Array[Long], r: Row): Unit = {
      var j = 0
      while (j < acc.length) {
        fold(acc, j, if (vIdx(j) < 0) 1L else r.getLong(vIdx(j)))
        j += 1
      }
    }
    // pin the partitioning: RangePartitioner samples boundaries, so the
    // totals job and the output job must see the SAME layout
    val rdd = ranged.rdd.cache()
    val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = zero.clone()
      it.foreach(step(acc, _))
      Iterator((pid, acc))
    }.collect().sortBy(_._1).map(_._2)
    // exclusive prefix per pid: offsets(pid) folds every EARLIER partition
    val offsets = totals.scanLeft(zero) { (a, b) =>
      val acc = a.clone()
      b.indices.foreach(j => fold(acc, j, b(j)))
      acc
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = bc.value(pid).clone()
      it.map { r => step(acc, r); Row.fromSeq(r.toSeq ++ acc) }
    }
    // localCheckpoint pins the RESULT (eagerly), so the input cache can
    // be released immediately — a lazy return would recompute `out`
    // against freshly re-sampled range boundaries once the cache were
    // gone, silently skewing the offsets; before this, the cache stayed
    // pinned until GC and each invocation held a full-table row cache.
    // Transient cost: input cache + result blocks coexist (~2x the table)
    // until the unpersist below — result blocks are MEMORY_AND_DISK, so
    // the spike spills rather than OOMs; the steady-state footprint is
    // unchanged (one pinned copy either way)
    val result = spark
      .createDataFrame(out,
        cols.foldLeft(schema)((s, c) => s.add(c.out, LongType, nullable = false)))
      .localCheckpoint()
    rdd.unpersist(blocking = false)
    (result, offsets.last.toSeq)
  }

  /** Distributed global row numbering under a composite total order —
    * `row_number() OVER (ORDER BY ...)` without the one-partition window:
    * a [[scan]] with one [[RowNumber]]. Order columns must form a total
    * order (no ties) for the numbering to be well-defined.
    */
  def globalRank(
      df: DataFrame,
      rankCol: String,
      orderCols: String*): DataFrame =
    scan(df, orderCols, RowNumber(rankCol))._1

  /** Exact equi-depth (ntile) bin assignment over a composite total
    * order — the scale form of `ntile(bins) OVER (ORDER BY ...)`, whose
    * window form shuffles every row into ONE partition for the global
    * sort. Here one [[scan]] range-partitions and numbers the rows,
    * then the closed-form ntile rule — the first n mod bins
    * bins get ⌈n/bins⌉ rows, the rest ⌊n/bins⌋ — maps each rank to its
    * bin narrowly against the broadcast total. Identical assignment to
    * the window form for a total order (no ties); adds a 1-based `bin`
    * column.
    */
  def equiDepthBins(df: DataFrame, bins: Int, orderCols: String*): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    // the total is free from the scan offsets — inlining it as a
    // literal drops the broadcast-join-with-agg(max) second pass the
    // previous version ran over the ranked lineage
    val (ranked, Seq(total)) = scan(df, orderCols, RowNumber("_r"))
    ranked
      .withColumn("bin", expr(
        s"""CAST(CASE
           |  WHEN _r <= ($total % $bins) * ($total div $bins + 1)
           |  THEN (_r - 1) div ($total div $bins + 1) + 1
           |  ELSE ($total % $bins)
           |       + (_r - ($total % $bins) * ($total div $bins + 1) - 1)
           |         div ($total div $bins)
           |       + 1
           |END AS INT)""".stripMargin))
      .drop("_r")
  }

  /** Deterministic content-addressed split assignment (train/val/test):
    * each row's split is a pure function of (id, salt), so the
    * assignment is stable across engines, partitionings, reruns, and
    * corpus growth — appending new documents never moves an existing
    * one between splits (the property a random split lacks and a
    * training pipeline cannot live without). Weights are basis points
    * summing to 10000; the row's bucket is md5Long(id|salt) mod 10000
    * (the engine's one hash family; 60 bits mod 10⁴ is uniform to
    * ±2⁻⁴⁶), mirrored in oracle SQL by `OracleSql.hashSplitBucket`.
    *
    * Adds `split_hash` (the full md5 hex — a reproducible global
    * shuffle order for downstream `repartitionByRange(split_hash)`
    * writes) and `split`. Narrow: no shuffle, no state.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      salt: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 10000,
      s"split weights must be basis points summing to 10000, got $splits")
    val key = concat(col(idCol).cast("string"), lit("|" + salt))
    val bucket = pmod(graft.textops.TextAnalysis.md5Long(key), lit(10000L))
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.zip(cum).init
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), hi)) =>
        Some(acc.fold(when(bucket < hi, name))(_.when(bucket < hi, name)))
      }
      .fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn("split_hash", md5(key)).withColumn("split", assign)
  }

  /** Salted fact⋈dim join for hot join keys that AQE's skew splitting
    * can't fix (e.g. one key holding 30% of the fact side AND a dim side
    * too large to broadcast): the fact side picks a random salt per row,
    * the dim side is replicated once per salt value, and the join runs on
    * (key, salt) — a hot key spreads over `salts` reducers. Result is
    * exactly the plain inner join; cost is `salts`× the dim shuffle
    * volume, so keep `salts` modest (8–32).
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      salts: Int = 16): DataFrame = {
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong)))
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Persist a table bucketed by `key` — the on-disk co-location that
    * removes the shuffle from every future join/aggregation on that key
    * (the Spark-native analog of the reference's static R=10 hash
    * partitioning of its shuffle files, made durable).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Exact winsorization: clamp a long-typed `valueCol` at the values of
    * the exact lo/hi percentile RANKS — the outlier-clipping pass every
    * feature pipeline runs before normalization, with approx_percentile's
    * error bars removed. The boundary is "the k-th smallest value" with
    * k = ceil(permille·n/1000) clamped to [1, n]; ties share a value, so
    * the boundary is tie-order independent even though the rank needs a
    * tie-break (`tieCols`) to be a total order.
    *
    * Scale shape: one [[scan]] rank pass (range partition + O(parts)
    * driver offsets — NO single-partition window), a 1-row boundary
    * aggregate broadcast back, and a narrow clamp projection. Appends
    * `<valueCol>_w`.
    */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      loPermille: Int,
      hiPermille: Int,
      tieCols: String*): DataFrame = {
    require(0 <= loPermille && loPermille <= hiPermille && hiPermille <= 1000,
      s"need 0 <= lo <= hi <= 1000, got ($loPermille, $hiPermille)")
    // n comes back with the rank pass (driver-side prefix offsets), so
    // the boundary ranks are plain literals — no agg(max) re-pass, no
    // broadcast-join of the total back onto the ranked table
    val (ranked, Seq(n)) = scan(df, valueCol +: tieCols, RowNumber("_wr"))
    val kLo = math.max(1L, (loPermille * n + 999L) / 1000L)
    val kHi = math.min(n, (hiPermille * n + 999L) / 1000L)
    val bounds = ranked
      .filter(col("_wr") === kLo || col("_wr") === kHi)
      .agg(
        min(when(col("_wr") === kLo, col(valueCol))).as("_lo"),
        max(when(col("_wr") === kHi, col(valueCol))).as("_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Water-filling allocation of an integer token `budget` across
    * sources with capacities `caps(source, cap)`: every source gets an
    * equal share except those whose capacity sits below the water
    * level, which contribute everything. Closed form, all integers:
    * sort by (cap, source), prefix sums, the saturated set is the
    * prefix where cap ≤ the running fair share, and the remainder
    * spreads base/base+1 Hamilton-style (first `extra` unsaturated
    * sources in cap order get +1) so Σ alloc == min(budget, Σ cap)
    * EXACTLY. If the budget exceeds total capacity the surplus is
    * reported in `unallocated` (constant column).
    *
    * `budget`: 1-row frame with a `budget` long column (computed from a
    * corpus aggregate or a literal). Returns (source, cap_tokens,
    * alloc_tokens, saturated, unallocated) — one row per source.
    *
    * Scale shape: runs entirely on the S-row capacity aggregate; the
    * bounded global window is over sources, never corpus rows (q193's
    * apportionment precedent).
    */
  def waterFill(caps: DataFrame, budget: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = caps.agg(count(lit(1)).as("s")).crossJoin(broadcast(budget))
    val w = Window.orderBy("cap", "source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = caps.select(col("source"), col("cap").cast("long").as("cap"),
        row_number().over(Window.orderBy("cap", "source")).as("i"),
        sum(col("cap").cast("long")).over(w).as("pi"))
      .crossJoin(broadcast(b))
      .withColumn("sat_flag",
        expr("""CASE WHEN cap <= greatest(budget - (pi - cap), 0L)
              | div (s - i + 1) THEN 1 ELSE 0 END""".stripMargin))
      .localCheckpoint() // S-row frame read by k, pk, and the projection
    val kdf = f.filter(col("sat_flag") === 0).agg(min("i").as("mi"))
      .crossJoin(broadcast(b))
      .select(coalesce(col("mi") - 1, col("s")).cast("long").as("k"))
    val q = f.crossJoin(broadcast(kdf)).groupBy("k")
      .agg(coalesce(sum(when(col("i") <= col("k"), col("cap"))), lit(0L))
        .as("pk"),
        first("budget").as("budget"), first("s").as("s"))
      .select(col("k"), col("pk"),
        expr("CASE WHEN s > k THEN (budget - pk) div (s - k) ELSE 0 END")
          .as("base"),
        expr("CASE WHEN s > k THEN (budget - pk) % (s - k) ELSE 0 END")
          .as("extra"),
        expr("CASE WHEN s = k THEN budget - pk ELSE 0 END")
          .as("unallocated"))
    f.crossJoin(broadcast(q))
      .select(col("source"), col("cap").as("cap_tokens"),
        expr("""CAST(CASE WHEN i <= k THEN cap
              |     WHEN i - k <= extra THEN base + 1
              |     ELSE base END AS BIGINT)""".stripMargin)
          .as("alloc_tokens"),
        expr("CAST(CASE WHEN i <= k THEN 1 ELSE 0 END AS BIGINT)")
          .as("saturated"),
        col("unallocated").cast("long").as("unallocated"))
  }
}
